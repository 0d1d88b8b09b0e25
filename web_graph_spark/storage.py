"""Wave-partitioned table store with manifest commits.

Iceberg-lite: every engine table is a directory of parquet files
partitioned by the wave that produced them (``<root>/<table>/wave=N/``),
and a wave is visible only after its JSON manifest is written to
``<root>/_checkpoints/wave-N.json``.  This gives us, with plain parquet:

* atomic-enough wave commits (manifest written last);
* crash recovery: on open, partition dirs beyond the last manifest are
  deleted (a re-run of a half-finished wave is a no-op overwrite);
* partition pruning on ``wave`` for resume / incremental reads;
* snapshot-style time travel (``read(name, max_wave=k)``).

``bucketed=True`` additionally stores the BIG immutable sides —
``seen``, ``frontier_log``, ``pages``, ``edges`` — as catalog tables
partitioned by wave AND bucketed+sorted by their join key
(``CLUSTERED BY (key) SORTED BY (key) INTO n BUCKETS``).  The per-wave
anti-joins those tables feed are the one stage whose shuffle volume
grows with accumulated state (10^10 rows at target scale;
BENCH/BASELINE.md identifies that shuffle as the single-box scaling
ceiling).  With both sides bucket-aligned the planner emits a
SortMergeJoin with ZERO Exchange on the stored side(s) — per-wave
shuffle cost becomes proportional to the wave, not to |state|.  On a
real deployment this is the Iceberg partition/sort spec
``bucket(N, page_id)`` (SURVEY.md §4); locally it is parquet
``bucketBy`` through ``saveAsTable`` (bucketed scans require catalog
tables — plain ``.parquet(path)`` reads discard bucket metadata).
Table data still lives under the store root (``option("path")``), the
catalog entry is re-created on open (fresh session resume), and wave
partitions are dropped via ``ALTER TABLE .. DROP PARTITION`` during
crash cleanup — manifest semantics are identical in both layouts.

Keys are sha1 hex (uniform by construction): no bucket skew.
Reference analog: goque LevelDB queue persistence + Postgres
idempotent inserts + indexes
(/root/reference/pkg/linkqueue/linkqueue.go:26,
/root/reference/pkg/linkstorage/linkstorage.go:119-131,412,493).

**Compaction** (``compact()``): a long crawl accretes one partition
dir per table per wave — at 10^4 waves that is ~10^4 dirs × files
each, and every reader lists and opens all of them (file-listing and
footer-read cost grows linearly with crawl age, the classic
small-files problem).  Compaction rewrites a prefix of wave
partitions into *segments* under ``<table>__segments/seg_<lo>_<hi>/``
— plain parquet with ``wave`` as an ordinary column, so ``read()``
(a union of segment scans + live wave dirs) returns bit-identical
rows, and ``max_wave`` time travel still works via the wave column
(parquet min/max prunes whole segments).  Segments are size-tiered
LSM-style: each ``compact()`` folds the live tail into a new segment,
then repeatedly merges the two newest segments while the newest has
grown to within ``merge_factor`` of its neighbor — O(log waves)
segments total, and each wave's bytes are rewritten O(log waves)
times, never O(waves).  Crash-safe in the same manifest spirit: new
segment written first, the ``_segments.json`` marker replaced
atomically, sources deleted last; ``cleanup_uncommitted`` sweeps
half-written segments and already-merged leftovers on open.  In
bucketed mode segments are registered as bucketed catalog tables
(``CLUSTERED BY (key) SORTED BY (key)``), so compacted state keeps
the co-located join layout.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SCHEMAS = {
    "frontier_log": ("page_id string, url string, host string, path string, "
                     "depth int, seq long, parent_page_id string"),
    "seen": "page_id string",
    "pages": "page_id string, host string, path string, url string",
    "edges": ("from_page_id string, to_page_id string, text string, "
              "edge_id string"),
    "crawl_order": "seq long, page_id string",
    "docs_out": ("doc_id string, spans array<struct<kind:string,text:string,"
                 "media_ref:string,offset:int>>"),
    "metrics": ("scope string, partition_id int, key string, value double"),
    # seen-filter tiers (operators/seen.py, one TABLE per tier): one
    # blob row per part, the full state set rewritten per wave
    # (replacement, not delta) — the per-partition checkpoint payload.
    # The part count (n_parts / n_slabs) is persisted in every row so
    # probe/update route by the state's OWN count, never one derived
    # from the current |seen| (a mis-route emits false "definitely
    # new" verdicts — ADVICE r3 #1).
    "cuckoo_state": "shard int, n_parts int, n_keys long, state binary",
    "bloom_state": ("slab int, n_slabs int, n_keys long, capacity long, "
                    "n_bits long, k int, words binary"),
}

# join key each big table is bucketed on (edge_id = from||to — the
# composite anti-join key stored as one column so the bucketed scan's
# partitioning matches the join exactly; concat of fixed-width sha1
# hex is injective).
BUCKET_KEYS = {
    "seen": "page_id",
    "frontier_log": "page_id",
    "pages": "page_id",
    "edges": "edge_id",
}


def _schema_columns(schema: str) -> list[str]:
    """Column names of a DDL schema string (commas inside angle
    brackets — nested struct/array types — don't split)."""
    cols, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            cols.append(schema[start:i].strip().split()[0])
            start = i + 1
    return cols


class WaveStore:
    def __init__(self, spark: SparkSession, root: str,
                 bucketed: bool = False, n_buckets: int = 32):
        self.spark = spark
        self.root = root
        self.bucketed = bucketed
        self.n_buckets = n_buckets
        digest = hashlib.md5(os.path.abspath(root).encode()).hexdigest()[:10]
        self._tbl_prefix = f"wgs_{digest}_"
        # Serializes catalog DDL (CREATE/ALTER/DROP TABLE/PARTITION) so
        # concurrent per-wave writes from driver threads only ever
        # overlap in the data-append stage, never in catalog mutation.
        # RLock: _drop_partition runs both under write()'s critical
        # section and standalone (cleanup, cuckoo GC).
        self._ddl_lock = threading.RLock()
        os.makedirs(self._ckpt_dir, exist_ok=True)
        self.cleanup_uncommitted()
        if self.bucketed:
            # register every bucketed table up front: per-wave writes
            # then run no CREATE DDL, so the three state writes can be
            # submitted concurrently (max(write), not Σ(write) per
            # wave — VERDICT r2 #4).
            for name in BUCKET_KEYS:
                self._ensure_registered(name)

    # -- checkpoints -----------------------------------------------------

    @property
    def _ckpt_dir(self) -> str:
        return os.path.join(self.root, "_checkpoints")

    def committed_wave(self) -> int:
        """Highest wave with a manifest; -2 if none (fresh store).
        Wave -1 is the seed-init commit; crawl waves are 0-based."""
        waves = [int(f[5:-5]) for f in os.listdir(self._ckpt_dir)
                 if f.startswith("wave-") and f.endswith(".json")]
        return max(waves, default=-2)

    def manifest(self, wave: int) -> Optional[dict]:
        p = os.path.join(self._ckpt_dir, f"wave-{wave}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def commit(self, wave: int, **extra) -> None:
        tmp = os.path.join(self._ckpt_dir, f".wave-{wave}.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"wave": wave, **extra}, f)
        os.replace(tmp, os.path.join(self._ckpt_dir, f"wave-{wave}.json"))

    def cleanup_uncommitted(self) -> None:
        """Drop partition dirs past the last manifest (crash leftovers).
        Readers must therefore never scan paths directly without the
        wave filter; mid-session an uncommitted wave=N dir MAY exist
        between a write and its commit (read() always bounds by the
        committed wave unless told otherwise)."""
        committed = self.committed_wave()
        for t in SCHEMAS:
            segs = self._segments(t)
            seg_hi = segs[-1]["hi"] if segs else None
            d = os.path.join(self.root, t)
            if os.path.isdir(d):
                for sub in os.listdir(d):
                    if sub.startswith("wave="):
                        w = int(sub.split("=", 1)[1])
                        # > committed: crashed mid-wave; ≤ seg_hi:
                        # compacted into a segment but the source
                        # deletion crashed — both are re-droppable.
                        if w > committed or (seg_hi is not None
                                             and w <= seg_hi):
                            self._drop_partition(t, w)
            sroot = self._seg_root(t)
            if os.path.isdir(sroot):
                referenced = {s["dir"] for s in segs}
                for sub in os.listdir(sroot):
                    if sub.startswith("seg_") and sub not in referenced:
                        # segment written (or half-written) but never
                        # became visible in the marker, or was merged
                        # away and the delete crashed
                        self._drop_segment(t, {"dir": sub})

    # -- bucketed-catalog plumbing ----------------------------------------

    def _table_name(self, name: str) -> str:
        return self._tbl_prefix + name

    def _is_bucketed(self, name: str) -> bool:
        return self.bucketed and name in BUCKET_KEYS

    def _ensure_registered(self, name: str) -> bool:
        """Make sure the catalog entry for a bucketed table exists
        (created even before any data — per-wave writes are then pure
        appends with no CREATE DDL, which is what lets them run from
        concurrent driver threads); returns whether the table has wave
        data.  Handles fresh-session resume (re-create + repair) and
        stale entries left by a deleted store root (drop + re-create
        clears dead partition metadata)."""
        tbl = self._table_name(name)
        loc = self._dir(name)
        with self._ddl_lock:
            has_data = os.path.isdir(loc) and any(
                s.startswith("wave=") for s in os.listdir(loc))
            if self.spark.catalog.tableExists(tbl):
                if has_data:
                    return True
                self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            key = BUCKET_KEYS[name]
            self.spark.sql(
                f"CREATE TABLE {tbl} ({SCHEMAS[name]}) USING PARQUET "
                f"PARTITIONED BY (wave int) "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                f"INTO {self.n_buckets} BUCKETS "
                f"LOCATION '{loc}'")
            if has_data:
                self.spark.sql(f"MSCK REPAIR TABLE {tbl}")
            return has_data

    def _drop_partition(self, name: str, wave: int) -> None:
        """Remove one wave partition: catalog metadata (if bucketed and
        registered) AND the files."""
        with self._ddl_lock:
            if self._is_bucketed(name) and self.spark.catalog.tableExists(
                    self._table_name(name)):
                self.spark.sql(
                    f"ALTER TABLE {self._table_name(name)} "
                    f"DROP IF EXISTS PARTITION (wave={wave})")
            out = os.path.join(self._dir(name), f"wave={wave}")
            if os.path.isdir(out):
                shutil.rmtree(out)

    # -- table io --------------------------------------------------------

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(self, name: str, df: DataFrame, wave: int) -> None:
        """(Over)write one wave partition of a table — idempotent, so a
        crashed wave can simply be re-run."""
        if self._is_bucketed(name):
            key = BUCKET_KEYS[name]
            with self._ddl_lock:
                # catalog mutation serialized; the data append below
                # runs outside the lock so concurrent writes to
                # different tables overlap in the expensive stage
                self._ensure_registered(name)
                self._drop_partition(name, wave)  # idempotent re-run
            # repartition on the bucket key first: each task then owns
            # whole buckets, so a wave adds n_buckets files, not
            # n_tasks × n_buckets (v1 bucketed writes don't shuffle on
            # their own).
            (df.withColumn("wave", F.lit(wave))
               .repartition(self.n_buckets, key)
               .write.partitionBy("wave")
               .bucketBy(self.n_buckets, key).sortBy(key)
               .option("path", self._dir(name))
               .mode("append").format("parquet")
               .saveAsTable(self._table_name(name)))
            return
        out = os.path.join(self._dir(name), f"wave={wave}")
        df.write.mode("overwrite").parquet(out)

    def discard(self, name: str, wave: int) -> None:
        """Drop one (uncommitted) wave partition — used when a wave
        aborts after its first write (e.g. nothing scheduled)."""
        self._drop_partition(name, wave)

    def prune_waves(self, name: str, before: int) -> None:
        """Drop every wave partition < ``before`` — the GC hook for
        full-replacement tables (the seen-filter tiers' bloom_state /
        cuckoo_state): each wave supersedes all earlier ones, so older
        partitions are dead bytes."""
        for w in self._live_waves(name):
            if w < before:
                self._drop_partition(name, w)

    def read(self, name: str, max_wave: Optional[int] = None) -> DataFrame:
        """Read a table across committed waves (with `wave` column) in
        the canonical SCHEMAS column order — writers may reorder (e.g.
        a USING join moves its key first) and a re-registered catalog
        table uses the declared order, so readers get one stable
        contract.  Rows ≤ the compaction frontier come from segment
        scans, the rest from live wave partitions.  Empty DataFrame
        with the declared schema if nothing written."""
        cols = _schema_columns(SCHEMAS[name]) + ["wave"]
        if max_wave is None:
            max_wave = self.committed_wave()
        segs = self._segments(name)
        seg_hi = segs[-1]["hi"] if segs else None
        parts = [self._read_segment(name, s).select(*cols) for s in segs]

        live = self._live_waves(name)
        if seg_hi is not None:
            live = [w for w in live if w > seg_hi]
        if live:
            if self._is_bucketed(name) and self._ensure_registered(name):
                t = self.spark.table(self._table_name(name))
                lo = min(live)
                parts.append(t.filter(t["wave"] >= lo).select(*cols))
            elif not self._is_bucketed(name):
                d = self._dir(name)
                df = (self.spark.read.option("basePath", d)
                      .parquet(*[os.path.join(d, f"wave={w}") for w in live]))
                parts.append(df.select(*cols))
        if not parts:
            return (self.spark.createDataFrame([], SCHEMAS[name])
                    .withColumn("wave", F.lit(None).cast("int")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.filter(out["wave"] <= max_wave)

    # -- compaction -------------------------------------------------------

    def _seg_root(self, name: str) -> str:
        return os.path.join(self.root, f"{name}__segments")

    def _seg_marker_path(self, name: str) -> str:
        return os.path.join(self._seg_root(name), "_segments.json")

    def _segments(self, name: str) -> list[dict]:
        p = self._seg_marker_path(name)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return json.load(f)["segments"]

    def _write_seg_marker(self, name: str, segments: list[dict]) -> None:
        os.makedirs(self._seg_root(name), exist_ok=True)
        tmp = self._seg_marker_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"segments": segments}, f)
        os.replace(tmp, self._seg_marker_path(name))

    @staticmethod
    def _seg_slug(lo: int, hi: int) -> str:
        return f"seg_{str(lo).replace('-', 'm')}_{str(hi).replace('-', 'm')}"

    def _seg_dir(self, name: str, seg: dict) -> str:
        return os.path.join(self._seg_root(name), seg["dir"])

    def _seg_table(self, name: str, seg: dict) -> str:
        return f"{self._tbl_prefix}{name}__{seg['dir']}"

    def _read_segment(self, name: str, seg: dict) -> DataFrame:
        """Segment scan; in bucketed mode through a (re)registered
        bucketed catalog table so the co-located layout survives
        compaction, else a plain parquet path read."""
        loc = self._seg_dir(name, seg)
        if not self._is_bucketed(name):
            return self.spark.read.parquet(loc)
        tbl = self._seg_table(name, seg)
        with self._ddl_lock:
            if not self.spark.catalog.tableExists(tbl):
                key = BUCKET_KEYS[name]
                self.spark.sql(
                    f"CREATE TABLE {tbl} ({SCHEMAS[name]}, wave int) "
                    f"USING PARQUET "
                    f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                    f"INTO {self.n_buckets} BUCKETS "
                    f"LOCATION '{loc}'")
        return self.spark.table(tbl)

    def _write_segment(self, name: str, df: DataFrame, lo: int,
                       hi: int) -> dict:
        slug = self._seg_slug(lo, hi)
        loc = os.path.join(self._seg_root(name), slug)
        os.makedirs(self._seg_root(name), exist_ok=True)
        cols = _schema_columns(SCHEMAS[name]) + ["wave"]
        df = df.select(*cols)
        if self._is_bucketed(name):
            key = BUCKET_KEYS[name]
            tbl = f"{self._tbl_prefix}{name}__{slug}"
            self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            if os.path.isdir(loc):
                shutil.rmtree(loc)
            (df.repartition(self.n_buckets, key)
               .write.bucketBy(self.n_buckets, key).sortBy(key)
               .option("path", loc).format("parquet")
               .saveAsTable(tbl))
        else:
            df.write.mode("overwrite").parquet(loc)
        size = sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(loc) for f in fs)
        return {"dir": slug, "lo": lo, "hi": hi, "bytes": size}

    def _drop_segment(self, name: str, seg: dict) -> None:
        if self._is_bucketed(name):
            self.spark.sql(
                f"DROP TABLE IF EXISTS {self._seg_table(name, seg)}")
        d = self._seg_dir(name, seg)
        if os.path.isdir(d):
            shutil.rmtree(d)

    def _live_waves(self, name: str) -> list[int]:
        d = self._dir(name)
        if not os.path.isdir(d):
            return []
        return sorted(int(s.split("=", 1)[1]) for s in os.listdir(d)
                      if s.startswith("wave="))

    def compact(self, upto: Optional[int] = None,
                names: Optional[list[str]] = None,
                merge_factor: float = 2.0) -> None:
        """Fold wave partitions ≤ ``upto`` (default: the committed
        wave) into segments, then size-tier-merge.  Call only between
        waves (after a commit) — never while a wave is mid-write."""
        if upto is None:
            upto = self.committed_wave()
        for name in (names or list(SCHEMAS)):
            self._compact_table(name, upto, merge_factor)

    def _compact_table(self, name: str, upto: int,
                       merge_factor: float) -> None:
        segs = self._segments(name)
        seg_hi = segs[-1]["hi"] if segs else None
        live = [w for w in self._live_waves(name)
                if w <= upto and (seg_hi is None or w > seg_hi)]
        if live:
            lo = live[0] if seg_hi is None else seg_hi + 1
            if self._is_bucketed(name) and self._ensure_registered(name):
                t = self.spark.table(self._table_name(name))
                src = t.filter((t["wave"] >= min(live))
                               & (t["wave"] <= upto))
            else:
                d = self._dir(name)
                src = (self.spark.read.option("basePath", d)
                       .parquet(*[os.path.join(d, f"wave={w}")
                                  for w in live]))
            new = self._write_segment(name, src, lo, upto)
            segs = segs + [new]
            self._write_seg_marker(name, segs)      # point of visibility
            for w in live:                          # sources last
                self._drop_partition(name, w)
        # size-tiered merge: newest segment caught up to its neighbor
        while len(segs) >= 2 and (segs[-1]["bytes"] * merge_factor
                                  >= segs[-2]["bytes"]):
            a, b = segs[-2], segs[-1]
            merged_df = self._read_segment(name, a).unionByName(
                self._read_segment(name, b))
            merged = self._write_segment(name, merged_df, a["lo"], b["hi"])
            segs = segs[:-2] + [merged]
            self._write_seg_marker(name, segs)
            for old in (a, b):
                self._drop_segment(name, old)
