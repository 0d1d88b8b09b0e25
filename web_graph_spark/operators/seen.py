"""Probabilistic URL-seen set: persisted bloom or cuckoo filter tiers.

The reference's seen-check is a cache hierarchy in front of an exact
store (TTL map → LRUs → Postgres ``ON CONFLICT DO NOTHING``,
/root/reference/pkg/linkprocessor/linkprocessor.go:80-92,
pkg/linkqueue/linkqueue.go:70, pkg/linkstorage/batchpage.go:30,
linkstorage.go:412,493) — approximate in the hot path, exact at the
storage layer.  This module is the Spark rebuild of that hierarchy: a
persisted, partitioned membership filter in front of the exact
``seen`` table, the shape of the learned-cuckoo-filter design (SIGMOD
2023).  Candidates the filter rejects are definitely new and skip the
anti-join shuffle; only the maybe-seen slice pays the exact
``seen`` anti-join, so results are bit-identical to the exact path.

Two tiers share one interface (``seen_mode="bloom"|"cuckoo"`` in the
crawler, which drives both through one code path):

* :class:`IncrementalBloomSeen` — slab blooms, no delete;
* :class:`PartitionedCuckooSeen` — cuckoo shards, delete-capable (the
  retention-window tier).

Each tier has a ``TABLE`` in ``storage.SCHEMAS`` holding one state row
per part (slab / shard) with the part count persisted in every row,
and exposes ``parts_for(n_keys)``, ``build(seen, key, n_keys)``,
``update(states, keys, key, n_parts)``, ``partition(states,
candidates, key, n_parts) → (definitely_new, maybe_seen)`` and
``valid_parts(states)`` — the persisted part count, or None when the
state must be rebuilt from the exact table (missing, inconsistent, or
over capacity).  Routing always uses the persisted count: a count
derived now from |seen| would send keys to the wrong part's filter
and emit false "definitely new" verdicts.

Spark 4.1 does not register ``bloom_filter_agg``/``might_contain`` as
public SQL functions (they exist only inside the InjectRuntimeFilter
rule), so the filters are numpy arrays built, updated and probed in
grouped pandas UDFs: every task holds one part's blob plus its keys,
never the whole filter, and the driver never holds a blob.  Part
counts grow with |seen| (bloom: no slab bitmap over
``SLAB_BYTES_BOUND``; cuckoo: ``KEYS_PER_SHARD`` keys per shard), so
the per-task bound holds at 10^10 keys.  Hashing is
``pandas.util.hash_array`` (64-bit, seeded, deterministic across
machines/runs) — no per-row Python on the probe path.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from ..storage import SCHEMAS

_H1_KEY = "0123456789abcdef"
_H2_KEY = "fedcba9876543210"


def _h64(values: pd.Series, key: str) -> np.ndarray:
    """Deterministic vectorized 64-bit hash of a string series."""
    return pd.util.hash_array(values.to_numpy(dtype=object),
                              hash_key=key).astype(np.uint64)


def _cogroup_partition(
        candidates: DataFrame, key_col: str, route: Column,
        states: DataFrame, state_part: str,
        member: Callable[[pd.DataFrame, pd.Series], np.ndarray],
) -> tuple[DataFrame, DataFrame]:
    """Probe shared by both tiers → (definitely_new, maybe_seen).

    Candidates are routed to their part by ``route`` and cogrouped with
    the state rows on ``state_part``, so each probe task receives ONLY
    its own part's blob — no driver ``collect()``, no all-part
    broadcast.  ``member(state_row_pdf, keys)`` answers membership with
    no false negatives; a part without a state row has never seen a
    key, so its candidates are definitely new."""
    cand = candidates.withColumn("__part", route)
    out_schema = StructType(list(candidates.schema.fields)
                            + [StructField("__maybe", BooleanType())])
    cols = [f.name for f in out_schema.fields]
    parts = states.withColumn(state_part, F.col(state_part).cast("int"))

    def probe(cpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        out = cpdf.drop(columns="__part")
        out["__maybe"] = (member(spdf, out[key_col].astype(str))
                          if len(spdf) and len(out) else False)
        return out[cols]

    marked = (cand.groupBy("__part")
              .cogroup(parts.groupBy(state_part))
              .applyInPandas(probe, schema=out_schema))
    return (marked.filter(~F.col("__maybe")).drop("__maybe"),
            marked.filter(F.col("__maybe")).drop("__maybe"))


# ---------------------------------------------------------------------------
# Bloom tier
# ---------------------------------------------------------------------------

class BloomFilter:
    """Plain double-hashing bloom over uint64 words.

    k probe positions p_i = (h1 + i*h2) mod m — the standard
    Kirsch–Mitzenmacher construction; vectorized for a whole Arrow
    batch at once.
    """

    def __init__(self, n_bits: int, k: int, words: np.ndarray | None = None):
        self.n_bits = int(n_bits)
        self.k = int(k)
        n_words = (self.n_bits + 63) // 64
        self.words = (words if words is not None
                      else np.zeros(n_words, dtype=np.uint64))

    @classmethod
    def sized(cls, expected: int, fpp: float = 0.01) -> "BloomFilter":
        n_bits = max(64, int(-expected * np.log(fpp) / (np.log(2) ** 2)))
        k = max(1, int(round(n_bits / max(expected, 1) * np.log(2))))
        return cls(n_bits, k)

    def _positions(self, keys: pd.Series) -> np.ndarray:
        h1 = _h64(keys, _H1_KEY)
        h2 = _h64(keys, _H2_KEY) | np.uint64(1)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        return (h1[None, :] + i * h2[None, :]) % np.uint64(self.n_bits)

    def add(self, keys: pd.Series) -> None:
        pos = self._positions(keys).ravel()
        np.bitwise_or.at(self.words, (pos >> np.uint64(6)).astype(np.int64),
                         np.uint64(1) << (pos & np.uint64(63)))

    def might_contain(self, keys: pd.Series) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)
        bits = (self.words[(pos >> np.uint64(6)).astype(np.int64)]
                >> (pos & np.uint64(63))) & np.uint64(1)
        return bits.all(axis=0)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert self.n_bits == other.n_bits and self.k == other.k
        self.words |= other.words
        return self


def _slab_of(key_col: str, n_slabs: int) -> Column:
    """Slab routing on the JVM side (xxhash64 codegen) so build and
    probe agree without shipping rows through Python for the hash."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_slabs)).cast("int")


class IncrementalBloomSeen:
    """Persisted slab-bloom membership tier, updated incrementally.

    Slab bitmaps are built ONCE from the exact table (distributed,
    sized with ``headroom``× growth room), persisted as one blob row per
    slab, and each wave OR-s only the wave's new keys into its slabs
    via a cogroup — per-wave cost O(wave), not O(|seen|).  Probing
    cogroups candidates with their own slab's bitmap.

    Capacity: fpp is guaranteed while a slab's ``n_keys ≤ capacity``
    (the size the bitmap was dimensioned for); past it
    :meth:`valid_parts` asks for a rebuild at the next-larger size —
    amortized doubling.  Blooms can't delete; retention windows stay
    the cuckoo tier's job.
    """

    TABLE = "bloom_state"
    # a (re)build picks enough slabs that no persisted bitmap exceeds
    # this (64 MiB keeps one slab well inside a task's memory at any
    # |seen| — ~10^10 keys × 12 bits × 4× headroom lands at ~1800
    # slabs)
    SLAB_BYTES_BOUND = 64 << 20

    def __init__(self, fpp: float = 0.01, headroom: float = 4.0):
        self.fpp = fpp
        self.headroom = headroom

    def parts_for(self, n_keys: int) -> int:
        """Slab count for a (re)build at |seen|=n_keys: the smallest
        count keeping every slab bitmap ≤ SLAB_BYTES_BOUND."""
        total_bits = BloomFilter.sized(
            int(self.headroom * max(n_keys, 1)), self.fpp).n_bits
        return max(1, -(-total_bits // (self.SLAB_BYTES_BOUND * 8)))

    def build(self, seen: DataFrame, key_col: str,
              n_keys: int) -> DataFrame:
        """→ state DataFrame (one row per slab, ALL slabs present even
        when empty — update/probe need every slab's parameters), sized
        for ``headroom × max(n_keys, 1)`` total keys."""
        n_slabs = self.parts_for(n_keys)
        per_slab_cap = max(int(self.headroom * max(n_keys, 1)
                               / n_slabs) + 1, 64)
        proto = BloomFilter.sized(per_slab_cap, self.fpp)
        n_bits, k = proto.n_bits, proto.k
        spark = seen.sparkSession
        slabs = spark.range(n_slabs).select(
            F.col("id").cast("int").alias("slab"))
        keyed = seen.select(key_col).withColumn(
            "__slab", _slab_of(key_col, n_slabs))

        def make(kpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
            sh = int(spdf["slab"].iloc[0]) if len(spdf) else \
                int(kpdf["__slab"].iloc[0])
            bf = BloomFilter(n_bits, k)
            if len(kpdf):
                bf.add(kpdf[key_col].astype(str))
            return pd.DataFrame({"slab": [sh], "n_slabs": [n_slabs],
                                 "n_keys": [len(kpdf)],
                                 "capacity": [per_slab_cap],
                                 "n_bits": [n_bits], "k": [k],
                                 "words": [bf.words.tobytes()]})

        return (keyed.groupBy("__slab")
                .cogroup(slabs.groupBy("slab"))
                .applyInPandas(make, SCHEMAS[self.TABLE]))

    def update(self, states: DataFrame, new_keys: DataFrame,
               key_col: str, n_parts: int) -> DataFrame:
        """OR this wave's new keys into their slabs → new state table
        (full replacement, same schema).  Cogroup by slab: a task
        holds one slab's bitmap + its new keys; slabs with no new keys
        pass through untouched."""
        keyed = new_keys.select(key_col).withColumn(
            "__slab", _slab_of(key_col, n_parts))

        def upd(kpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
            if not len(spdf):
                raise RuntimeError(
                    f"bloom slab {int(kpdf['__slab'].iloc[0])} has keys "
                    "but no persisted state - the build must emit every "
                    "slab; rebuild from the exact seen table")
            out = spdf.copy()
            if len(kpdf):
                bf = BloomFilter(
                    int(spdf["n_bits"].iloc[0]), int(spdf["k"].iloc[0]),
                    np.frombuffer(spdf["words"].iloc[0],
                                  dtype=np.uint64).copy())
                bf.add(kpdf[key_col].astype(str))
                out["words"] = [bf.words.tobytes()]
                out["n_keys"] = int(spdf["n_keys"].iloc[0]) + len(kpdf)
            return out

        return (keyed.groupBy("__slab")
                .cogroup(states.groupBy("slab"))
                .applyInPandas(upd, SCHEMAS[self.TABLE]))

    def partition(self, states: DataFrame, candidates: DataFrame,
                  key_col: str,
                  n_parts: int) -> tuple[DataFrame, DataFrame]:
        """(definitely_new, maybe_seen) — no false negatives."""
        def member(spdf: pd.DataFrame, keys: pd.Series) -> np.ndarray:
            return BloomFilter(
                int(spdf["n_bits"].iloc[0]), int(spdf["k"].iloc[0]),
                np.frombuffer(spdf["words"].iloc[0], dtype=np.uint64)
            ).might_contain(keys)

        return _cogroup_partition(candidates, key_col,
                                  _slab_of(key_col, n_parts), states,
                                  "slab", member)

    @staticmethod
    def valid_parts(states: DataFrame) -> int | None:
        """Persisted slab count, or None when the state must be rebuilt:
        no rows, a row count other than the persisted ``n_slabs`` (e.g.
        a partial write), or a slab past the capacity its bitmap was
        sized for (fpp no longer bounded).  Reads only the tiny int
        columns — the binary blobs are column-pruned away."""
        rows = states.select("n_slabs", "n_keys", "capacity").collect()
        n = len(rows)
        if (not rows or any(int(r["n_slabs"]) != n for r in rows)
                or any(r["n_keys"] > r["capacity"] for r in rows)):
            return None
        return n


# ---------------------------------------------------------------------------
# Cuckoo tier
# ---------------------------------------------------------------------------

class CuckooFilter:
    """Bucketed cuckoo filter: ``n_buckets × 4`` slots of uint16
    fingerprints (0 = empty).  Supports insert, membership, AND delete
    — the property blooms lack, needed for seen-set retention windows
    (the reference expires seen entries after 48h,
    /root/reference/pkg/linkprocessor/linkprocessor.go:43).

    FP rate ≈ 2·4/2^16 ≈ 1.2e-4 at 95% load.  Vectorized probe;
    insert is a per-key loop over the (rare) cuckoo-kick chain but runs
    executor-side over Arrow batches, never on the driver.
    """

    SLOTS = 4
    MAX_KICKS = 500
    # design load factor: inserts beyond this thrash the kick chain
    # (each kick pays a pandas hash call) long before they fail — the
    # fill pre-check below raises instead, so callers rebuild bigger
    # immediately rather than after minutes of kicking (round-4 fix:
    # a near-capacity 1M-crawl wave spent 250 s kicking)
    DESIGN_LOAD = 0.84

    def __init__(self, n_buckets: int, table: np.ndarray | None = None):
        # power of two for cheap masking
        self.n_buckets = 1 << int(np.ceil(np.log2(max(n_buckets, 2))))
        self.table = (table if table is not None else
                      np.zeros((self.n_buckets, self.SLOTS), dtype=np.uint16))
        self._rng = np.random.default_rng(42)

    def fill_check(self, n_existing: int, n_new: int) -> None:
        """Raise (cheaply, BEFORE any insert) when adding ``n_new``
        keys to ``n_existing`` would push the table past its design
        load — message matches the insert-overflow raise so callers'
        rebuild handling covers both."""
        cap = int(self.DESIGN_LOAD * self.n_buckets * self.SLOTS)
        if n_existing + n_new > cap:
            raise RuntimeError(
                f"cuckoo shard over capacity ({n_existing}+{n_new} keys "
                f"> {cap} design slots) - rebuild with more shards; "
                "inserting past design load thrashes the kick chain and "
                "risks false negatives")

    @classmethod
    def sized(cls, expected: int, load: float = 0.84) -> "CuckooFilter":
        return cls(int(expected / (cls.SLOTS * load)) + 1)

    def _fp_and_buckets(self, keys: pd.Series):
        h = _h64(keys, _H1_KEY)
        fp = (h & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)  # 0 is the empty marker
        b1 = (h >> np.uint64(16)) % np.uint64(self.n_buckets)
        # partner bucket = b1 xor hash(fp) — symmetric, so either bucket
        # can derive the other during kicks.
        fph = pd.util.hash_array(fp.astype(np.uint64), hash_key=_H2_KEY)
        b2 = (b1 ^ fph) % np.uint64(self.n_buckets)
        return fp, b1.astype(np.int64), b2.astype(np.int64)

    def _partner(self, bucket: int, fp: np.uint16) -> int:
        fph = pd.util.hash_array(np.array([fp], dtype=np.uint64),
                                 hash_key=_H2_KEY)[0]
        return int((np.uint64(bucket) ^ fph) % np.uint64(self.n_buckets))

    def insert(self, keys: pd.Series) -> int:
        """Insert all keys; returns number that failed (table full)."""
        fp, b1, b2 = self._fp_and_buckets(keys)
        failed = 0
        t = self.table
        for f, x, y in zip(fp, b1, b2):
            if (t[x] == f).any() or (t[y] == f).any():
                continue
            placed = False
            for b in (x, y):
                empt = np.nonzero(t[b] == 0)[0]
                if len(empt):
                    t[b, empt[0]] = f
                    placed = True
                    break
            if placed:
                continue
            cur, cur_b = f, int(self._rng.choice((x, y)))
            for _ in range(self.MAX_KICKS):
                slot = int(self._rng.integers(self.SLOTS))
                cur, t[cur_b, slot] = t[cur_b, slot], cur
                cur_b = self._partner(cur_b, cur)
                empt = np.nonzero(t[cur_b] == 0)[0]
                if len(empt):
                    t[cur_b, empt[0]] = cur
                    placed = True
                    break
            if not placed:
                failed += 1
        return failed

    def insert_checked(self, n_existing: int, keys: pd.Series) -> None:
        """:meth:`fill_check` then :meth:`insert`, raising on any failed
        insert — a silent drop would break the no-false-negative
        contract (raise, never assert: -O strips asserts)."""
        self.fill_check(n_existing, len(keys))
        fails = self.insert(keys)
        if fails:
            raise RuntimeError(
                f"cuckoo shard over capacity ({fails} failed inserts) - "
                "rebuild with more shards; a silent drop would break "
                "the no-false-negative contract")

    def contains(self, keys: pd.Series) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        fp, b1, b2 = self._fp_and_buckets(keys)
        t = self.table
        return ((t[b1] == fp[:, None]).any(axis=1)
                | (t[b2] == fp[:, None]).any(axis=1))

    def delete(self, keys: pd.Series) -> int:
        """Remove one fingerprint copy per present key; returns #removed."""
        fp, b1, b2 = self._fp_and_buckets(keys)
        removed = 0
        t = self.table
        for f, x, y in zip(fp, b1, b2):
            for b in (x, y):
                hit = np.nonzero(t[b] == f)[0]
                if len(hit):
                    t[b, hit[0]] = 0
                    removed += 1
                    break
        return removed


def _cuckoo_of(blob: bytes, copy: bool = False) -> CuckooFilter:
    tbl = np.frombuffer(blob, dtype=np.uint16).reshape(-1, CuckooFilter.SLOTS)
    return CuckooFilter(tbl.shape[0], tbl.copy() if copy else tbl)


class PartitionedCuckooSeen:
    """Executor-partitioned cuckoo membership tier over the seen set.

    Keys are routed to ``n_parts`` shards by a stable hash; each shard
    is an independent CuckooFilter sized for ``KEYS_PER_SHARD`` keys.
    ``build`` constructs shard states distributed (mapInPandas over the
    seen table repartitioned by shard) and persists them as one binary
    blob per shard — the per-partition checkpoint state required by
    the north_rule (resume = reload blobs; rebuild from the exact
    ``seen`` table if absent).
    """

    TABLE = "cuckoo_state"
    # keys per shard at design load: ~2.4 bytes/key, so 2^16 keys ≈
    # 256 KiB blobs; a 10^10-key deployment raises it to ≈ 2^22 for
    # ~16 MiB blobs / ~5k shards.  The shard count grows with |seen|,
    # so this per-blob bound holds at any crawl size.
    KEYS_PER_SHARD = 1 << 16

    def __init__(self, headroom: float = 2.0):
        self.headroom = headroom

    def parts_for(self, n_keys: int) -> int:
        """Shard count for a (re)build at |seen|=n_keys: headroom×n_keys
        over the per-shard capacity."""
        return max(1, -(-int(self.headroom * max(n_keys, 1))
                        // self.KEYS_PER_SHARD))

    @staticmethod
    def shard_of(keys: pd.Series, n_parts: int) -> np.ndarray:
        return (_h64(keys, "shardshardshards") % np.uint64(n_parts)).astype(
            np.int64)

    def _route(self, col: Column, n_parts: int) -> Column:
        return F.pandas_udf(
            lambda s: pd.Series(self.shard_of(s.astype(str), n_parts)),
            "int")(col)

    def build(self, seen: DataFrame, key_col: str,
              n_keys: int) -> DataFrame:
        """→ DataFrame(shard int, n_parts int, n_keys long, state
        binary), with ``parts_for(n_keys)`` shards."""
        n_parts, expected = self.parts_for(n_keys), self.KEYS_PER_SHARD
        sharded = (seen.select(F.col(key_col).alias("k"))
                   .withColumn("shard", self._route(F.col("k"), n_parts))
                   .repartition(n_parts, "shard"))

        def make(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            filters: dict[int, CuckooFilter] = {}
            counts: dict[int, int] = {}
            for pdf in it:
                for sh, grp in pdf.groupby("shard"):
                    cf = filters.setdefault(
                        int(sh), CuckooFilter.sized(expected))
                    cf.insert_checked(counts.get(int(sh), 0),
                                      grp["k"].astype(str))
                    counts[int(sh)] = counts.get(int(sh), 0) + len(grp)
            for sh, cf in filters.items():
                yield pd.DataFrame({"shard": [sh], "n_parts": [n_parts],
                                    "n_keys": [counts[sh]],
                                    "state": [cf.table.tobytes()]})

        return sharded.mapInPandas(make, SCHEMAS[self.TABLE])

    def update(self, states: DataFrame, new_keys: DataFrame,
               key_col: str, n_parts: int) -> DataFrame:
        """Insert ``new_keys`` into the shard states → new state table
        (same schema as :meth:`build`).  Runs as a cogroup by shard:
        each task holds one shard's filter + its new keys; shards with
        no new keys pass through, shards with keys but no prior state
        start a fresh filter.  Insert overflow raises "over capacity"
        (the caller rebuilds with more shards)."""
        expected = self.KEYS_PER_SHARD
        keyed = (new_keys.select(F.col(key_col).alias("k"))
                 .withColumn("shard", self._route(F.col("k"), n_parts)))
        states_i = states.withColumn("shard", F.col("shard").cast("int"))

        def upd(kpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
            if len(spdf):
                sh = int(spdf["shard"].iloc[0])
                cf = _cuckoo_of(spdf["state"].iloc[0], copy=True)
                n0 = int(spdf["n_keys"].iloc[0])
            else:
                sh = int(kpdf["shard"].iloc[0])
                cf = CuckooFilter.sized(expected)
                n0 = 0
            if len(kpdf):
                cf.insert_checked(n0, kpdf["k"].astype(str))
            return pd.DataFrame({"shard": [sh], "n_parts": [n_parts],
                                 "n_keys": [n0 + len(kpdf)],
                                 "state": [cf.table.tobytes()]})

        return (keyed.groupBy("shard")
                .cogroup(states_i.groupBy("shard"))
                .applyInPandas(upd, SCHEMAS[self.TABLE]))

    def partition(self, states: DataFrame, candidates: DataFrame,
                  key_col: str,
                  n_parts: int) -> tuple[DataFrame, DataFrame]:
        """(definitely_new, maybe_seen) — no false negatives.  At the
        10^10-key target the full state set is ~24 GiB; one probe task
        holds one shard, that / n_parts."""
        def member(spdf: pd.DataFrame, keys: pd.Series) -> np.ndarray:
            return _cuckoo_of(spdf["state"].iloc[0]).contains(keys)

        return _cogroup_partition(candidates, key_col,
                                  self._route(F.col(key_col), n_parts),
                                  states, "shard", member)

    @classmethod
    def valid_parts(cls, states: DataFrame) -> int | None:
        """Persisted shard count, or None when the state must be
        rebuilt: no rows, rows disagreeing on ``n_parts``, or |keys|
        at/past the set's design capacity (n_parts × KEYS_PER_SHARD) —
        the rebuild re-derives the count with headroom (amortized
        doubling)."""
        rows = states.select("n_parts", "n_keys").collect()
        if not rows:
            return None
        n = int(rows[0]["n_parts"])
        if (any(int(r["n_parts"]) != n for r in rows)
                or sum(int(r["n_keys"]) for r in rows)
                >= n * cls.KEYS_PER_SHARD):
            return None
        return n


def bloom_fpp_audit(members: DataFrame, probes: DataFrame,
                    key_col: str = "key",
                    configs: tuple[tuple[int, int], ...] = (
                        (1024, 3), (2048, 5), (4096, 7))) -> DataFrame:
    """Empirical false-positive audit of the bloom pre-filter design
    (D1/U5): build the EXACT bit-set a bloom of (m bits, k hashes)
    would hold for ``members``, probe it with the disjoint ``probes``
    set, and report measured FPP + occupancy per configuration — the
    evidence behind the seen-tier's sizing table
    (IncrementalBloomSeen.SLAB_BYTES_BOUND / fpp targets), measured
    instead of trusted from the (1−e^{−kn/m})^k formula.

    Cross-engine exact construction (no bitmap blobs, no xxhash):
    Kirsch–Mitzenmacher double hashing over ONE md5 digest per key —
    h1/h2 = hex16 chunks (functions/stats.py:_hexchunk), h2 forced
    odd via (h2 div 2)·2+1 so the stride cycles any power-of-two m;
    bit i = (h1 + i·h2) mod m.  The "filter" is the distinct
    (bit) relation (≤ m rows — broadcast on probe); a probe is a
    false positive iff ALL its k bits are present.  Requires m ≤
    65536 (hex16 range) and distinct keys on both sides (page
    check_ids are; dedupe upstream otherwise).

    → one row per config: (m_bits, k_hashes, n_keys, n_bits_set,
    load_ppm, n_probes, n_false_pos, fpp_ppm).

    Scale shape per config: one distinct over ≤ |members|·k bit rows
    (uniform int keys), one broadcast join of the ≤ m-row bit set
    against exploded probes, one key agg + 1-row combines.  The
    real filters stay xxhash64-based (operators/seen.py tiers); this
    audit fixes the hash family only so DuckDB can replay it.
    """
    from web_graph_spark.functions.stats import _hexchunk

    for m, k in configs:
        if m > 65536 or m < 2 or (m & (m - 1)) != 0:
            raise ValueError(f"m_bits must be a power of two ≤ 65536, "
                             f"got {m}")
        if k < 1:
            raise ValueError(f"k_hashes must be >= 1, got {k}")

    def _bits(df: DataFrame, m: int, k: int) -> DataFrame:
        h = F.md5(F.col(key_col).cast("string"))
        h1 = _hexchunk(h, 1)
        h2 = _hexchunk(h, 5)
        stride = h2 - h2 % 2 + 1  # force odd: full period on 2^j m
        return (df.select(F.col(key_col).alias("k"),
                          h1.alias("h1"), stride.alias("h2"))
                .select("k", F.explode(
                    F.sequence(F.lit(0), F.lit(k - 1))).alias("i"),
                    "h1", "h2")
                .select("k", ((F.col("h1") + F.col("i") * F.col("h2"))
                              % F.lit(m)).alias("bit")))

    out = None
    for m, k in configs:
        bits = _bits(members, m, k).select("bit").distinct()
        pb = _bits(probes, m, k)
        flags = (pb.join(F.broadcast(bits.withColumn("__hit", F.lit(1))),
                         "bit", "left")
                 .groupBy("k")
                 .agg(F.min(F.coalesce(F.col("__hit"), F.lit(0)))
                      .alias("all_set")))
        row = (flags.agg(F.count(F.lit(1)).cast("long").alias("n_probes"),
                         F.sum("all_set").cast("long")
                         .alias("n_false_pos"))
               .crossJoin(F.broadcast(
                   bits.agg(F.count(F.lit(1)).cast("long")
                            .alias("n_bits_set"))))
               .crossJoin(F.broadcast(
                   members.agg(F.count(F.lit(1)).cast("long")
                               .alias("n_keys"))))
               .select(F.lit(m).cast("long").alias("m_bits"),
                       F.lit(k).cast("long").alias("k_hashes"),
                       "n_keys", "n_bits_set",
                       F.expr(f"n_bits_set * 1000000 div {m}")
                       .cast("long").alias("load_ppm"),
                       "n_probes", "n_false_pos",
                       F.expr("case when n_probes > 0 then "
                              "n_false_pos * 1000000 div n_probes "
                              "else 0 end").cast("long")
                       .alias("fpp_ppm")))
        out = row if out is None else out.unionByName(row)
    return out
