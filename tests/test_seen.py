"""Probabilistic seen-set tiers (operators/seen.py): no false
negatives ever; FP rate within bound; a filter tier in front of the
exact backstop is bit-identical to the exact anti-join (D1); cuckoo
supports delete."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from web_graph_spark.operators.seen import (BloomFilter, CuckooFilter,
                                            IncrementalBloomSeen,
                                            PartitionedCuckooSeen)


def keys(prefix: str, n: int) -> pd.Series:
    return pd.Series([f"{prefix}-{i:06d}" for i in range(n)])


# ---------------------------------------------------------------------------
# pure-python units
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives_and_fp_bound():
    ins, probe = keys("in", 20000), keys("out", 20000)
    bf = BloomFilter.sized(20000, fpp=0.01)
    bf.add(ins)
    assert bf.might_contain(ins).all()
    fp_rate = bf.might_contain(probe).mean()
    assert fp_rate < 0.02, fp_rate


def test_bloom_merge_is_union():
    a, b = BloomFilter.sized(1000, 0.01), BloomFilter.sized(1000, 0.01)
    ka, kb = keys("a", 500), keys("b", 500)
    a.add(ka)
    b.add(kb)
    a.merge(b)
    assert a.might_contain(ka).all() and a.might_contain(kb).all()


def test_cuckoo_membership_and_fp_bound():
    ins, probe = keys("in", 30000), keys("out", 30000)
    cf = CuckooFilter.sized(30000)
    assert cf.insert(ins) == 0
    assert cf.contains(ins).all()
    fp_rate = cf.contains(probe).mean()
    assert fp_rate < 0.002, fp_rate  # ~1.2e-4 expected


def test_cuckoo_delete():
    cf = CuckooFilter.sized(1000)
    ks = keys("k", 1000)
    assert cf.insert(ks) == 0
    gone = ks[:300]
    assert cf.delete(gone) == 300
    # deleted keys may still FP via other keys' fingerprints, but the
    # overwhelming majority must be gone; survivors must all remain.
    assert cf.contains(ks[300:]).all()
    assert cf.contains(gone).mean() < 0.01


def test_cuckoo_idempotent_insert():
    cf = CuckooFilter.sized(100)
    ks = keys("k", 50)
    cf.insert(ks)
    before = cf.table.copy()
    cf.insert(ks)  # duplicate insert is a no-op (already present)
    assert (cf.table == before).all()


# ---------------------------------------------------------------------------
# spark integration
# ---------------------------------------------------------------------------

# tier class, its persisted part-count column, its size bound and a
# bound small enough to split 4000 keys into several parts
TIERS = {"bloom": (IncrementalBloomSeen, "n_slabs", "SLAB_BYTES_BOUND",
                   4096),
         "cuckoo": (PartitionedCuckooSeen, "n_parts", "KEYS_PER_SHARD",
                    2000)}


def _ids(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.concat(F.lit("s-"), F.col("id")).alias("page_id"))


def _assert_same_crawl(a, b):
    """Final crawl_order, pages, seen and edges tables are identical."""
    for t in ("crawl_order", "pages", "seen", "edges"):
        ra = sorted(map(tuple, a.store.read(t).collect()))
        rb = sorted(map(tuple, b.store.read(t).collect()))
        assert ra == rb, t


@pytest.mark.spark
@pytest.mark.parametrize("several", [False, True],
                         ids=["one_part", "several_parts"])
@pytest.mark.parametrize("tier", sorted(TIERS))
def test_seen_tier_partition_equals_anti_join(spark, monkeypatch, tier,
                                              several):
    """build (distributed) → update → partition + exact backstop ≡ the
    left-anti join, at one part and at several (size bound shrunk):
    every part has a state row carrying the part count, no false
    negatives on old or new keys, FP rate within the tier's bound, and
    valid_parts accepts the state until it outgrows its capacity."""
    cls, part_col, bound, small = TIERS[tier]
    if several:
        monkeypatch.setattr(cls, bound, small)
    ts = cls()
    n_parts = ts.parts_for(4000)
    assert (n_parts > 1) == several, n_parts

    base, extra = _ids(spark, 0, 4000), _ids(spark, 4000, 6000)
    st0 = ts.build(base.repartition(8), "page_id", 4000).localCheckpoint()
    assert ts.valid_parts(st0) == n_parts
    st1 = ts.update(st0, extra, "page_id", n_parts).localCheckpoint()
    rows = st1.collect()
    assert {int(r[part_col]) for r in rows} == {n_parts}
    assert sum(r["n_keys"] for r in rows) == 6000
    assert ts.valid_parts(st1) == n_parts

    seen = base.unionByName(extra)
    cand = _ids(spark, 0, 12000)
    new, maybe = ts.partition(st1, cand, "page_id", n_parts)
    maybe_ids = {r["page_id"] for r in maybe.collect()}
    assert {f"s-{i}" for i in range(6000)} <= maybe_ids   # no false neg.
    fp = len(maybe_ids) / 6000 - 1
    assert fp < {"bloom": 0.02, "cuckoo": 0.002}[tier], fp
    pending = new.unionByName(maybe.join(seen, "page_id", "left_anti"))
    exact = cand.join(seen, "page_id", "left_anti")
    assert (sorted(r["page_id"] for r in pending.collect())
            == sorted(r["page_id"] for r in exact.collect()))

    # past capacity → rebuild
    if tier == "bloom":      # slabs beyond the size they were built for
        n_more = 2 * int(ts.headroom * 4000)
    else:                    # |keys| reaches n_parts × KEYS_PER_SHARD
        n_more = n_parts * cls.KEYS_PER_SHARD - 6000
    st2 = ts.update(st1, _ids(spark, 6000, 6000 + n_more), "page_id",
                    n_parts)
    assert ts.valid_parts(st2) is None


@pytest.mark.spark
@pytest.mark.parametrize("mode", sorted(TIERS))
def test_crawler_tier_seen_equals_exact(spark, fixture_dir, tmp_path,
                                        mode):
    """seen_mode='bloom'/'cuckoo' (persisted filter state, incremental
    update, exact backstop) is a pure physical optimization: final
    crawl_order, pages, edges, and seen set are bit-identical."""
    from web_graph_spark.crawler import SparkCrawler, load_web

    web = load_web(spark, fixture_dir)
    seeds = spark.read.parquet(f"{fixture_dir}/seeds.parquet")

    def run(mode, d):
        c = SparkCrawler(spark, d, web, max_waves=3, seen_mode=mode)
        c.init_from_seeds(seeds)
        c.run()
        return c

    b = run(mode, str(tmp_path / mode))
    _assert_same_crawl(run("exact", str(tmp_path / "exact")), b)
    # the filter state was persisted for the committed wave
    assert b.store.read(TIERS[mode][0].TABLE).count() > 0


@pytest.mark.spark
@pytest.mark.parametrize("mode", sorted(TIERS))
def test_crawler_tier_resume_missing_state(spark, fixture_dir, tmp_path,
                                           mode):
    """The filter state is persisted per wave (no O(|seen|) rebuild scan
    in steady state; superseded partitions pruned) and, after a
    kill-and-resume with the state DELETED, rebuilt from the exact seen
    table — the finished crawl matches an uninterrupted exact run."""
    import shutil

    from web_graph_spark.crawler import SparkCrawler, load_web

    web = load_web(spark, fixture_dir)
    seeds = spark.read.parquet(f"{fixture_dir}/seeds.parquet")
    table = TIERS[mode][0].TABLE

    def crawl(d, waves, mode):
        c = SparkCrawler(spark, str(d), web, max_waves=waves,
                         default_budget=5, seen_mode=mode)
        c.init_from_seeds(seeds)
        c.run()
        return c

    a = crawl(tmp_path / "a", 2, mode)
    waves = {r["wave"] for r in
             a.store.read(table).select("wave").distinct().collect()}
    assert waves == {a.store.committed_wave()}, waves
    shutil.rmtree(tmp_path / "a" / table)            # lose every blob
    _assert_same_crawl(crawl(tmp_path / "a", 4, mode),
                       crawl(tmp_path / "ref", 4, "exact"))


@pytest.mark.spark
def test_bloom_expected_from_manifests_matches_table(spark, tmp_path):
    """The bloom tier sizes its filter from manifest counters instead
    of a per-wave seen.count() scan (VERDICT r2 #3): the reconstruction
    (scheduled + blocked per committed wave) must equal the actual seen
    table count — including robots-blocked rows — both live (in-memory
    increments) and on resume (fresh crawler, manifests only)."""
    from web_graph_spark.benchjobs import synth_consistent_web
    from web_graph_spark.crawler import SparkCrawler

    web = synth_consistent_web(spark, 2000)
    num = F.regexp_extract("url", r"/d/([0-9]+)\.html", 1).cast("long")
    seeds = (web.withColumn("__n", num).filter(F.col("__n") < 20)
             .select(F.col("__n").alias("seq"), "url"))
    hosts = web.select(F.regexp_extract(
        "url", r"https?://([^/]+)/", 1).alias("host")).distinct()
    # block a path prefix on some hosts so blocked rows reach `seen`
    rules = hosts.select(
        "host", F.lit("disallow").alias("rule_type"),
        F.lit("/d/1").alias("path_prefix"),
        F.lit(0.0).alias("crawl_delay"))
    c = SparkCrawler(spark, str(tmp_path / "s"), web, max_waves=3,
                     default_budget=7, seen_mode="bloom", robots=rules)
    c.init_from_seeds(seeds)
    c.run()
    n_table = c.store.read("seen").count()
    assert n_table > 0
    assert c._seen_rows == n_table          # live tracking
    # resume path: fresh crawler reconstructs from manifests alone
    c2 = SparkCrawler(spark, str(tmp_path / "s"), web, max_waves=3,
                      default_budget=7, seen_mode="bloom", robots=rules)
    assert c2._seen_rows_upto(c2.store.committed_wave()) == n_table


# ---------------------------------------------------------------------------
# round-4: part-count safety + auto-sizing (ADVICE r3 #1, VERDICT r3 #2)
# ---------------------------------------------------------------------------

@pytest.mark.spark
@pytest.mark.parametrize("mode", sorted(TIERS))
def test_crawler_resume_with_different_bound_routes_by_state(
        spark, fixture_dir, tmp_path, monkeypatch, mode):
    """Resuming under a size bound that derives a DIFFERENT part count
    must keep routing by the count persisted in the state — routing by
    the count derived now would send keys to the wrong part's filter,
    emit false 'definitely new' verdicts and re-crawl seen pages
    (ADVICE r3 #1)."""
    from web_graph_spark.crawler import SparkCrawler, load_web

    web = load_web(spark, fixture_dir)
    seeds = spark.read.parquet(f"{fixture_dir}/seeds.parquet")
    cls, part_col, bound, _ = TIERS[mode]

    def crawler(d, waves, mode):
        c = SparkCrawler(spark, str(d), web, max_waves=waves,
                         default_budget=5, seen_mode=mode)
        c.init_from_seeds(seeds)
        return c

    with monkeypatch.context() as m:        # session 1: tiny parts
        # (a 4-byte slab bound splits even the minimal 64-bit bitmap)
        m.setattr(cls, bound, 4 if mode == "bloom" else 8)
        crawler(tmp_path / "a", 2, mode).run()
    a = crawler(tmp_path / "a", 4, mode)    # session 2: default bound
    n1 = {int(r[part_col]) for r in a.store.read(cls.TABLE).collect()}
    assert len(n1) == 1 and n1 != {1}, n1
    n_seen = a.store.read("seen").count()
    assert a._tier.parts_for(n_seen) == 1    # the mismatch is real
    used = []
    real = a._tier.partition

    def spy(states, candidates, key_col, n_parts):
        used.append(n_parts)
        return real(states, candidates, key_col, n_parts)

    monkeypatch.setattr(a._tier, "partition", spy)
    a.run()
    assert used[0] == n1.pop()
    ref = crawler(tmp_path / "ref", 4, "exact")
    ref.run()
    _assert_same_crawl(a, ref)


@pytest.mark.spark
def test_bloom_auto_slab_count_grows_with_seen(spark, monkeypatch,
                                               tmp_path):
    """Slab sizing from |seen|: as |seen| grows past the capacity a
    state set was built for, the rebuild re-derives the slab COUNT so
    no persisted bitmap ever exceeds SLAB_BYTES_BOUND (VERDICT r3 #2 —
    a fixed count would make slabs grow into 12 GiB single-task blobs
    at 10^10 keys).  Bound shrunk + headroom 1× here so a 5-wave
    fixture crawl crosses several resizes; results stay ≡ exact."""
    from web_graph_spark.benchjobs import synth_consistent_web
    from web_graph_spark.crawler import SparkCrawler

    monkeypatch.setattr(IncrementalBloomSeen, "SLAB_BYTES_BOUND", 64)
    web = synth_consistent_web(spark, 2000)
    num = F.regexp_extract("url", r"/d/([0-9]+)\.html", 1).cast("long")
    seeds = (web.withColumn("__n", num).filter(F.col("__n") < 10)
             .select(F.col("__n").alias("seq"), "url"))

    c = SparkCrawler(spark, str(tmp_path / "a"), web, max_waves=2,
                     seen_mode="bloom")
    c._tier.headroom = 1.0
    c.init_from_seeds(seeds)
    c.run()
    st0 = c.store.read("bloom_state").collect()
    slabs0 = {int(r["n_slabs"]) for r in st0}

    c2 = SparkCrawler(spark, str(tmp_path / "a"), web, max_waves=5,
                      seen_mode="bloom")
    c2._tier.headroom = 1.0
    c2.init_from_seeds(seeds)
    c2.run()
    st1 = c2.store.read("bloom_state").collect()
    slabs1 = {int(r["n_slabs"]) for r in st1}
    assert len(slabs0) == 1 and len(slabs1) == 1
    assert slabs1.pop() > slabs0.pop()       # count grew with |seen|
    # every persisted bitmap respects the blob bound (+pad: the 64-bit
    # word floor and the +1 capacity round-up)
    assert max(len(r["words"]) for r in st1) <= 64 + 16

    ref = SparkCrawler(spark, str(tmp_path / "ref"), web, max_waves=5)
    ref.init_from_seeds(seeds)
    ref.run()
    _assert_same_crawl(c2, ref)


@pytest.mark.spark
def test_cuckoo_auto_shard_count_grows_with_seen(spark, monkeypatch,
                                                 tmp_path):
    """Cuckoo sharding from |seen|: a crawl whose |seen| outgrows the
    shard set's design capacity (n_parts × KEYS_PER_SHARD) rebuilds
    with more shards instead of overflowing — blobs stay bounded by
    construction (each shard is sized for KEYS_PER_SHARD keys)."""
    from web_graph_spark.benchjobs import synth_consistent_web
    from web_graph_spark.crawler import SparkCrawler

    monkeypatch.setattr(PartitionedCuckooSeen, "KEYS_PER_SHARD", 32)
    web = synth_consistent_web(spark, 2000)
    num = F.regexp_extract("url", r"/d/([0-9]+)\.html", 1).cast("long")
    seeds = (web.withColumn("__n", num).filter(F.col("__n") < 10)
             .select(F.col("__n").alias("seq"), "url"))

    def crawl(waves):
        c = SparkCrawler(spark, str(tmp_path / "a"), web,
                         max_waves=waves, seen_mode="cuckoo")
        c.init_from_seeds(seeds)
        c.run()
        return c

    c = crawl(2)
    parts0 = {int(r["n_parts"]) for r in
              c.store.read("cuckoo_state").select("n_parts").collect()}
    c2 = crawl(5)
    st = c2.store.read("cuckoo_state").collect()
    parts1 = {int(r["n_parts"]) for r in st}
    assert len(parts0) == 1 and len(parts1) == 1
    assert parts1.pop() > parts0.pop()
    # per-shard key load stays near the designed capacity (rebuild is
    # amortized — between rebuilds a shard may run somewhat past
    # KEYS_PER_SHARD, but never to the physical slot count)
    assert max(int(r["n_keys"]) for r in st) <= 64

    ref = SparkCrawler(spark, str(tmp_path / "ref"), web, max_waves=5)
    ref.init_from_seeds(seeds)
    ref.run()
    _assert_same_crawl(c2, ref)


@pytest.mark.spark
def test_seen_rows_upto_falls_back_on_legacy_manifest(spark, fixture_dir,
                                                      tmp_path):
    """A manifest missing the 'scheduled'/'blocked' counter keys (older
    engine version / foreign writer) must NOT be silently counted as 0
    — |seen| reconstruction falls back to one exact table scan
    (ADVICE r3 #4)."""
    import json
    import os

    from web_graph_spark.crawler import SparkCrawler, load_web

    web = load_web(spark, fixture_dir)
    seeds = spark.read.parquet(f"{fixture_dir}/seeds.parquet")
    d = str(tmp_path / "s")
    c = SparkCrawler(spark, d, web, max_waves=2, seen_mode="bloom")
    c.init_from_seeds(seeds)
    c.run()
    n_table = c.store.read("seen").count()
    assert n_table > 0

    # strip the counters from wave-0's manifest (legacy format)
    p = os.path.join(d, "_checkpoints", "wave-0.json")
    with open(p) as f:
        m = json.load(f)
    m.pop("blocked", None)
    with open(p, "w") as f:
        json.dump(m, f)

    c2 = SparkCrawler(spark, d, web, max_waves=2, seen_mode="bloom")
    assert c2._seen_rows_upto(c2.store.committed_wave()) == n_table


@pytest.mark.spark
@pytest.mark.parametrize("mode", sorted(TIERS))
def test_filter_state_prune_deferred_until_commit(spark, fixture_dir,
                                                  tmp_path, mode):
    """The previous wave's committed filter state must survive a crash
    between the new state's write and the wave's manifest commit —
    pruning at write time would force a full O(|seen|) rebuild on
    every such resume (ADVICE r3 #3).  Idle follow-mode waves (nothing
    scheduled, nothing committed) must not leave their filter state
    behind either."""
    import os

    from web_graph_spark.crawler import SparkCrawler, load_web

    web = load_web(spark, fixture_dir)
    seeds = spark.read.parquet(f"{fixture_dir}/seeds.parquet")
    table = TIERS[mode][0].TABLE
    d = str(tmp_path / "s")
    c = SparkCrawler(spark, d, web, max_waves=2, seen_mode=mode)
    c.init_from_seeds(seeds)
    c.run()
    committed = c.store.committed_wave()
    assert {r["wave"] for r in c.store.read(table)
            .select("wave").distinct().collect()} == {committed}

    c2 = SparkCrawler(spark, d, web, max_waves=4, seen_mode=mode)
    real_commit = c2.store.commit
    def boom(wave, **extra):
        raise RuntimeError("crash before commit")
    c2.store.commit = boom
    with pytest.raises(RuntimeError, match="crash before commit"):
        c2.run()
    c2.store.commit = real_commit
    # the last COMMITTED state partition is still on disk — the
    # crashed wave's write did not prune it
    assert os.path.isdir(os.path.join(d, table, f"wave={committed}"))
    # and a clean resume finishes ≡ an uninterrupted exact run
    c3 = SparkCrawler(spark, d, web, max_waves=4, seen_mode=mode)
    c3.init_from_seeds(seeds)
    c3.run()
    ref = SparkCrawler(spark, str(tmp_path / "ref"), web, max_waves=4)
    ref.init_from_seeds(seeds)
    ref.run()
    _assert_same_crawl(c3, ref)

    # follow mode past the drained frontier (the fixture drains in six
    # waves; the inbox never appears): the idle, uncommitted waves
    # discard their filter-state partition along with `seen`
    c4 = SparkCrawler(spark, d, web, max_waves=8, seen_mode=mode,
                      inbox_dir=str(tmp_path / "no-inbox"),
                      inbox_mode="follow")
    assert c4.run() == 8
    assert c4.store.committed_wave() < 7
    assert max(c4.store._live_waves(table)) <= c4.store.committed_wave()


def test_cuckoo_fill_check_raises_before_thrash():
    """Inserting past the design load must raise via the CHEAP
    pre-check — the kick-chain fallback near capacity costs a pandas
    hash per kick and can spend minutes before the overflow raise
    (observed: a 250 s crawl wave).  The message matches the insert
    raise so rebuild handling covers both."""
    cf = CuckooFilter.sized(1000)
    cap = int(cf.DESIGN_LOAD * cf.n_buckets * cf.SLOTS)
    cf.fill_check(0, cap)                    # at design load: fine
    with pytest.raises(RuntimeError, match="over capacity"):
        cf.fill_check(0, cap + 1)
    with pytest.raises(RuntimeError, match="over capacity"):
        cf.fill_check(cap, 1)


def _py_bloom_bits(keys, m, k):
    """Independent replica of the audit's double-hash construction."""
    import hashlib

    bits = set()
    for key in keys:
        h = hashlib.md5(key.encode()).hexdigest()
        h1, h2 = int(h[0:4], 16), int(h[4:8], 16)
        h2 = h2 - h2 % 2 + 1
        for i in range(k):
            bits.add((h1 + i * h2) % m)
    return bits


@pytest.mark.spark
def test_bloom_fpp_audit_matches_python_sim(spark):
    """Column-for-column equality with a hashlib-based simulator on
    every config row, plus the no-false-negative invariant."""
    from web_graph_spark.operators.seen import bloom_fpp_audit

    members = [f"mk{i}" for i in range(40)]
    probes = [f"pk{i}" for i in range(60)]
    mdf = spark.createDataFrame([(x,) for x in members], "key string")
    pdf = spark.createDataFrame([(x,) for x in probes], "key string")
    configs = ((64, 2), (256, 4))
    rows = {(r["m_bits"], r["k_hashes"]): r
            for r in bloom_fpp_audit(mdf, pdf, configs=configs).collect()}
    import hashlib

    for m, k in configs:
        bits = _py_bloom_bits(members, m, k)
        n_fp = 0
        for key in probes:
            h = hashlib.md5(key.encode()).hexdigest()
            h1, h2 = int(h[0:4], 16), int(h[4:8], 16)
            h2 = h2 - h2 % 2 + 1
            if all((h1 + i * h2) % m in bits for i in range(k)):
                n_fp += 1
        r = rows[(m, k)]
        assert (r["n_keys"], r["n_bits_set"], r["n_probes"],
                r["n_false_pos"]) == (40, len(bits), 60, n_fp)
        assert r["load_ppm"] == len(bits) * 1_000_000 // m
        assert r["fpp_ppm"] == n_fp * 1_000_000 // 60
    # sanity: the small filter at 40 keys actually exhibits FPs and
    # the larger one fewer — the audit measures a real gradient
    assert rows[(64, 2)]["n_false_pos"] > rows[(256, 4)]["n_false_pos"]

    # no false negatives: probing with the members themselves flags
    # every key present
    again = {(r["m_bits"], r["k_hashes"]): r
             for r in bloom_fpp_audit(mdf, mdf, configs=configs).collect()}
    for cfg in configs:
        assert again[cfg]["n_false_pos"] == again[cfg]["n_probes"] == 40


@pytest.mark.spark
def test_bloom_fpp_audit_guards(spark):
    from web_graph_spark.operators.seen import bloom_fpp_audit

    df = spark.createDataFrame([("a",)], "key string")
    with pytest.raises(ValueError, match="power of two"):
        bloom_fpp_audit(df, df, configs=((1000, 3),))
    with pytest.raises(ValueError, match="power of two"):
        bloom_fpp_audit(df, df, configs=((1 << 17, 3),))
    with pytest.raises(ValueError, match="k_hashes"):
        bloom_fpp_audit(df, df, configs=((1024, 0),))
