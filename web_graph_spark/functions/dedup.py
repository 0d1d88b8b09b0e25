"""Deduplication operators over the ``documents`` table.

Five tiers, from exact to fuzzy — each designed Spark-first:

* exact          : md5 fingerprint groupBy (hash-shuffle on digest —
                   uniform keys, no skew)
* n-gram Jaccard : shingle-set self-join (exact pairwise similarity;
                   the correctness baseline for the approximate tiers)
* MinHash + LSH  : signatures with xxhash64 (JVM, codegen) → banded
                   bucket join → verify.  The 100 TB path: candidate
                   generation touches only same-bucket pairs, never the
                   O(n²) cross product.
* SimHash        : 64-bit fingerprints (vectorized pandas UDF, numpy) →
                   pigeonhole chunk join → bit_count(xor) ≤ k (JVM).
* embedding      : cosine near-dup over array<float> — see similarity.py
                   for the shared kernels.

All randomness is hash-derived (xxhash64 / seeded numpy) — fully
deterministic across runs and cluster sizes.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import normalize_text, with_fingerprint

TOKEN_RE = r"\S+"


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(fingerprint, n_dups, doc_ids csv) for every duplicated normal
    form (D5-style batch dedupe applied to documents)."""
    fp = with_fingerprint(df, text_col)
    return (fp.groupBy("fingerprint")
            .agg(F.count("*").alias("n_dups"),
                 F.array_join(F.sort_array(F.collect_list(
                     F.col(id_col).cast("string"))), ",").alias("doc_ids"))
            .filter(F.col("n_dups") > 1))


def tokens_col(text_col: str = "text") -> Column:
    return F.regexp_extract_all(normalize_text(F.col(text_col)),
                                F.lit(TOKEN_RE), 0)


def shingles_col(n: int, text_col: str = "text") -> Column:
    """Word n-gram shingles (distinct), built with higher-order array
    functions — no UDF.

    Shape matters: the obvious ``transform(sequence(1, n_sh),
    i -> concat_ws(' ', slice(w, i, n)))`` puts the tokenizer ``w``
    INSIDE the lambda body, and higher-order lambdas evaluate
    interpreted with no common-subexpression elimination — the regex
    tokenization reruns per element, O(tokens²) per row (measured 7 s
    of an 8 s minhash stage at sf0.1).  ``zip_with`` over shifted
    copies keeps every tokenizer evaluation at per-ROW granularity:
    shingle_i = w[i] ++ w[i+1] ++ … ++ w[i+n-1], with zip_with's
    null-padding marking the <n-token tail (nulls filtered before
    distinct)."""
    w = tokens_col(text_col)
    acc = w
    for k in range(1, n):
        # slice's child is a function ARGUMENT (per-row eval), not a
        # lambda-body subexpression (per-element eval).
        shifted = F.slice(w, k + 1, F.greatest(F.size(w) - k, F.lit(1)))
        acc = F.zip_with(acc, shifted,
                         lambda x, y: F.concat(x, F.lit(" "), y))
    if n > 1:
        acc = F.filter(acc, lambda x: x.isNotNull())
    return F.array_distinct(acc)


def jaccard_pairs(df: DataFrame, threshold: float, n: int = 1,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Exact n-gram Jaccard over all pairs sharing ≥1 shingle
    (id_a < id_b, sim ≥ threshold).  Exact but O(pairs-sharing-a-
    shingle) — the baseline the LSH tier is validated against."""
    sh = df.select(F.col(id_col).alias("id"),
                   shingles_col(n, text_col).alias("sh"))
    sizes = sh.select("id", F.size("sh").alias("sz"))
    ex = sh.select("id", F.explode("sh").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (a.join(b, (F.col("a.s") == F.col("b.s"))
                    & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"))
             .agg(F.count("*").alias("n_inter")))
    out = (inter
           .join(sizes.withColumnRenamed("id", "id_a")
                      .withColumnRenamed("sz", "sz_a"), "id_a")
           .join(sizes.withColumnRenamed("id", "id_b")
                      .withColumnRenamed("sz", "sz_b"), "id_b")
           .withColumn("jaccard_bp",
                       F.floor(F.col("n_inter") * 10000
                               / (F.col("sz_a") + F.col("sz_b")
                                  - F.col("n_inter"))).cast("long")))
    return out.filter(F.col("jaccard_bp") >= int(threshold * 10000)) \
              .select("id_a", "id_b", "n_inter", "sz_a", "sz_b", "jaccard_bp")


def containment_pairs(df: DataFrame, threshold: float = 0.8, n: int = 3,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Directional n-gram CONTAINMENT (Broder 1997's other resemblance
    measure): ``containment(A in B) = |sh(A) ∩ sh(B)| / |sh(A)|`` —
    the quote / excerpt / page-of-pages detector.  Jaccard misses
    these by construction: a 100-token excerpt inside a 10k-token page
    has Jaccard ≈ 0.01 but containment = 1.0, and a dedup keep-list
    built on symmetric similarity alone ships the same text twice.

    Emits BOTH directions of every co-shingled pair that clears the
    threshold: ``(id_a, id_b, n_inter, sz_a, containment_bp)`` with
    ``id_a`` the CONTAINED document.  Integer basis points
    (``n_inter * 10000 div sz_a``) so any engine reproduces the rows
    bit-for-bit.

    Same physical shape as :func:`jaccard_pairs` (this is the exact
    tier — at corpus scale run it over
    :func:`lsh_candidate_pairs` / the minhash index's candidates
    instead of the raw shingle join): one distinct-shingle explode,
    one equi-join on the shingle key grouped to (pair, |∩|), sizes
    joined back, then the two directional projections union — no
    second join, the unordered intersection is computed once.
    """
    sh = df.select(F.col(id_col).alias("id"),
                   shingles_col(n, text_col).alias("sh"))
    sizes = sh.select("id", F.size("sh").alias("sz")).filter("sz > 0")
    ex = sh.select("id", F.explode("sh").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (a.join(b, (F.col("a.s") == F.col("b.s"))
                    & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("u"),
                      F.col("b.id").alias("v"))
             .agg(F.count("*").alias("n_inter")))
    inter = (inter
             .join(sizes.select(F.col("id").alias("u"),
                                F.col("sz").alias("sz_u")), "u")
             .join(sizes.select(F.col("id").alias("v"),
                                F.col("sz").alias("sz_v")), "v"))
    both = (inter.select(F.col("u").alias("id_a"),
                         F.col("v").alias("id_b"),
                         "n_inter", F.col("sz_u").alias("sz_a"))
            .unionByName(
                inter.select(F.col("v").alias("id_a"),
                             F.col("u").alias("id_b"),
                             "n_inter", F.col("sz_v").alias("sz_a"))))
    out = both.withColumn(
        "containment_bp",
        F.expr("n_inter * 10000 div sz_a").cast("long"))
    return (out.filter(F.col("containment_bp")
                       >= int(threshold * 10000))
            .select("id_a", "id_b",
                    F.col("n_inter").cast("long").alias("n_inter"),
                    F.col("sz_a").cast("long").alias("sz_a"),
                    "containment_bp"))


def minhash_signatures(df: DataFrame, n_hashes: int = 64, shingle_n: int = 3,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(id, sig: array<long>[n_hashes]) — sig[j] = min over shingles of
    xxhash64(j, shingle).  Entirely JVM-side (codegen'd lambda).

    Two scale tricks:

    * Each shingle is hashed ONCE (xxhash64); the n_hashes "independent"
      functions are affine permutations ``a_j*h + b_j`` of that base
      hash (classic universal-hash MinHash) — 64 multiply-adds per
      shingle instead of 64 full string rehashes.
    * The hashed-shingle array is materialized below a hash-repartition
      exchange: without the barrier Catalyst's CollapseProject inlines
      the (regex-tokenize + n-gram + distinct + hash) expression into
      all n_hashes lambda bodies — a 64× recompute — and a single small
      parquet file would otherwise pin the whole stage to one task."""
    spark = df.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    m32 = F.lit(0xFFFFFFFF)
    hashed = (df.select(
        F.col(id_col).alias("id"),
        F.transform(shingles_col(shingle_n, text_col),
                    lambda s: F.xxhash64(s).bitwiseAND(m32)).alias("hs"))
        .repartition(parts, "id"))
    # deterministic per-j constants: universal hash (a_j·h + b_j) mod
    # 2^32 with a_j odd 31-bit keeps every product < 2^63 (ANSI-safe,
    # no overflow) while the mod-2^32 wrap breaks monotonicity between
    # signature positions.  The a_j/b_j seeds are xxhash64(j, "a"/"b")
    # — but written inline inside the per-shingle lambda they would be
    # re-hashed for every (j, shingle) pair (the lambda variable j
    # blocks constant folding: +2 struct-hashes per element, measured
    # ~2× the whole signature cost), so they're evaluated ONCE here via
    # a 1-row jvm job and embedded as literal arrays.
    consts = spark.range(1).select(
        F.transform(F.sequence(F.lit(1), F.lit(n_hashes)),
                    lambda j: F.xxhash64(j, F.lit("a"))
                    .bitwiseAND(F.lit(0x7FFFFFFF)).bitwiseOR(F.lit(1)))
        .alias("a"),
        F.transform(F.sequence(F.lit(1), F.lit(n_hashes)),
                    lambda j: F.xxhash64(j, F.lit("b")).bitwiseAND(m32))
        .alias("b")).first()
    a_arr = F.array(*[F.lit(int(v)) for v in consts["a"]])
    b_arr = F.array(*[F.lit(int(v)) for v in consts["b"]])
    sig = F.transform(
        F.sequence(F.lit(1), F.lit(n_hashes)),
        lambda j: F.array_min(F.transform(
            "hs",
            lambda h: (F.element_at(a_arr, j) * h + F.element_at(b_arr, j))
            .bitwiseAND(m32))))
    return hashed.select("id",
                         F.when(F.size("hs") > 0, sig).alias("sig"))


def banded_rows(sigs: DataFrame, bands: int = 16) -> DataFrame:
    """LSH bucket rows ``(id, band_idx, band_hash)`` of a signature
    set — the unit both the self-join dedup and the persisted
    incremental index store and join on."""
    n_hashes_col = F.size("sig")
    rows_per_band = F.floor(n_hashes_col / bands).cast("int")
    return (sigs.filter(F.col("sig").isNotNull())
            .select("id", F.posexplode(F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(F.slice(
                    "sig", b * rows_per_band + 1, rows_per_band))))
                .alias("band_idx", "band_hash")))


def lsh_candidate_pairs(sigs: DataFrame, bands: int = 16) -> DataFrame:
    """Band the signature, bucket-join: a pair is a candidate iff some
    band hashes equal.  Shuffle key = (band_idx, band_hash) — uniform."""
    banded = banded_rows(sigs, bands)
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                   & (F.col("a.band_hash") == F.col("b.band_hash"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct())


def minhash_near_dups(df: DataFrame, threshold: float = 0.7,
                      n_hashes: int = 64, bands: int = 16, shingle_n: int = 3,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """MinHash-LSH candidates verified by exact signature agreement
    rate (estimates Jaccard): (id_a, id_b, est_jaccard_bp).

    Signatures feed four plan branches (band self-join ×2, verify
    join ×2) — localCheckpoint materializes them once instead of
    re-running the tokenize+shingle+hash pipeline per branch."""
    sigs = minhash_signatures(df, n_hashes, shingle_n, id_col, text_col) \
        .localCheckpoint()
    cand = lsh_candidate_pairs(sigs, bands)
    sa = sigs.withColumnRenamed("id", "id_a").withColumnRenamed("sig", "sig_a")
    sb = sigs.withColumnRenamed("id", "id_b").withColumnRenamed("sig", "sig_b")
    est = (cand.join(sa, "id_a").join(sb, "id_b")
           .withColumn("n_agree", F.size(F.filter(
               F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
               lambda v: v)))
           .withColumn("est_jaccard_bp",
                       F.floor(F.col("n_agree") * 10000 / n_hashes)
                        .cast("long")))
    return (est.filter(F.col("est_jaccard_bp") >= int(threshold * 10000))
            .select("id_a", "id_b", "est_jaccard_bp"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def token_hashes_col(text_col: str = "text") -> Column:
    """array<long> of per-token xxhash64 values — the SimHash per-token
    hashing done entirely JVM-side (codegen string hash), so the only
    Python work left in the signature path is the numpy bit-vote.
    Duplicate tokens keep their multiplicity (frequency-weighted vote,
    same semantics as hashing each occurrence)."""
    return F.transform(tokens_col(text_col), lambda t: F.xxhash64(t))


def simhash_udf():
    """per-token hashes array<long> → 64-bit simhash (numpy bit-vote
    inside an Arrow-batched pandas UDF).  The hashes arrive pre-computed
    from :func:`token_hashes_col` (JVM xxhash64) — no per-token Python
    hashing anywhere in the dedupe family (VERDICT r2 #7)."""
    import numpy as np

    @F.pandas_udf("long")
    def _simhash(hashes: pd.Series) -> pd.Series:
        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
        out = np.zeros(len(hashes), dtype=np.int64)
        for i, hs in enumerate(hashes):
            if hs is None or len(hs) == 0:
                continue
            # xxhash64 is signed long; view the bits as uint64
            h = np.asarray(hs, dtype=np.int64).view(np.uint64)
            bits = (h[:, None] >> np.arange(64, dtype=np.uint64)) & 1
            v = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            sh = int(((v > 0) * weights).sum(dtype=np.uint64))
            out[i] = sh - (1 << 64) if sh >= (1 << 63) else sh
        return pd.Series(out)

    return _simhash


def hamming_pairs(hashed: DataFrame, max_dist: int = 3) -> DataFrame:
    """(id_a, id_b, hamming) pairs with hamming ≤ max_dist over a
    ``(id, sh)`` table of 64-bit hashes (NULL hashes are skipped).
    Candidate generation by pigeonhole: split 64 bits into max_dist+1
    chunks — any pair within distance shares ≥1 exact chunk; join on
    chunk (uniform key), verify with JVM bit_count(xor).  Shared by
    the text SimHash tier and the media perceptual-hash tier."""
    n_chunks = max_dist + 1
    chunk_bits = 64 // n_chunks
    sh = hashed.filter(F.col("sh").isNotNull())
    mask = (1 << chunk_bits) - 1
    chunk_exprs = [F.shiftrightunsigned(F.col("sh"), c * chunk_bits)
                    .bitwiseAND(F.lit(mask)) for c in range(n_chunks)]
    chunks = sh.select("id", "sh", F.posexplode(F.array(*chunk_exprs))
                       .alias("chunk_idx", "chunk_val"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (a.join(b, (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
                   & (F.col("a.chunk_val") == F.col("b.chunk_val"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"))
            .distinct())
    return (cand.withColumn("hamming", F.bit_count(
                F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
            .filter(F.col("hamming") <= max_dist)
            .select("id_a", "id_b", "hamming"))


def simhash_pairs(df: DataFrame, max_dist: int = 3,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_dist — simhash per
    doc (JVM token hashing, Python bit-vote), then the shared
    pigeonhole chunk-join (``hamming_pairs``)."""
    sh = df.select(F.col(id_col).alias("id"),
                   simhash_udf()(token_hashes_col(text_col)).alias("sh"))
    return hamming_pairs(sh, max_dist)


def span_dedup(df: DataFrame, n: int = 5, min_count: int = 2,
               id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Duplicated-SPAN removal — the exact-substring dedup of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") at word ``n``-gram granularity: every token covered by an
    ``n``-gram that occurs at least ``min_count`` times in the WHOLE
    corpus is masked, maximal masked runs are merged into spans, and
    the surviving tokens are reassembled in order.  Catches the
    partially-copied documents (shared boilerplate paragraphs, quoted
    chunks) that document-level dedup can't touch, without the suffix
    array — adjacent duplicated n-grams merge into exactly the long
    duplicated substrings the suffix array would find, modulo the
    < n-token tail of each span.

    → (doc_id, n_tokens, dup_spans, dup_tokens, dup_bp, clean_text);
    docs shorter than n tokens pass through untouched.

    Physical shape at 100 TB: positional n-grams are one map-side
    explode (O(tokens), no Python); the duplicate set is a uniform
    gram-key agg with map-side partials absorbing hot boilerplate
    grams; flagging joins the gram table back on the gram key (the
    duplicate side is the small one — AQE broadcasts it when it
    fits); span merge is a lag window PARTITIONED BY doc_id (never
    global); reassembly groups on doc_id, uniform by construction.
    Nothing is pairwise — cost is linear in corpus tokens.
    """
    lgrams = (f"transform(slice(t, 1, greatest(size(t) - {n - 1}, 0)), "
              f"(x, i) -> concat_ws(' ', slice(t, i + 1, {n})))")
    toks = df.select(F.col(id_col).alias("doc_id"),
                     F.split(F.col(text_col), " ").alias("t"))
    grams = toks.select("doc_id",
                        F.posexplode(F.expr(lgrams)).alias("p", "g"))
    dup_g = (grams.groupBy("g").agg(F.count("*").alias("c"))
             .filter(F.col("c") >= min_count).select("g"))
    cov = (grams.join(dup_g, "g")
           .select("doc_id", F.explode(
               F.sequence(F.col("p"), F.col("p") + (n - 1))).alias("pos"))
           .distinct())
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = cov.withColumn(
        "nr", F.when(F.lag("pos").over(w) == F.col("pos") - 1,
                     F.lit(0)).otherwise(F.lit(1)))
    cstat = (runs.groupBy("doc_id")
             .agg(F.count("*").alias("dup_tokens"),
                  F.sum("nr").alias("dup_spans")))
    tp = toks.select("doc_id", F.posexplode("t").alias("pos", "tok"))
    kept = tp.join(cov, ["doc_id", "pos"], "left_anti")
    clean = (kept.groupBy("doc_id")
             .agg(F.concat_ws(
                 " ",
                 F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                     lambda s: s["tok"])).alias("clean_text")))
    totals = toks.select("doc_id", F.size("t").alias("n_tokens"))
    bp = F.floor(F.col("dup_tokens") * 10000.0
                 / F.greatest(F.col("n_tokens"), F.lit(1)))
    z = lambda c: F.coalesce(c, F.lit(0))
    return (totals
            .join(cstat, "doc_id", "left")
            .join(clean, "doc_id", "left")
            .select("doc_id",
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    z(F.col("dup_spans")).cast("long").alias("dup_spans"),
                    z(F.col("dup_tokens")).cast("long").alias("dup_tokens"),
                    F.coalesce(bp, F.lit(0)).cast("long").alias("dup_bp"),
                    F.coalesce("clean_text", F.lit("")).alias("clean_text")))


def contaminated_docs(corpus: DataFrame, benchmark: DataFrame,
                      n: int = 5, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Benchmark DECONTAMINATION — flag corpus documents sharing any
    word ``n``-gram with an eval/benchmark set (the step a training
    pipeline runs before anything ships to a trainer; the standard
    n≈8..13 exact-substring check reduced to shingle membership).

    → (doc_id, n_hit_shingles, n_benchmark_docs): one row per
    contaminated corpus doc, with how many distinct shingles hit and
    how many distinct benchmark docs they came from.

    Physical shape at 100 TB: the benchmark side is SMALL by nature
    (eval sets ≪ corpus), so its exploded (shingle, bench_doc) pairs
    broadcast; the corpus pays one map-side shingle explode (the same
    O(tokens) zip_with tokenization as the dedup tiers — no UDF) and
    a broadcast-hash join, with only the HIT rows shuffling into the
    per-doc aggregate — the corpus itself never shuffles.  Plan-pinned
    broadcast + no cartesian in tests/test_plans.py.
    """
    bsh = (benchmark
           .select(F.col(id_col).alias("bench_doc"),
                   F.explode(shingles_col(n, text_col)).alias("s")))
    csh = corpus.select(F.col(id_col).alias("doc_id"),
                        F.explode(shingles_col(n, text_col)).alias("s"))
    return (csh.join(F.broadcast(bsh), "s")
            .groupBy("doc_id")
            .agg(F.count_distinct("s").alias("n_hit_shingles"),
                 F.count_distinct("bench_doc").alias("n_benchmark_docs")))


# ---------------------------------------------------------------------------
# Incremental MinHash index (E47)
# ---------------------------------------------------------------------------

def _verify_pairs(cand: DataFrame, sigs_a: DataFrame, sigs_b: DataFrame,
                  n_hashes: int, threshold: float) -> DataFrame:
    """Signature-agreement verify of candidate (id_a, id_b) pairs —
    identical math to minhash_near_dups (est Jaccard = agreeing
    positions / n_hashes, in basis points)."""
    sa = sigs_a.select(F.col("id").alias("id_a"),
                       F.col("sig").alias("sig_a"))
    sb = sigs_b.select(F.col("id").alias("id_b"),
                       F.col("sig").alias("sig_b"))
    est = (cand.join(sa, "id_a").join(sb, "id_b")
           .withColumn("n_agree", F.size(F.filter(
               F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
               lambda v: v)))
           .withColumn("est_jaccard_bp",
                       F.floor(F.col("n_agree") * 10000 / n_hashes)
                        .cast("long")))
    return (est.filter(F.col("est_jaccard_bp") >= int(threshold * 10000))
            .select("id_a", "id_b", "est_jaccard_bp"))


def minhash_index_add(df: DataFrame, index_dir: str, n_hashes: int = 64,
                      bands: int = 16, shingle_n: int = 3,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> None:
    """Append one document batch to a persisted MinHash index: two
    parquet tables under ``index_dir`` — ``sigs(id, sig)`` and
    ``bands(id, band_idx, band_hash)``.

    The signature constants are seeded (minhash_signatures), so rows
    appended across any batch split are BIT-IDENTICAL to a full-corpus
    recompute — the property that makes incremental dedup exact
    (pinned in tests/test_functions.py).  At 10^10 docs the bands
    table's (band_idx, band_hash) keys stay uniform (hash values), so
    the probe join shuffles evenly; old signatures are never
    recomputed — per-dump cost is O(new batch), the same shape as the
    crawler's persisted seen-filter tiers (operators/seen.py)."""
    sigs = minhash_signatures(df, n_hashes, shingle_n, id_col, text_col) \
        .localCheckpoint()
    sigs.write.mode("append").parquet(f"{index_dir}/sigs")
    banded_rows(sigs, bands).write.mode("append") \
        .parquet(f"{index_dir}/bands")


def minhash_dedup_incremental(df_new: DataFrame, index_dir: str | None,
                              threshold: float = 0.7, n_hashes: int = 64,
                              bands: int = 16, shingle_n: int = 3,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              add: bool = False) -> DataFrame:
    """Near-dup pairs of a NEW batch against (persisted index ∪ the
    batch itself), computing signatures only for the new rows — the
    cross-dump dedup step of a training pipeline (CCNet/RefinedWeb
    dedupe each crawl dump against all prior dumps; recomputing prior
    signatures per dump would be O(corpus) instead of O(dump)).

    Returns ``(id_a, id_b, est_jaccard_bp, scope)`` with id_a < id_b;
    scope = 'index' (new vs indexed doc) or 'batch' (both new).
    ``index_dir=None`` or a missing index ⇒ batch-only pairs (first
    dump).  ``add=True`` appends the batch to the index afterwards
    (from the already-computed signatures — no second pass)."""
    spark = df_new.sparkSession
    new_sigs = minhash_signatures(df_new, n_hashes, shingle_n,
                                  id_col, text_col).localCheckpoint()
    within = _verify_pairs(lsh_candidate_pairs(new_sigs, bands),
                           new_sigs, new_sigs, n_hashes, threshold) \
        .withColumn("scope", F.lit("batch"))
    old_sigs = old_bands = None
    if index_dir is not None:
        try:
            old_sigs = spark.read.parquet(f"{index_dir}/sigs")
            old_bands = spark.read.parquet(f"{index_dir}/bands")
        except Exception:
            old_sigs = old_bands = None  # first dump: no index yet
    if old_bands is not None:
        new_bands = banded_rows(new_sigs, bands)
        cross = (new_bands.alias("n")
                 .join(old_bands.alias("o"), ["band_idx", "band_hash"])
                 .select(F.col("n.id").alias("id_new"),
                         F.col("o.id").alias("id_old"))
                 .filter(F.col("id_new") != F.col("id_old"))
                 .distinct())
        cand = cross.select(F.col("id_new").alias("id_a"),
                            F.col("id_old").alias("id_b"))
        verified = _verify_pairs(cand, new_sigs, old_sigs,
                                 n_hashes, threshold)
        # normalize id_a < id_b for a stable pair identity
        verified = verified.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "est_jaccard_bp").withColumn("scope", F.lit("index"))
        out = within.unionByName(verified)
    else:
        out = within
    if add:
        new_sigs.write.mode("append").parquet(f"{index_dir}/sigs")
        banded_rows(new_sigs, bands).write.mode("append") \
            .parquet(f"{index_dir}/bands")
    return out


def containment_verify(pairs: DataFrame, df: DataFrame, n: int = 3,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Exact containment for a CANDIDATE pair list — the scale path
    :func:`containment_pairs`' docstring promises: feed
    :func:`lsh_candidate_pairs` / the minhash index's probe output and
    only those pairs pay.  The shingle sets ride along as array
    columns and ``|A ∩ B|`` is a per-row JVM ``array_intersect`` —
    cost O(|pairs| · avg_shingles) with NO corpus-wide shingle
    explode-join; the two dim joins are on uniform doc ids.

    → ``(id_a, id_b, n_inter, sz_a, sz_b, cont_a_bp, cont_b_bp)``:
    both directions from one row, integer basis points, same numbers
    :func:`containment_pairs` produces for the same pair (equality
    pinned in tests).
    """
    sh = df.select(F.col(id_col).alias("id"),
                   shingles_col(n, text_col).alias("sh"))
    out = (pairs.select("id_a", "id_b")
           .join(sh.select(F.col("id").alias("id_a"),
                           F.col("sh").alias("sh_a")), "id_a")
           .join(sh.select(F.col("id").alias("id_b"),
                           F.col("sh").alias("sh_b")), "id_b")
           .select("id_a", "id_b",
                   F.size(F.array_intersect("sh_a", "sh_b"))
                   .cast("long").alias("n_inter"),
                   F.size("sh_a").cast("long").alias("sz_a"),
                   F.size("sh_b").cast("long").alias("sz_b")))
    return (out.filter((F.col("sz_a") > 0) & (F.col("sz_b") > 0))
            .select("id_a", "id_b", "n_inter", "sz_a", "sz_b",
                    F.expr("n_inter * 10000 div sz_a").cast("long")
                    .alias("cont_a_bp"),
                    F.expr("n_inter * 10000 div sz_b").cast("long")
                    .alias("cont_b_bp")))


def mirror_hosts(df: DataFrame, host_col: str = "host",
                 digest_col: str = "digest",
                 min_shared: int = 2, min_overlap_bp: int = 5000,
                 max_hosts_per_digest: int = 8) -> DataFrame:
    """Mirror-host detection — the crawl-planning consumer of exact
    dedup: host pairs serving largely identical content (mirrors, CDN
    vanity domains, scraped re-hosts) should be collapsed to one
    crawl target, which at web scale saves whole HOSTS of fetches,
    not just pages.

    Input: one row per (host, page content digest) — at deployment
    scale the store's existing page digests, no content read.  Output:
    host pairs sharing >= ``min_shared`` digests, with the overlap as
    integer basis points of the SMALLER host's inventory and an
    ``is_mirror`` flag at ``min_overlap_bp`` (both sides of the
    threshold visible to the caller — borderline pairs are exactly
    what an operator reviews).

    Scale shape: one distinct projection, one uniform digest-key
    self-join, one pair-key agg.  The quadratic hazard of a self-join
    is a digest shared by MANY hosts (empty pages, error templates:
    k hosts → k² pair rows); real mirror detection excludes ubiquitous
    content anyway, so digests on > ``max_hosts_per_digest`` hosts are
    dropped BEFORE the join — the fan-out cap makes worst-case output
    |digests| · cap², independent of host skew.  Per-host inventory
    counts (the denominators) are computed before that filter, on all
    content, and join back as a hosts-sized broadcast dim.
    """
    hd = df.select(F.col(host_col).alias("h"),
                   F.col(digest_col).alias("d")).distinct()
    inv = hd.groupBy("h").agg(F.count("*").alias("n"))
    spread = (hd.groupBy("d").agg(F.count("*").alias("__k"))
              .filter(F.col("__k") <= max_hosts_per_digest)
              .select("d"))
    core = hd.join(spread, "d")
    a = core.select(F.col("h").alias("host_a"), "d")
    b = core.select(F.col("h").alias("host_b"), "d")
    pairs = (a.join(b, "d")
             .filter(F.col("host_a") < F.col("host_b"))
             .groupBy("host_a", "host_b")
             .agg(F.count("*").alias("n_shared"))
             .filter(F.col("n_shared") >= min_shared))
    na = inv.select(F.col("h").alias("host_a"), F.col("n").alias("n_a"))
    nb = inv.select(F.col("h").alias("host_b"), F.col("n").alias("n_b"))
    out = (pairs.join(F.broadcast(na), "host_a")
           .join(F.broadcast(nb), "host_b")
           .withColumn("overlap_bp",
                       F.expr("n_shared * 10000 div least(n_a, n_b)")
                       .cast("long"))
           .withColumn("is_mirror",
                       F.col("overlap_bp") >= F.lit(min_overlap_bp)))
    return out.select("host_a", "host_b",
                      F.col("n_shared").cast("long").alias("n_shared"),
                      F.col("n_a").cast("long").alias("n_a"),
                      F.col("n_b").cast("long").alias("n_b"),
                      "overlap_bp", "is_mirror")


def sorted_neighborhood_pairs(df: DataFrame, block: str, key: str,
                              id_col: str = "doc_id", window: int = 3,
                              max_dist: int = 2) -> DataFrame:
    """(block, id_a, id_b, key_a, key_b, dist) — sorted-neighborhood
    entity resolution (Hernández & Stolfo, SIGMOD'95): within each
    block, sort records by ``key`` and compare each record to only its
    ``window`` successors, keeping pairs with Levenshtein distance ≤
    ``max_dist``.  The URL-dedup workhorse for session-id / tracking-
    param / pagination variants that hash-exact dedup misses and
    shingle dedup wastes a full MinHash pass on — candidate count is
    |rows|·window, never the block's O(n²) cross product.

    Physical shape: one window row_number per block (hosts are the
    natural URL block — the hot-host skew is the same one the crawler
    already salts elsewhere; a pathological block can be sub-blocked
    by a key prefix), then the neighbor pairing is a pure EQUI-join:
    the right side explodes into ``window`` (block, rn − o) probe keys
    so Catalyst plans a hash join on (block, rn), not a range join.
    ``levenshtein()`` runs JVM-side post-join on the window·|rows|
    candidates only.  Ordering ties break on ``id_col`` so the pair
    set is deterministic; both engines implement the same textbook
    Levenshtein, making the output exact-SQL-oracle comparable."""
    t = df.select(F.col(block).alias("b"), F.col(key).alias("k"),
                  F.col(id_col).alias("i")).distinct()
    w = Window.partitionBy("b").orderBy("k", "i")
    s = t.withColumn("rn", F.row_number().over(w))
    probes = s.select(
        "b", F.col("k").alias("k_b"), F.col("i").alias("i_b"),
        F.explode(F.array(*[F.col("rn") - o
                            for o in range(1, window + 1)])).alias("rn"))
    return (s.join(probes.filter(F.col("rn") >= 1), ["b", "rn"])
            .filter(F.levenshtein("k", "k_b") <= max_dist)
            .select(F.col("b").alias(block),
                    F.col("i").alias("id_a"), F.col("i_b").alias("id_b"),
                    F.col("k").alias("key_a"), F.col("k_b").alias("key_b"),
                    F.levenshtein("k", "k_b").cast("int").alias("dist")))


CDC_W = 16                       # boundary-decision window (chars)
CDC_MOD = 64                     # boundary when hex16 % MOD == 0


def cdc_chunks(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", w: int = CDC_W,
               mod: int = CDC_MOD) -> DataFrame:
    """Content-defined chunking (LBFS, Muthitacharoen et al. SOSP'01;
    the rsync / restic / storage-dedup primitive): split every
    document at positions where the hash of the trailing ``w``-char
    window satisfies ``hex16(md5(window)) % mod == 0`` — boundaries
    are decided by CONTENT, so inserting or deleting a character
    re-chunks only the local region and every chunk after the next
    boundary re-synchronizes (fixed-size blocking loses all alignment
    after one insert; the shift-resilience test pins exactly this).
    Expected chunk length = ``mod`` chars; the final position is
    always a boundary so chunks exactly tile the document.

    Returns ``(id, chunk_idx, start, chunk_len, chunk_md5)`` — 1-based
    character spans; ``chunk_md5`` is the dedup identity downstream
    group-bys count.

    Shape at scale: the position explode is per-document and map-side
    (filter to ~1/mod boundary rows happens in the same codegen stage
    — the exploded rows never shuffle), then one narrow per-doc
    window builds spans and one hash agg groups chunk identities
    (uniform md5 keys, map-side partials).  Hashing every character
    position is inherent to CDC; the md5-of-window probe (O(w)/char,
    all JVM) would swap for a gear/Rabin rolling hash (O(1)/char) in
    a mapInPandas tier at 100 TB — same boundary rule, same
    downstream topology, which is what the oracle and tests pin.

    Reference analog: none — engine extension (SURVEY §2.10 E113).
    """
    alpha = F.lit("0123456789abcdef")
    t, i = F.col(text_col), F.col("i")
    pos = (df.where(F.length(text_col) > 0)
           .select(F.col(id_col).alias("id"), t.alias("t"),
                   F.explode(F.sequence(F.lit(w), F.length(t)))
                   .alias("i")))
    h = F.md5(F.expr(f"substring(t, i - {w - 1}, {w})"))
    d = [F.instr(alpha, F.substring(h, k, 1)) - 1 for k in (1, 2, 3, 4)]
    h16 = d[0] * 4096 + d[1] * 256 + d[2] * 16 + d[3]
    ends = (pos.where(h16 % mod == 0).select("id", i.alias("e"))
            .union(df.where(F.length(text_col) > 0)
                   .select(F.col(id_col).alias("id"),
                           F.length(text_col).alias("e")))
            .distinct())
    win = Window.partitionBy("id").orderBy("e")
    spans = ends.select(
        "id", "e",
        (F.coalesce(F.lag("e").over(win), F.lit(0)) + 1).alias("start"),
        F.row_number().over(win).alias("chunk_idx"))
    return (spans
            .join(df.select(F.col(id_col).alias("id"),
                            F.col(text_col).alias("t")), "id")
            .select(F.col("id").alias(id_col), "chunk_idx", "start",
                    (F.col("e") - F.col("start") + 1).alias("chunk_len"),
                    F.md5(F.expr("substring(t, start, e - start + 1)"))
                    .alias("chunk_md5")))


def blocking_quality(df: DataFrame, block: str, key: str,
                     id_col: str = "doc_id", window: int = 3,
                     max_dist: int = 2) -> DataFrame:
    """Blocking-scheme evaluation (Christen, TKDE 2012): how good is
    the sorted-neighborhood blocking (:func:`sorted_neighborhood_
    pairs`) as a COMPARISON BUDGET?  Three standard numbers, exact
    integers/ppm:

    * reduction ratio — comparisons avoided vs all within-block
      pairs: ``rr_ppm = 10^6 − n_comparisons·10^6 div n_block_pairs``
    * pair completeness (recall of the budget) — true matches the
      window still reaches: ``pc_ppm = n_found·10^6 div n_true``
    * pair quality (precision of the budget):
      ``pq_ppm = n_found·10^6 div n_comparisons``

    The comparison count is CLOSED-FORM from block sizes (a block of
    n makes ``n·w − w(w+1)/2`` comparisons when n > w, else all
    ``n(n−1)/2``) — no pair materialization.  Ground truth is the
    exhaustive within-block Levenshtein tier — the O(n_b²)
    certification this operator exists to let a deployment AVOID;
    at 10^10 rows you sample blocks for it (here the blocks are
    host-sized and small).

    Returns one row ``(n_records, n_blocks, n_block_pairs,
    n_comparisons, n_true, n_found, rr_ppm, pc_ppm, pq_ppm)``.

    Reference analog: none — engine extension (SURVEY §2.10 E131).
    """
    w = int(window)
    sizes = df.groupBy(F.col(block).alias("b")) \
        .agg(F.count(F.lit(1)).alias("n"))
    comps = F.expr(f"case when n > {w} then n * {w} "
                   f"- {w * (w + 1) // 2} "
                   "else n * (n - 1) div 2 end")
    base = sizes.agg(
        F.sum("n").cast("long").alias("n_records"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(F.expr("n * (n - 1) div 2")).cast("long")
        .alias("n_block_pairs"),
        F.sum(comps).cast("long").alias("n_comparisons"))
    a = df.select(F.col(block).alias("b"), F.col(id_col).alias("ia"),
                  F.col(key).alias("ka"))
    bb = df.select(F.col(block).alias("b"), F.col(id_col).alias("ib"),
                   F.col(key).alias("kb"))
    true_pairs = (a.join(bb, "b").where(F.col("ia") < F.col("ib"))
                  .where(F.levenshtein("ka", "kb") <= max_dist)
                  .agg(F.count(F.lit(1)).cast("long").alias("n_true")))
    found = (sorted_neighborhood_pairs(df, block, key, id_col,
                                       window=w, max_dist=max_dist)
             .agg(F.count(F.lit(1)).cast("long").alias("n_found")))
    return (base.crossJoin(F.broadcast(true_pairs))
            .crossJoin(F.broadcast(found))
            .select("n_records", "n_blocks", "n_block_pairs",
                    "n_comparisons", "n_true", "n_found",
                    F.expr("1000000 - n_comparisons * 1000000 "
                           "div greatest(n_block_pairs, 1)")
                    .cast("long").alias("rr_ppm"),
                    F.expr("n_found * 1000000 div greatest(n_true, 1)")
                    .cast("long").alias("pc_ppm"),
                    F.expr("n_found * 1000000 "
                           "div greatest(n_comparisons, 1)")
                    .cast("long").alias("pq_ppm")))


def prefix_filter_pairs(df: DataFrame, threshold: float, n: int = 3,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Exact Jaccard-threshold pairs via PREFIX FILTERING (the
    AllPairs/PPJoin candidate rule — Chaudhuri et al. ICDE'06,
    Bayardo et al. WWW'07, Xiao et al. WWW'08): the same answer as
    :func:`jaccard_pairs` from a fraction of the candidate pairs.

    The rule: order every record's shingles by ONE global total
    order (document frequency asc, shingle asc — rarest first), keep
    only the first ``|x| − ⌈t·|x|⌉ + 1`` as the record's PREFIX, and
    join prefixes with prefixes.  Losslessness is the pigeonhole
    lemma: J(x,y) ≥ t forces overlap ≥ ⌈t·max(|x|,|y|)⌉, and a pair
    sharing nothing across its prefixes fits every common shingle
    into one side's ⌈t·|x|⌉−1 suffix — too few.  A size filter
    (t·|y| ≤ |x| ≤ |y|/t, integer bp form) prunes survivors before
    verification, and the exact intersection is computed ONLY for
    candidates, JVM-side (``array_intersect`` on the two shingle
    arrays — per-pair O(|x|+|y|), no re-explode).

    Why it matters at 100 TB: :func:`jaccard_pairs` pays one reduce
    row per (pair, shared shingle) — on template-heavy corpora the
    hot shingles make that quadratic.  Prefix filtering indexes each
    record by its RAREST shingles only (frequent shingles fall out
    of every prefix), so the candidate stream shrinks by orders of
    magnitude while staying exact — the standard exact-tier design
    next to the MinHash approximate tier.  Costs: one extra
    fact-sized join (shingle → document frequency) + one per-record
    top-(prefix) window; both uniform-key.

    Equality with :func:`jaccard_pairs` and the candidate-count
    reduction are test-pinned; the contract oracle is the same
    brute-force SQL the plain tier matches.

    Returns ``(id_a, id_b, n_inter, sz_a, sz_b, jaccard_bp)`` —
    bit-identical to :func:`jaccard_pairs`.

    Reference analog: none — engine extension (SURVEY §2.10 E133).
    """
    t_bp = int(threshold * 10000)
    sh = (df.select(F.col(id_col).alias("id"),
                    shingles_col(n, text_col).alias("sh"))
          .filter(F.size("sh") > 0))
    ex = sh.select("id", F.explode("sh").alias("s"))
    freq = ex.groupBy("s").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "s")
    pos = (ex.join(freq, "s")
           .withColumn("pos", F.row_number().over(w)))
    sizes = sh.select("id", F.size("sh").cast("int").alias("sz"))
    keep = (F.col("sz")
            - F.expr(f"(sz * {t_bp} + 9999) div 10000") + 1)
    pre = (pos.join(sizes, "id")
           .filter(F.col("pos") <= keep)
           .select("id", "s", "sz"))
    a, b = pre.alias("a"), pre.alias("b")
    cand = (a.join(b, (F.col("a.s") == F.col("b.s"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    F.col("a.sz").alias("sz_a"),
                    F.col("b.sz").alias("sz_b"))
            .filter((F.col("sz_b").cast("long") * 10000
                     >= F.col("sz_a").cast("long") * t_bp)
                    & (F.col("sz_a").cast("long") * 10000
                       >= F.col("sz_b").cast("long") * t_bp))
            .distinct())
    ver = (cand
           .join(sh.select(F.col("id").alias("id_a"),
                           F.col("sh").alias("sh_a")), "id_a")
           .join(sh.select(F.col("id").alias("id_b"),
                           F.col("sh").alias("sh_b")), "id_b")
           .withColumn("n_inter",
                       F.size(F.array_intersect("sh_a", "sh_b"))
                       .cast("long"))
           .withColumn("jaccard_bp",
                       F.floor(F.col("n_inter") * 10000
                               / (F.col("sz_a") + F.col("sz_b")
                                  - F.col("n_inter"))).cast("long")))
    return (ver.filter(F.col("jaccard_bp") >= t_bp)
            .select("id_a", "id_b", "n_inter", "sz_a", "sz_b",
                    "jaccard_bp"))


def prefix_filter_candidates(df: DataFrame, threshold: float,
                             n: int = 3, id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """The candidate-pair stream of :func:`prefix_filter_pairs`
    BEFORE verification — exposed for the reduction audit (tests
    compare its count against the share-any-shingle candidate set
    the plain tier reduces over)."""
    t_bp = int(threshold * 10000)
    sh = (df.select(F.col(id_col).alias("id"),
                    shingles_col(n, text_col).alias("sh"))
          .filter(F.size("sh") > 0))
    ex = sh.select("id", F.explode("sh").alias("s"))
    freq = ex.groupBy("s").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "s")
    pos = (ex.join(freq, "s")
           .withColumn("pos", F.row_number().over(w)))
    sizes = sh.select("id", F.size("sh").cast("int").alias("sz"))
    keep = (F.col("sz")
            - F.expr(f"(sz * {t_bp} + 9999) div 10000") + 1)
    pre = (pos.join(sizes, "id")
           .filter(F.col("pos") <= keep)
           .select("id", "s", "sz"))
    a, b = pre.alias("a"), pre.alias("b")
    return (a.join(b, (F.col("a.s") == F.col("b.s"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    F.col("a.sz").alias("sz_a"),
                    F.col("b.sz").alias("sz_b"))
            .filter((F.col("sz_b").cast("long") * 10000
                     >= F.col("sz_a").cast("long") * t_bp)
                    & (F.col("sz_a").cast("long") * 10000
                       >= F.col("sz_b").cast("long") * t_bp))
            .distinct())


def dedup_savings_audit(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Price the dedup BEFORE running the rewrite (E156) — the
    storage twin of the zonemap/gap-compression audits (E140/E144):
    what does exact deduplication actually buy on THIS corpus?  Per
    duplicate-cluster size, the exact count of clusters and the
    exact characters reclaimed by keeping only the min-id member of
    each cluster (the keep-list rule the clustering operator E18
    ends with).  Size-1 "clusters" are reported too — they are the
    baseline that says how much of the corpus dedup cannot touch.

    Exact integers: ``waste_chars`` = Σ(cluster total chars − the
    KEEPER's chars), computed per cluster so mixed-length exact
    duplicates (case-folded copies differ in byte length, not normal
    form) are priced by what is actually deleted, not size·avg.

    Shape: one fingerprint hash agg over the corpus (min-struct
    carries the keeper's length through the same pass — no second
    join back to the raw rows), then a histogram agg over the
    CLUSTER rows.  Output is bounded by the largest cluster size.

    → ``(cluster_size, n_clusters, n_docs, waste_chars)``.

    Reference analog: none — engine extension (SURVEY §2.10 E156).
    """
    fp = with_fingerprint(df, text_col)
    clusters = (fp.select("fingerprint",
                          F.col(id_col).alias("id"),
                          F.length(text_col).cast("long").alias("ch"))
                .groupBy("fingerprint")
                .agg(F.count(F.lit(1)).cast("long").alias("sz"),
                     F.sum("ch").cast("long").alias("tot"),
                     F.min(F.struct(F.col("id"), F.col("ch")))
                     .alias("keeper")))
    return (clusters
            .select("sz", (F.col("tot") - F.col("keeper.ch"))
                    .alias("waste"))
            .groupBy(F.col("sz").alias("cluster_size"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"),
                 F.sum("waste").cast("long").alias("waste_chars"))
            .select("cluster_size", "n_clusters",
                    (F.col("cluster_size") * F.col("n_clusters"))
                    .cast("long").alias("n_docs"),
                    "waste_chars"))


def ngram_novelty(df: DataFrame, n: int = 3, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-document n-gram novelty (E173) — the diminishing-returns
    curve of corpus growth: how many of a document's distinct word
    n-grams have never appeared in any EARLIER document (earlier =
    smaller id, the corpus accession order)?  A fresh crawl slice
    whose novelty_ppm trends toward zero is re-fetching what the
    corpus already holds — the keep/stop signal incremental corpus
    building reads, and the per-doc form of the exact tier behind
    dedup: an exact copy later in accession order scores 0.

    The trick that makes it ONE pass: a gram's novelty credit goes to
    exactly its FIRST document, so per-doc novel counts are just
    ``groupBy(gram).min(id)`` re-aggregated by that first id — the
    gram dim is never joined back to the (doc, gram) pairs.  Physical
    shape: one explode scan → two hash aggs (doc-keyed totals,
    gram-keyed firsts → first-doc-keyed counts) + one doc-id join;
    repeated grams are absorbed map-side (shingles are per-doc
    distinct already); no windows, no driver materialization — at
    10^10 docs every shuffle key is either a doc id or a gram string
    (uniform by content).

    → ``(id_col, n_grams, n_novel, novelty_ppm)`` for every input
    document; a doc with no n-grams (< n tokens) reports (0, 0,
    NULL).

    Reference analog: none — engine extension (training-data
    curation tier)."""
    pairs = df.select(F.col(id_col).alias("id"),
                      F.explode(shingles_col(n, text_col)).alias("g"))
    totals = pairs.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"))
    firsts = (pairs.groupBy("g").agg(F.min("id").alias("id"))
              .groupBy("id").agg(
                  F.count(F.lit(1)).cast("long").alias("n_novel")))
    return (df.select(F.col(id_col).alias("id")).distinct()
            .join(totals, "id", "left").join(firsts, "id", "left")
            .select(F.col("id").alias(id_col),
                    F.coalesce("n_grams", F.lit(0)).cast("long")
                    .alias("n_grams"),
                    F.coalesce("n_novel", F.lit(0)).cast("long")
                    .alias("n_novel"),
                    F.when(F.coalesce("n_grams", F.lit(0)) > 0,
                           F.expr("1000000 * coalesce(n_novel, 0) "
                                  "div n_grams"))
                    .cast("long").alias("novelty_ppm")))


def _s_curve_exprs(r: int, b: int, div_op: str) -> tuple[str, str]:
    """Shared expression text for the LSH S-curve with PER-STEP ppm
    flooring as the cross-engine spec: p_and = fold of r ppm
    multiplies of s; collide = 10⁶ − fold of b ppm multiplies of
    (10⁶ − p_and).  ``div_op`` is ``div`` (Spark) or ``//`` (DuckDB);
    operands are non-negative so both floor identically.  Returns
    (p_and_expr over column s_ppm, collide_expr over column
    p_and_ppm)."""
    e = "1000000"
    for _ in range(r):
        e = f"(({e}) * s_ppm {div_op} 1000000)"
    q = "1000000"
    for _ in range(b):
        q = f"(({q}) * (1000000 - p_and_ppm) {div_op} 1000000)"
    return e, f"(1000000 - ({q}))"


def lsh_s_curve(spark, configs=((16, 4), (8, 8), (32, 2)),
                s_step: int = 100_000) -> DataFrame:
    """The LSH parameter S-curve table (E201) — the analytic step
    BEFORE committing a (bands, rows-per-band) MinHash config (E3
    ships 16×4): for each config and each true Jaccard similarity s,
    the probability at least one band collides,

        P(s) = 1 − (1 − s^r)^b,

    evaluated in EXACT integer ppm with per-step flooring as the
    spec (each of the r, then b, multiplies floors back to ppm — a
    deterministic fixed-point recipe both engines replay digit-for-
    digit; the true-real curve differs from it by < r+b ppm, far
    inside any engineering margin).  Reading the table: where the
    curve crosses ~½ is the config's effective threshold; the
    steeper the crossing, the cleaner the dedupe cut.  Pure literal
    arithmetic — |configs|·9 rows, zero data touched; it documents
    the knobs the E3 pipeline runs with.

    → (bands, rows_per_band, s_ppm, p_and_ppm, collide_ppm).
    """
    out = None
    for b, r in configs:
        if b < 1 or r < 1:
            raise ValueError("bands and rows_per_band must be >= 1")
        rows = spark.createDataFrame(
            [(s,) for s in range(s_step, 1_000_000, s_step)],
            "s_ppm long")
        p_and, collide = _s_curve_exprs(r, b, "div")
        df = (rows
              .withColumn("p_and_ppm",
                          F.expr(p_and).cast("long"))
              .withColumn("collide_ppm",
                          F.expr(collide).cast("long"))
              .select(F.lit(b).cast("int").alias("bands"),
                      F.lit(r).cast("int").alias("rows_per_band"),
                      "s_ppm", "p_and_ppm", "collide_ppm"))
        out = df if out is None else out.unionByName(df)
    return out


def source_overlap_matrix(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          source_col: str = "source") -> DataFrame:
    """Cross-source content-overlap matrix (E221) — the audit run
    before mixing corpora: which sources carry the same content
    (Common-Crawl-derived sets overlap heavily; double-counted
    content silently re-weights the training mix E128 computes).
    Cluster = exact content identity (md5 of the text, the E60
    dedupe key); for every unordered source pair, the number of
    shared clusters, the document mass each side contributes to
    them, and the containment of the SMALLER catalog in floor ppm
    (n_shared·10⁶ div min(|A|, |B|) — the asymmetric-size-robust
    normalization).

    Scale shape: one (cluster, source)-key agg over the corpus
    (uniform md5 keys), then a self-join ON CLUSTER whose per-key
    fan-out is bounded by |sources| (a dim, not a table) — never a
    doc×doc or source-catalog×catalog product; per-source cluster
    totals are a |sources|-row broadcast dim.

    → ``(source_a, source_b, n_shared_clusters, n_docs_a, n_docs_b,
    overlap_ppm)``.

    Reference analog: none (single-source crawler); engine
    extension (SURVEY §2.10 E221).
    """
    cl = (docs.select(F.md5(F.col(text_col)).alias("ck"),
                      F.col(source_col).alias("src"))
          .groupBy("ck", "src")
          .agg(F.count(F.lit(1)).cast("long").alias("n")))
    tot = (cl.groupBy("src")
           .agg(F.count(F.lit(1)).cast("long").alias("t")))
    a, b = cl.alias("a"), cl.alias("b")
    pairs = (a.join(b, (F.col("a.ck") == F.col("b.ck"))
                    & (F.col("a.src") < F.col("b.src")))
             .groupBy(F.col("a.src").alias("source_a"),
                      F.col("b.src").alias("source_b"))
             .agg(F.count(F.lit(1)).cast("long")
                  .alias("n_shared_clusters"),
                  F.sum("a.n").cast("long").alias("n_docs_a"),
                  F.sum("b.n").cast("long").alias("n_docs_b")))
    return (pairs
            .join(F.broadcast(tot.select(
                F.col("src").alias("source_a"),
                F.col("t").alias("ta"))), "source_a")
            .join(F.broadcast(tot.select(
                F.col("src").alias("source_b"),
                F.col("t").alias("tb"))), "source_b")
            .select("source_a", "source_b", "n_shared_clusters",
                    "n_docs_a", "n_docs_b",
                    F.expr("n_shared_clusters * 1000000 div "
                           "least(ta, tb)").cast("long")
                    .alias("overlap_ppm")))
