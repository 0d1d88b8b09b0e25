"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: a real 3-wave crawl (SparkCrawler) over
the deterministic web derived from sf0.001 documents.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator
(SURVEY.md §2 ids cited per query); the driver cross-checks each pair
via DuckDB at sf0.01 (row count + schema + order-insensitive value
hash), so every computed column is aliased identically on both sides.

Identity note: engine-internal page identity is sha1(host+path)
(reference parity, /root/reference/pkg/linkutils/linkutils.go:66-71);
DuckDB 1.0 lacks sha1, so oracle-compared ids use md5(host||path)
(same dedupe semantics).  sha1 parity is pinned by tests/test_canon.py.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from web_graph_spark import webgen
from web_graph_spark.canon import canonicalize_df


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _links_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All derived links, canonicalized by the engine's JVM SQL tier
    (operator F5-F8 surface; root-relative hrefs resolved first)."""
    l = webgen.links_full_df(spark, sf_dir)
    href_abs = F.when(F.col("href").startswith("/"),
                      F.concat(F.lit("https://"), F.col("src_host"),
                               F.col("href"))).otherwise(F.col("href"))
    l = l.withColumn("href_abs", href_abs)
    c = canonicalize_df(l, url_col="href_abs", mode="sql")
    return c.select(
        "src_doc_id", "k", "href", "tgt_doc_id",
        F.col("canon.host").alias("host"),
        F.col("canon.path").alias("path"),
        F.col("canon.admissible").alias("admissible"),
        F.md5(F.concat(F.col("canon.host"), F.col("canon.path")))
         .alias("check_id"))


def _oracle(body: str, *, seeds: bool = False) -> str:
    parts = [webgen.PAGES_SQL.strip(), webgen.links_sql().strip()]
    if seeds:
        parts.append(webgen.SEEDS_SQL.strip())
    return "WITH " + ",\n".join(p.strip().rstrip() for p in parts) + "\n" + body


def _oracle_recursive(body: str) -> str:
    """Same as _oracle but with WITH RECURSIVE (DuckDB accepts
    non-recursive CTEs inside a RECURSIVE clause)."""
    return "WITH RECURSIVE " + _oracle(body)[len("WITH "):]


def _wc_verdict_sql(tag: str) -> str:
    """Wildcard-robots verdict chain (E150 semantics) over a CTE
    named ``rules_{tag}`` — emits ``rx_/hits_/best_/verdict_{tag}``
    CTE text; ``verdict_{tag}`` is (doc_id, allowed).  Mirrors
    operators/robots.py:robots_wildcard_eval verbatim."""
    t = tag
    return rf"""
rx_{t} AS (
  SELECT host, rule_type, pattern,
         CASE WHEN pattern LIKE '%$'
              THEN '^' || substr(s, 1, length(s) - 2) || '$'
              ELSE '^' || s END AS rx,
         length(pattern) AS spec
  FROM (SELECT host, rule_type, pattern,
               replace(regexp_replace(pattern,
                 '([.\[\]{{}}()+?^$|\\])', '\\\1', 'g'),
                 '*', '.*') AS s
        FROM rules_{t})),
hits_{t} AS (
  SELECT p.doc_id, r.rule_type, r.pattern, r.spec
  FROM web_pages p
  JOIN rx_{t} r ON r.host = p.host
              AND regexp_matches(p.path, r.rx)),
best_{t} AS (
  SELECT doc_id, rule_type FROM hits_{t}
  QUALIFY row_number() OVER (
    PARTITION BY doc_id
    ORDER BY spec DESC, (rule_type = 'allow') DESC,
             pattern, rule_type) = 1),
verdict_{t} AS (
  SELECT p.doc_id, coalesce(b.rule_type = 'allow', TRUE) AS allowed
  FROM web_pages p LEFT JOIN best_{t} b USING (doc_id))"""


def _kcore_unrolled_sql(k: int, rounds: int) -> str:
    """Fixed-round synchronous k-core peeling unrolled to plain SQL —
    the oracle for q_graph_kcore.  Each round mirrors
    operators/graph_algos.py:kcore exactly: survivors = vertices with
    ≥ k neighbors among the previous round's survivors; the final
    projection re-derives degree within the settled core."""
    parts = ["""
, e0 AS (
  SELECT DISTINCT least(src_doc_id, tgt_doc_id) AS u,
         greatest(src_doc_id, tgt_doc_id) AS v
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
),
und AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
a0 AS (SELECT DISTINCT doc_id AS id FROM web_pages)"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
d{i} AS (
  SELECT und.u, count(*) AS d FROM und
  JOIN a{i - 1} x ON x.id = und.u
  JOIN a{i - 1} y ON y.id = und.v
  GROUP BY 1
),
a{i} AS (SELECT u AS id FROM d{i} WHERE d >= {k})""")
    parts.append(f"""
SELECT und.u AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
FROM und
JOIN a{rounds} x ON x.id = und.u
JOIN a{rounds} y ON y.id = und.v
GROUP BY 1""")
    return "".join(parts)


def _densest_unrolled_sql(rounds: int = 8) -> str:
    """Fixed-round BKV densest-subgraph peeling unrolled to plain SQL
    — the oracle for q_graph_densest.  Each round mirrors
    operators/graph_algos.py:densest_subgraph exactly: per-round
    (|E|, |S|) stats, simultaneous drop of vertices with
    deg·|S| ≤ 3·|E| (ε = 1/2 bar, cross-multiplied), then the best
    round by exact rational density comparison (earliest wins ties)
    and that set's in-set degrees."""
    parts = ["""
, e0 AS MATERIALIZED (
  SELECT DISTINCT least(src_doc_id, tgt_doc_id) AS u,
         greatest(src_doc_id, tgt_doc_id) AS v
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
),
und AS MATERIALIZED (SELECT u, v FROM e0
                     UNION ALL SELECT v AS u, u AS v FROM e0),
a0 AS MATERIALIZED (SELECT DISTINCT doc_id AS id FROM web_pages)"""]
    for i in range(rounds + 1):
        parts.append(f""",
s{i} AS MATERIALIZED (
  SELECT {i} AS r,
         (SELECT count(*) FROM e0
          JOIN a{i} x ON x.id = e0.u
          JOIN a{i} y ON y.id = e0.v) AS ne,
         (SELECT count(*) FROM a{i}) AS ns)""")
        if i < rounds:
            parts.append(f""",
a{i + 1} AS MATERIALIZED (
  SELECT und.u AS id FROM und
  JOIN a{i} x ON x.id = und.u
  JOIN a{i} y ON y.id = und.v
  GROUP BY 1
  HAVING count(*) * (SELECT ns FROM s{i}) > 3 * (SELECT ne FROM s{i}))""")
    stats_union = " UNION ALL ".join(f"SELECT r, ne, ns FROM s{i}"
                                     for i in range(rounds + 1))
    sets_union = " UNION ALL ".join(f"SELECT {i} AS r, id FROM a{i}"
                                    for i in range(rounds + 1))
    parts.append(f""",
stats AS ({stats_union}),
best AS (
  SELECT r, ne, ns FROM stats s
  WHERE ns > 0 AND NOT EXISTS (
    SELECT 1 FROM stats t WHERE t.ns > 0 AND
      (t.ne * s.ns > s.ne * t.ns
       OR (t.ne * s.ns = s.ne * t.ns AND t.r < s.r)))),
sel AS (SELECT id FROM ({sets_union}) z JOIN best USING (r))
SELECT und.u AS doc_id, CAST(count(*) AS BIGINT) AS deg_in,
       CAST(b.r AS INTEGER) AS best_round,
       CAST(b.ns AS BIGINT) AS set_size,
       CAST(b.ne AS BIGINT) AS set_edges,
       CAST(b.ne * 1000000 // b.ns AS BIGINT) AS density_ppm
FROM und
JOIN sel x ON x.id = und.u
JOIN sel y ON y.id = und.v
CROSS JOIN best b
GROUP BY und.u, b.r, b.ns, b.ne""")
    return "".join(parts)


def _ktruss_unrolled_sql(k: int, rounds: int) -> str:
    """Fixed-round synchronous k-truss support peeling unrolled to
    plain SQL — the oracle for q_graph_ktruss.  Each round mirrors
    operators/graph_algos.py:ktruss exactly: triangles among the
    previous round's survivors via the id-oriented (a<b)(b<c)(a<c)
    joins, per-edge support, simultaneous drop under k−2; the final
    projection re-derives support within the settled truss.

    Every CTE is ``AS MATERIALIZED``: each round references its
    predecessor 4 times (three triangle sides + the filter base) —
    naive inlining would expand 4^rounds parquet scans and exhaust
    file descriptors before it exhausted patience."""
    def tri(i: int, prev: str) -> str:
        return f"""
tr{i} AS MATERIALIZED (
  SELECT ab.u AS a, ab.v AS b, bc.v AS c
  FROM {prev} ab
  JOIN {prev} bc ON bc.u = ab.v
  JOIN {prev} ac ON ac.u = ab.u AND ac.v = bc.v
),
sp{i} AS MATERIALIZED (
  SELECT u, v, count(*) AS s FROM (
    SELECT a AS u, b AS v FROM tr{i}
    UNION ALL SELECT b AS u, c AS v FROM tr{i}
    UNION ALL SELECT a AS u, c AS v FROM tr{i})
  GROUP BY 1, 2
)"""

    parts = ["""
, t0 AS MATERIALIZED (
  SELECT DISTINCT least(src_doc_id, tgt_doc_id) AS u,
         greatest(src_doc_id, tgt_doc_id) AS v
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
)"""]
    for i in range(1, rounds + 1):
        parts.append("," + tri(i, f"t{i - 1}") + f""",
t{i} AS MATERIALIZED (
  SELECT t.u, t.v FROM t{i - 1} t
  JOIN sp{i} s ON s.u = t.u AND s.v = t.v
  WHERE s.s >= {k - 2}
)""")
    parts.append("," + tri(rounds + 1, f"t{rounds}") + f"""
SELECT t.u, t.v, CAST(coalesce(s.s, 0) AS BIGINT) AS support
FROM t{rounds} t
LEFT JOIN sp{rounds + 1} s ON s.u = t.u AND s.v = t.v""")
    return "".join(parts)


def _lpa_rounds_sql(iters: int) -> str:
    """The CTE chain of :func:`_lpa_unrolled_sql` WITHOUT the final
    SELECT — shared by the label-prop oracle and every oracle that
    consumes the community assignment (``l{iters}`` is the last CTE:
    (id, lbl))."""
    parts = ["""
, e AS (
  SELECT DISTINCT least(src_doc_id, tgt_doc_id) AS u,
         greatest(src_doc_id, tgt_doc_id) AS v
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
),
und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
l0 AS (SELECT doc_id AS id, doc_id AS lbl FROM web_pages)"""]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(f""",
v{i} AS (
  SELECT und.u AS id, p.lbl, count(*) AS n
  FROM und JOIN l{p} p ON p.id = und.v
  GROUP BY 1, 2
),
b{i} AS (
  SELECT id, lbl AS new_lbl FROM (
    SELECT id, lbl,
           row_number() OVER (PARTITION BY id
                              ORDER BY n DESC, lbl ASC) AS rn
    FROM v{i}) WHERE rn = 1
),
l{i} AS (
  SELECT p.id, coalesce(b.new_lbl, p.lbl) AS lbl
  FROM l{p} p LEFT JOIN b{i} b ON b.id = p.id
)""")
    return "".join(parts)


def _lpa_unrolled_sql(iters: int) -> str:
    """Synchronous label propagation unrolled to ``iters`` rounds of
    plain SQL — the oracle for q_graph_label_prop.  Each round mirrors
    operators/graph_algos.py:label_propagation exactly: votes = one
    label per distinct undirected neighbor edge, winner = highest
    count then smallest label, isolated vertices keep their label."""
    return (_lpa_rounds_sql(iters) + f"""
SELECT id AS doc_id, CAST(lbl AS BIGINT) AS community FROM l{iters}""")


def _opic_sql(rounds: int, scale: int) -> str:
    """Oracle for q_graph_opic: the integer OPIC cash/history
    recurrence of operators/graph_algos.py:opic_importance unrolled
    to ``rounds`` plain-SQL CTEs — every step is integer floor
    division on non-negative values, so DuckDB's ``//`` reproduces
    Spark's ``div`` bit-for-bit.  The dangling (virtual-page) mass
    D and its per-node share D // n are scalar subqueries per round,
    mirroring the engine's 1-row broadcast cross."""
    nn = "(SELECT count(*) FROM vt)"
    parts = [f""",
de AS (SELECT DISTINCT src_doc_id AS u, tgt_doc_id AS v
       FROM web_links_full WHERE k % 4 <> 0),
outd AS (SELECT u, count(*) AS outdeg FROM de GROUP BY 1),
vt AS (SELECT DISTINCT doc_id AS id FROM web_pages),
c0 AS (SELECT id, CAST({scale} // {nn} AS BIGINT) AS cash,
              CAST(0 AS BIGINT) AS hist FROM vt)"""]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(f""",
d{i} AS (
  SELECT CAST(coalesce(sum(p.cash), 0) AS BIGINT) AS d
  FROM c{p} p LEFT JOIN outd o ON o.u = p.id
  WHERE o.outdeg IS NULL
),
i{i} AS (
  SELECT de.v AS id, CAST(sum(p.cash // o.outdeg) AS BIGINT) AS inc
  FROM de JOIN outd o ON o.u = de.u JOIN c{p} p ON p.id = de.u
  GROUP BY 1
),
c{i} AS (
  SELECT p.id,
         CAST(coalesce(i.inc, 0)
              + (SELECT d FROM d{i}) // {nn} AS BIGINT) AS cash,
         CAST(p.hist + p.cash AS BIGINT) AS hist
  FROM c{p} p LEFT JOIN i{i} i ON i.id = p.id
)""")
    parts.append(f"""
SELECT id AS doc_id, cash, hist,
       CAST(hist + cash AS BIGINT) AS importance FROM c{rounds}""")
    return "".join(parts)


def _ppr_sql(rounds: int, scale: int) -> str:
    """Oracle for q_graph_ppr: the integer personalized-PageRank
    recurrence of operators/graph_algos.py:personalized_pagerank
    unrolled to ``rounds`` plain-SQL CTEs — every step is integer
    floor division on non-negative values, so DuckDB's ``//``
    reproduces Spark's ``div`` bit-for-bit."""
    tele = f"((15 * {scale} // 100) // (SELECT count(*) FROM sd))"
    parts = [f""",
de AS (SELECT DISTINCT src_doc_id AS u, tgt_doc_id AS v
       FROM web_links_full WHERE k % 4 <> 0),
outd AS (SELECT u, count(*) AS outdeg FROM de GROUP BY 1),
ew AS (SELECT de.u, de.v, o.outdeg FROM de JOIN outd o ON o.u = de.u),
sd AS (SELECT DISTINCT seed_seq AS id FROM web_seeds),
r0 AS (SELECT id, CAST({scale} // (SELECT count(*) FROM sd) AS BIGINT)
           AS ppr FROM sd)"""]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(f""",
i{i} AS (
  SELECT ew.v AS id, CAST(sum(p.ppr // ew.outdeg) AS BIGINT) AS inc
  FROM ew JOIN r{p} p ON p.id = ew.u GROUP BY 1
),
r{i} AS (
  SELECT id, CAST(sum(ppr) AS BIGINT) AS ppr FROM (
    SELECT id, (85 * inc) // 100 AS ppr FROM i{i}
    UNION ALL
    SELECT id, {tele} AS ppr FROM sd
  ) GROUP BY 1
)""")
    parts.append(f"""
SELECT id AS doc_id, ppr FROM r{rounds} WHERE ppr > 0""")
    return "".join(parts)


def _quality_score_sql() -> str:
    """The E11 quality-score formula as one SQL expression over a
    ``text`` column — the oracle half of functions/text.py:
    with_quality, shared by text_quality-family oracles and the host
    scorecard."""
    from web_graph_spark.functions.text import (count_sql,
                                                stopword_count_sql)

    n_tok = count_sql("text", r"\S+")
    n_punct = count_sql("text", "[.,;:!?]")
    n_digit = count_sql("text", "[0-9]")
    return f"""CAST(greatest(
             least({n_tok}, 200) * 20
             + floor(({stopword_count_sql('text')}) * 10000.0
                     / greatest({n_tok}, 1))
             - floor({n_punct} * 10000.0 / greatest(length(text), 1))
             - floor({n_digit} * 10000.0 / greatest(length(text), 1)),
             0) AS BIGINT)"""


def _join_profile_sql(name: str, src: str, key: str,
                      broadcast_max: int, task_target: int = 100,
                      skew_min: int = 300, max_salt: int = 32) -> str:
    """One oracle block of q_crawl_join_plan: the freq law, the
    histogram median, the deterministic hot key, and the
    broadcast/hash/salted rule of operators/skew.py:join_key_profile."""
    fr = f"(SELECT count(*) AS f FROM {src} GROUP BY {key})"
    skew = f"s.max_freq * 100 // m.p50_freq"
    salted = (f"s.max_freq > {task_target} AND ({skew} >= {skew_min}"
              f" OR s.max_freq > {10 * task_target})")
    return f"""
SELECT '{name}' AS key_name, s.n_rows, s.n_keys, s.max_freq,
       h.hot_key, m.p50_freq,
       CAST({skew} AS BIGINT) AS skew_x100,
       CASE WHEN s.n_rows <= {broadcast_max} THEN 'broadcast'
            WHEN {salted} THEN 'salted' ELSE 'hash' END AS strategy,
       CAST(CASE WHEN s.n_rows > {broadcast_max} AND {salted}
                 THEN least((s.max_freq + {task_target} - 1)
                            // {task_target}, {max_salt})
                 ELSE 0 END AS BIGINT) AS salt_buckets
FROM
 (SELECT CAST(sum(f) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(f) AS BIGINT) AS max_freq FROM {fr}) s,
 (SELECT CAST(min(f) AS BIGINT) AS p50_freq FROM (
    SELECT f, sum(nk) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING)
               AS cum,
           (SELECT count(*) FROM {fr}) AS nkk
    FROM (SELECT f, count(*) AS nk FROM {fr} GROUP BY 1))
  WHERE cum * 2 >= nkk + 1) m,
 (SELECT max(kk) AS hot_key FROM
    (SELECT CAST({key} AS VARCHAR) AS kk, count(*) AS f
     FROM {src} GROUP BY 1)
  WHERE f = (SELECT max(f) FROM {fr})) h"""


def _lsh_curve_sql(configs=((16, 4), (8, 8), (32, 2))) -> str:
    """Oracle for q_dedup_lsh_curve: the SAME expression builder as
    the engine (functions/dedup.py:_s_curve_exprs), emitted with
    DuckDB's `//` — one spec, two engines."""
    from web_graph_spark.functions.dedup import _s_curve_exprs

    parts = []
    for b, r in configs:
        p_and, collide = _s_curve_exprs(r, b, "//")
        parts.append(f"""
SELECT CAST({b} AS INTEGER) AS bands,
       CAST({r} AS INTEGER) AS rows_per_band,
       CAST(s_ppm AS BIGINT) AS s_ppm,
       CAST(p_and_ppm AS BIGINT) AS p_and_ppm,
       CAST({collide} AS BIGINT) AS collide_ppm
FROM (SELECT s_ppm, {p_and} AS p_and_ppm
      FROM (SELECT unnest(generate_series(100000, 900000, 100000))
            AS s_ppm))""")
    return "\nUNION ALL".join(parts)


def _bloom_fpp_sql(configs: tuple[tuple[int, int], ...]) -> str:
    """Oracle for q_crawl_bloom_fpp: per (m, k) config, rebuild the
    exact double-hash bit set over even-doc_id check_ids, probe with
    the odd ones, and replay the audit row algebra of
    operators/seen.py:bloom_fpp_audit."""
    hx1 = _hexchunk_sql(1, "md5(check_id)")
    hx2 = _hexchunk_sql(5, "md5(check_id)")
    blocks, names = [], []
    for m, k in configs:
        t = f"{m}_{k}"
        names.append(f"row_{t}")
        blocks.append(f""",
mk_{t} AS (
  SELECT doc_id % 2 = 0 AS is_member, check_id AS key,
         {hx1} AS h1, {hx2} AS h2r
  FROM web_pages),
pos_{t} AS (
  SELECT m.is_member, m.key,
         (m.h1 + i.i * (m.h2r - m.h2r % 2 + 1)) % {m} AS bit
  FROM mk_{t} m
  CROSS JOIN (SELECT unnest(generate_series(0, {k - 1})) AS i) i),
bits_{t} AS (SELECT DISTINCT bit FROM pos_{t} WHERE is_member),
fl_{t} AS (
  SELECT p.key,
         min(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS all_set
  FROM pos_{t} p LEFT JOIN bits_{t} b ON b.bit = p.bit
  WHERE NOT p.is_member GROUP BY 1),
row_{t} AS (
  SELECT CAST({m} AS BIGINT) AS m_bits,
         CAST({k} AS BIGINT) AS k_hashes,
         (SELECT CAST(count(*) AS BIGINT) FROM web_pages
          WHERE doc_id % 2 = 0) AS n_keys,
         (SELECT CAST(count(*) AS BIGINT) FROM bits_{t}) AS n_bits_set,
         CAST((SELECT count(*) FROM bits_{t}) * 1000000 // {m}
              AS BIGINT) AS load_ppm,
         CAST(count(*) AS BIGINT) AS n_probes,
         CAST(sum(all_set) AS BIGINT) AS n_false_pos,
         CAST(CASE WHEN count(*) > 0
                   THEN sum(all_set) * 1000000 // count(*)
                   ELSE 0 END AS BIGINT) AS fpp_ppm
  FROM fl_{t})""")
    final = "\nSELECT * FROM " + "\nUNION ALL SELECT * FROM ".join(names)
    return "".join(blocks) + final


def _spam_chain_sql(rounds: int, scale: int, flag_ppm: int) -> str:
    """CTE chain shared by the trustrank oracle and the host
    scorecard: BOTH integer PPR chains of
    operators/graph_algos.py:spam_mass unrolled — g* teleports to all
    vertices (classic PageRank with evaporating mass), t* to the
    trusted seeds (TrustRank) — then the clamped relative-mass ppm.
    Every division is floor on non-negative operands, so DuckDB's
    ``//`` reproduces Spark's ``div`` bit-for-bit."""
    tele_g = f"((15 * {scale} // 100) // (SELECT count(*) FROM av))"
    tele_t = f"((15 * {scale} // 100) // (SELECT count(*) FROM sd))"
    parts = [f""",
de AS (SELECT DISTINCT src_doc_id AS u, tgt_doc_id AS v
       FROM web_links_full WHERE k % 4 <> 0),
outd AS (SELECT u, count(*) AS outdeg FROM de GROUP BY 1),
ew AS (SELECT de.u, de.v, o.outdeg FROM de JOIN outd o ON o.u = de.u),
av AS (SELECT DISTINCT doc_id AS id FROM web_pages),
sd AS (SELECT DISTINCT seed_seq AS id FROM web_seeds),
g0 AS (SELECT id, CAST({scale} // (SELECT count(*) FROM av) AS BIGINT)
           AS ppr FROM av),
t0 AS (SELECT id, CAST({scale} // (SELECT count(*) FROM sd) AS BIGINT)
           AS ppr FROM sd)"""]
    for i in range(1, rounds + 1):
        p = i - 1
        for tag, base, tele in (("g", "av", tele_g), ("t", "sd", tele_t)):
            parts.append(f""",
{tag}i{i} AS (
  SELECT ew.v AS id, CAST(sum(p.ppr // ew.outdeg) AS BIGINT) AS inc
  FROM ew JOIN {tag}{p} p ON p.id = ew.u GROUP BY 1
),
{tag}{i} AS (
  SELECT id, CAST(sum(ppr) AS BIGINT) AS ppr FROM (
    SELECT id, (85 * inc) // 100 AS ppr FROM {tag}i{i}
    UNION ALL
    SELECT id, {tele} AS ppr FROM {base}
  ) GROUP BY 1
)""")
    parts.append(f""",
spam AS (
  SELECT g.id AS doc_id, g.ppr AS pr,
         CAST(least(coalesce(t.ppr, 0), g.ppr) AS BIGINT) AS tr,
         CAST(((g.ppr - least(coalesce(t.ppr, 0), g.ppr)) * 1000000)
              // g.ppr AS BIGINT) AS spam_mass_ppm,
         ((g.ppr - least(coalesce(t.ppr, 0), g.ppr)) * 1000000)
             // g.ppr >= {flag_ppm} AS spam_flag
  FROM g{rounds} g LEFT JOIN t{rounds} t ON t.id = g.id
  WHERE g.ppr > 0)""")
    return "".join(parts)


def _spam_mass_sql(rounds: int, scale: int, flag_ppm: int) -> str:
    """Oracle for q_graph_trustrank: the shared chain's final
    ``spam`` CTE, projected."""
    return (_spam_chain_sql(rounds, scale, flag_ppm)
            + "\nSELECT doc_id, pr, tr, spam_mass_ppm, spam_flag "
              "FROM spam")


def _modularity_sql(iters: int) -> str:
    """Oracle for q_graph_modularity: the LPA rounds (shared CTE
    chain) followed by the exact-integer modularity decomposition —
    deg from the undirected view, internal edges from the canonical
    edge list joined to the final labels twice, q_num = 4·m·e_c −
    deg_c² (operators/graph_algos.py:modularity_by_community)."""
    return (_lpa_rounds_sql(iters) + f""",
deg AS (SELECT u AS id, count(*) AS deg FROM und GROUP BY 1),
m_row AS (SELECT count(*) AS m_edges FROM e),
internal AS (
  SELECT lu.lbl AS community, count(*) AS n_internal
  FROM e JOIN l{iters} lu ON lu.id = e.u
         JOIN l{iters} lv ON lv.id = e.v
  WHERE lu.lbl = lv.lbl
  GROUP BY 1
),
per_comm AS (
  SELECT l.lbl AS community, count(*) AS n_members,
         CAST(sum(coalesce(d.deg, 0)) AS BIGINT) AS deg_sum
  FROM l{iters} l LEFT JOIN deg d ON d.id = l.id
  GROUP BY 1
)
SELECT CAST(p.community AS BIGINT) AS community,
       CAST(p.n_members AS BIGINT) AS n_members,
       CAST(coalesce(i.n_internal, 0) AS BIGINT) AS n_internal,
       p.deg_sum,
       CAST(m.m_edges AS BIGINT) AS m_edges,
       CAST(4 * m.m_edges * coalesce(i.n_internal, 0)
            - p.deg_sum * p.deg_sum AS BIGINT) AS q_num
FROM per_comm p LEFT JOIN internal i ON i.community = p.community
CROSS JOIN m_row m""")


def _script_mix_sql() -> str:
    """Oracle for q_text_script_mix: the injected corpus, the class
    regexp counts (regexes shared VERBATIM from SCRIPT_CLASSES), and
    the dominant-script CASE chain mirroring script_mix's when-chain
    (earlier class wins ties via >= over later / > over earlier)."""
    from web_graph_spark.functions.text import SCRIPT_CLASSES, count_sql

    cnt = {n: count_sql("text", rx) for n, rx in SCRIPT_CLASSES}
    alpha = [n for n, _ in SCRIPT_CLASSES if n != "digit"]
    branches = []
    for i, name in enumerate(alpha):
        conds = ([f"n_{name} >= n_{o}" for o in alpha[i + 1:]]
                 + [f"n_{name} > n_{p}" for p in alpha[:i]])
        branches.append(f"WHEN {' AND '.join(conds) or 'TRUE'} "
                        f"THEN '{name}'")
    total = " + ".join(f"n_{n}" for n in alpha)
    cols = ",\n         ".join(
        f"CAST({cnt[n]} AS BIGINT) AS n_{n}" for n, _ in SCRIPT_CLASSES)
    return f"""
WITH inj AS (
  SELECT doc_id,
         CASE WHEN lang = 'zh' THEN replace(replace(text,
              ' table', ' 表'), ' data', ' 数据')
              ELSE text END AS t1
  FROM documents
),
corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0 THEN replace(t1, 'a', 'а')
              ELSE t1 END AS text
  FROM inj
),
c AS (
  SELECT doc_id,
         {cols}
  FROM corpus
)
SELECT doc_id, n_latin, n_cjk, n_cyrillic, n_greek, n_arabic, n_digit,
       CASE WHEN {total} = 0 THEN 'none'
            {' '.join(branches)}
            ELSE '{alpha[-1]}' END AS dominant,
       (n_latin > 0 AND n_cyrillic > 0) AS confusable
FROM c"""


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def build_span_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived web in the BASELINE.json input_hint shape:
    (page_id, url, host, path, content_type, fetch_ok,
     spans: array<struct<kind,text,media_ref,offset>>)."""
    l = webgen.links_full_df(spark, sf_dir)
    spans = (
        l.groupBy("src_doc_id")
        .agg(F.sort_array(F.collect_list(F.struct(
            F.col("k").alias("offset"), F.lit("link").alias("kind"),
            F.col("anchor").alias("text"),
            F.col("href").alias("media_ref")))).alias("raw"))
        .select("src_doc_id",
                F.transform("raw", lambda x: F.struct(
                    x["kind"].alias("kind"), x["text"].alias("text"),
                    x["media_ref"].alias("media_ref"),
                    x["offset"].cast("int").alias("offset"))).alias("spans")))
    pages = webgen.pages_df(spark, sf_dir)
    return (pages.join(spans, pages.doc_id == spans.src_doc_id, "left")
            .select(F.sha1(F.concat("host", "path")).alias("page_id"),
                    "url", "host", "path",
                    F.lit("text/html").alias("content_type"),
                    F.lit(True).alias("fetch_ok"),
                    F.coalesce("spans", F.array().cast(
                        "array<struct<kind:string,text:string,"
                        "media_ref:string,offset:int>>")).alias("spans")))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 3 crawl waves over the sf0.001-derived span web;
    returns the crawl order joined with crawled page rows."""
    from web_graph_spark.crawler import SparkCrawler

    sf_dir = "/root/testdata/sf0.001"
    web = build_span_web(spark, sf_dir)
    seeds = webgen.seeds_df(spark, sf_dir).withColumnRenamed("seed_seq", "seq")
    state = tempfile.mkdtemp(prefix="wgs_entry_")
    c = SparkCrawler(spark, state, web, max_waves=3)
    c.init_from_seeds(seeds)
    c.run()
    order = c.store.read("crawl_order").select("wave", "seq", "page_id")
    pages = c.store.read("pages").select("page_id", "host", "url")
    return order.join(pages, "page_id").orderBy("wave", "seq")


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def q_crawl_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5-F8 + X1: canonicalize every derived href (JVM tier)."""
    return _links_canon(spark, sf_dir).select(
        "src_doc_id", "k", "href", "host", "path", "admissible", "check_id")


def q_crawl_admission_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F3 aggregated: admissible/filtered link counts per host."""
    return (_links_canon(spark, sf_dir)
            .groupBy("host", "admissible")
            .agg(F.count("*").alias("n"))
            .select("host", "admissible", "n"))


def q_crawl_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: frontier candidates minus the seen set (left-anti join);
    seen ≡ pages with doc_id % 3 = 0."""
    l = _links_canon(spark, sf_dir).filter("admissible")
    cand = l.select("check_id", "host", "path").distinct()
    seen = (webgen.pages_df(spark, sf_dir).filter(F.col("doc_id") % 3 == 0)
            .select("check_id"))
    return cand.join(seen, "check_id", "left_anti")


def q_crawl_bloom_fpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom false-positive audit (operators/seen.py:bloom_fpp_audit
    E187): the measured-FPP evidence behind the seen-tier's sizing
    defaults — exact double-hash bit sets for three (m, k) configs
    over the even-doc_id check_ids, probed by the disjoint odd half.
    Oracle rebuilds bit sets + probe flags + audit algebra in SQL."""
    from web_graph_spark.operators.seen import bloom_fpp_audit

    pages = webgen.pages_df(spark, sf_dir)
    members = pages.filter(F.col("doc_id") % 2 == 0).select("check_id")
    probes = pages.filter(F.col("doc_id") % 2 == 1).select("check_id")
    return bloom_fpp_audit(members, probes, key_col="check_id")


def q_crawl_canonical_cluster(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """rel=canonical duplicate clustering (E196) — the crawl-store
    dedup pass driven by what pages DECLARE rather than what they
    contain (E3/E120 cluster by content; canonical clusters by
    webmaster intent, and real sites ship chains, cycles and
    mid-chain conflicts).  Deterministic declaration relation
    (direct member→base, 2-hop chains, a 77↔78 two-cycle); clusters
    = E9 large-star/small-star CC over the undirected declarations;
    per clustered page: min-id representative, cluster size, and the
    declares/is_target/conflict flags (conflict = declares AND is
    declared — the canonical-chain violation search consoles flag).
    Oracle re-derives declarations + recursive-CTE components."""
    from web_graph_spark.operators.graph_algos import connected_components

    n = webgen._n_docs(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    m = F.col("doc_id")
    dst = (F.when((m % 9 == 1) & (m >= 1), m - 1)
            .when((m % 9 == 2) & (m >= 2), m - 1)
            .when((m % 100 == 77) & (m + 1 < n), m + 1)
            .when(m % 100 == 78, m - 1))
    decl = (docs.select(m.alias("src"), dst.alias("dst"))
            .filter(F.col("dst").isNotNull()))
    verts = (decl.select(F.col("src").alias("doc_id"))
             .unionByName(decl.select(F.col("dst").alias("doc_id")))
             .distinct())
    cc = connected_components(verts, decl, src="src", dst="dst")
    sz = cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"))
    outf = (decl.select(F.col("src").alias("doc_id")).distinct()
            .withColumn("__d", F.lit(True)))
    inf = (decl.select(F.col("dst").alias("doc_id")).distinct()
           .withColumn("__t", F.lit(True)))
    return (cc.join(sz, "component")
            .filter(F.col("cluster_size") > 1)
            .join(outf, "doc_id", "left")
            .join(inf, "doc_id", "left")
            .select("doc_id",
                    F.col("component").alias("canonical_id"),
                    "cluster_size",
                    F.coalesce("__d", F.lit(False)).alias("declares"),
                    F.coalesce("__t", F.lit(False)).alias("is_target"),
                    (F.coalesce("__d", F.lit(False))
                     & F.coalesce("__t", F.lit(False))).alias("conflict")))


def q_crawl_frontier_wave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+D3+O1: one wave expansion — links from seed pages, admission
    via the canonicalizer, first-discovery-wins dedupe, dense FIFO seq."""
    seeds = webgen.seeds_df(spark, sf_dir)
    l = (_links_canon(spark, sf_dir)
         .join(seeds.select(F.col("seed_seq").alias("src_doc_id")),
               "src_doc_id")
         .filter("admissible")
         .join(seeds.select(F.col("seed_seq").alias("tgt_doc_id")),
               "tgt_doc_id", "left_anti"))
    first = (l.withColumn("ord", F.col("src_doc_id") * 8 + F.col("k"))
             .groupBy("tgt_doc_id", "check_id")
             .agg(F.min("ord").alias("ord")))
    # dense FIFO seq via the parallel range-partitioned rank (a global
    # row_number() window would collapse to one partition at 10^10 rows)
    from web_graph_spark.operators.frontier import ordered_seq

    ranked = ordered_seq(first, ["ord"], out_col="seq")
    return ranked.select(F.col("seq").cast("int").alias("seq"),
                         F.col("tgt_doc_id").alias("doc_id"), "check_id")


def q_crawl_media_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media half of the interleaved payload: every inadmissible
    file-type target (the ``.png`` family admission F3 keeps OUT of
    the page frontier) is exactly what the MEDIA fetch pipeline wants
    — dedupe refs into one row per asset with referrer stats and a
    first-reference order (the media frontier's FIFO seq, same
    ordering rule as the page frontier).  One uniform-key groupBy;
    at 10^10 refs this is a single shuffle on (host, path)."""
    l = _links_canon(spark, sf_dir).filter(~F.col("admissible"))
    return (l.groupBy("host", "path")
            .agg(F.count(F.lit(1)).cast("long").alias("n_refs"),
                 F.countDistinct("src_doc_id").cast("long")
                 .alias("n_referrers"),
                 F.min(F.col("src_doc_id") * 8 + F.col("k")).cast("long")
                 .alias("first_ref_ord"))
            .withColumn("media_id", F.md5(F.concat("host", "path"))))


def q_docs_span_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document span-sequence digest over the BASELINE input_hint
    shape: md5 of the (kind|text|media_ref|offset) sequence in offset
    order, from ``build_span_web``'s actual spans arrays.  The oracle
    re-derives the same digest with an independent ``string_agg ...
    ORDER BY`` construction — a hash-match certifies the per-row
    span-sequence-equality invariant (kind, text, media_ref, order)
    the north rule demands, for every document at once.  JVM-only:
    sort_array + transform + array_join inside one projection."""
    web = build_span_web(spark, sf_dir)
    line = lambda x: F.concat_ws(  # noqa: E731
        "|", x["kind"], x["text"], x["media_ref"],
        x["offset"].cast("string"))
    return web.select(
        F.md5(F.concat("host", "path")).alias("check_id"),
        F.size("spans").cast("long").alias("n_spans"),
        F.md5(F.array_join(F.transform("spans", line), "\x1f"))
        .alias("spans_digest"))


def q_docs_mm_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal packing cost over the interleaved span docs
    (functions/media.py:interleaved_pack_stats E163): text spans cost
    their length and split freely; ``.png`` media spans cost a fixed
    50 tokens and are ATOMIC, padding to the next 64-token pack
    boundary when they would straddle it.  One codegen'd F.aggregate
    fold per row — no explode, no shuffle.  Oracle replays the fold
    as a recursive CTE over the k-ordered spans."""
    from web_graph_spark.functions.media import interleaved_pack_stats

    web = build_span_web(spark, sf_dir)
    docs = web.select(F.md5(F.concat("host", "path")).alias("page_id"),
                      "spans")
    return interleaved_pack_stats(docs, budget=64, media_cost=50,
                                  media_rx=r"\.png$")


def q_docs_span_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media↔caption alignment over the interleaved span docs
    (functions/media.py:caption_align E172): for every ``.png`` media
    span, the nearest text span before and after it in offset order
    plus the gaps — the image-text pair-mining step of a multimodal
    pipeline.  Entirely in-row (nested higher-order fold, no shuffle/
    join/window/Python); the oracle finds each side with a genuinely
    different inequality-join arg_max/arg_min formulation."""
    from web_graph_spark.functions.media import caption_align

    web = build_span_web(spark, sf_dir)
    docs = web.select(F.md5(F.concat("host", "path")).alias("page_id"),
                      "spans")
    return caption_align(docs, media_rx=r"\.png$")


def q_text_bitext_candidates(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Bitext candidate mining (functions/text.py:bitext_candidates
    E220): unordered cross-language LINKED doc pairs scored by
    Gale-Church length-ratio compatibility and exact shared-token
    Jaccard (lexicon_filter normal form), with mutual links flagged
    — the parallel-corpus harvesting prior of a multilingual
    pipeline.  Edge-bounded (never doc×doc); token sets explode only
    for pairs surviving the cheap filters.  Oracle replays pair
    canonicalization, ratio, and set algebra in SQL."""
    from web_graph_spark.functions.text import bitext_candidates

    docs = _docs(spark, sf_dir)
    e = webgen.links_full_df(spark, sf_dir).select(
        "src_doc_id", "tgt_doc_id")
    return bitext_candidates(docs, e)


def q_text_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage audit (functions/text.py:mojibake_audit E223)
    over a deterministically damaged corpus: doc_id congruences
    append a cp1252-mojibake 'cafÃ©' tail, a smart-quote digraph
    run, and a U+FFFD replacement char (the synthetic corpus is
    clean ASCII, so damage is planted — the oracle plants
    identically from the SAME derived digraph table).  Counting is
    literal string arithmetic, no non-ASCII regex classes; one
    codegen'd projection."""
    from web_graph_spark.functions.text import (MOJIBAKE_DIGRAPHS,
                                                REPLACEMENT_CHAR,
                                                mojibake_audit)

    did = F.col("doc_id")
    inj = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 19 == 0,
                   F.lit(" caf" + MOJIBAKE_DIGRAPHS[0]))
            .otherwise(F.lit("")),
            F.when(did % 23 == 0,
                   F.lit(" don" + MOJIBAKE_DIGRAPHS[7] + "t"))
            .otherwise(F.lit("")),
            F.when(did % 31 == 0, F.lit(" " + REPLACEMENT_CHAR))
            .otherwise(F.lit(""))).alias("text"))
    return mojibake_audit(inj)


def _mojibake_sql() -> str:
    """Oracle for q_text_mojibake: identical injection and literal
    counting, generated from the SAME derived digraph table the
    Spark side imports."""
    from web_graph_spark.functions.text import (MOJIBAKE_DIGRAPHS,
                                                REPLACEMENT_CHAR,
                                                _lit_count_sql)

    def sq(s: str) -> str:
        return s.replace("'", "''")

    digs = " + ".join(_lit_count_sql("text", d)
                      for d in MOJIBAKE_DIGRAPHS)
    rep = _lit_count_sql("text", REPLACEMENT_CHAR)
    return f"""
WITH inj AS (
  SELECT doc_id,
         text
           || CASE WHEN doc_id % 19 = 0
                   THEN ' caf{sq(MOJIBAKE_DIGRAPHS[0])}'
                   ELSE '' END
           || CASE WHEN doc_id % 23 = 0
                   THEN ' don{sq(MOJIBAKE_DIGRAPHS[7])}t'
                   ELSE '' END
           || CASE WHEN doc_id % 31 = 0
                   THEN ' {REPLACEMENT_CHAR}' ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       CAST({rep} AS BIGINT) AS n_replacement,
       CAST({digs} AS BIGINT) AS n_digraphs,
       ({rep}) + ({digs}) > 0 AS damaged
FROM inj"""


def q_docs_mm_pack_sweep(spark: SparkSession, sf_dir: str
                         ) -> DataFrame:
    """Multimodal pack-budget sweep (E230): the E163 atomic-media
    fold priced at four context budgets (32/64/128/256, media cost
    50) in one query — corpus totals for pad waste, oversize media,
    pack counts, and pad share in floor ppm; the table that CHOOSES
    the budget (pad waste falls as the window grows, pack count
    falls with it — the sweep shows where the knee is).  Each budget
    is one in-row fold + a 1-row agg over the span web; the oracle
    replays the recursive-CTE fold once per budget."""
    from functools import reduce

    from web_graph_spark.functions.media import interleaved_pack_stats

    web = build_span_web(spark, sf_dir)
    docs = web.select(F.md5(F.concat("host", "path")).alias("page_id"),
                      "spans")
    outs = []
    for b in (32, 64, 128, 256):
        st = interleaved_pack_stats(docs, budget=b, media_cost=50,
                                    media_rx=r"\.png$")
        outs.append(st.agg(
            F.sum("pad_tokens").cast("long").alias("pad_tokens"),
            F.sum("n_oversize").cast("long").alias("n_oversize"),
            F.sum("n_packs").cast("long").alias("n_packs"),
            F.sum("total_cost").cast("long").alias("total_cost"))
            .select(F.lit(b).alias("budget"), "pad_tokens",
                    "n_oversize", "n_packs", "total_cost"))
    u = reduce(lambda a, b2: a.unionByName(b2), outs)
    return u.withColumn(
        "pad_ppm",
        F.expr("CASE WHEN total_cost > 0 THEN "
               "pad_tokens * 1000000 div total_cost ELSE 0 END")
        .cast("long"))


def _mm_sweep_sql(budgets=(32, 64, 128, 256), media_cost=50) -> str:
    """Oracle for q_docs_mm_pack_sweep: the docs_mm_pack recursive
    fold replayed once per budget, aggregated, unioned."""
    blocks = []
    for b in budgets:
        blocks.append(f"""
SELECT {b} AS budget,
       CAST(coalesce(sum(pad), 0) AS BIGINT) AS pad_tokens,
       CAST(coalesce(sum(oversize), 0) AS BIGINT) AS n_oversize,
       CAST(coalesce(sum((pos + {b - 1}) // {b}), 0) AS BIGINT)
         AS n_packs,
       CAST(coalesce(sum(pos), 0) AS BIGINT) AS total_cost
FROM (
  WITH RECURSIVE sp AS (
    SELECT p.check_id,
           row_number() OVER (PARTITION BY p.check_id
                              ORDER BY l.k) AS i,
           (l.href LIKE '%.png') AS is_media,
           CAST(CASE WHEN l.href LIKE '%.png' THEN {media_cost}
                     ELSE strlen(l.anchor) END AS BIGINT) AS c
    FROM web_pages p
    JOIN web_links_full l ON l.src_doc_id = p.doc_id
  ),
  ns AS (SELECT check_id, max(i) AS n FROM sp GROUP BY 1),
  fold AS (
    SELECT check_id, 0 AS i, CAST(0 AS BIGINT) AS pos,
           CAST(0 AS BIGINT) AS pad, CAST(0 AS BIGINT) AS oversize
    FROM ns
    UNION ALL
    SELECT f.check_id, f.i + 1,
           f.pos + s.c
             + CASE WHEN s.is_media AND s.c <= {b}
                         AND f.pos % {b} <> 0
                         AND f.pos % {b} + s.c > {b}
                    THEN {b} - f.pos % {b} ELSE 0 END,
           f.pad
             + CASE WHEN s.is_media AND s.c <= {b}
                         AND f.pos % {b} <> 0
                         AND f.pos % {b} + s.c > {b}
                    THEN {b} - f.pos % {b} ELSE 0 END,
           f.oversize + CASE WHEN s.is_media AND s.c > {b}
                             THEN 1 ELSE 0 END
    FROM fold f
    JOIN sp s ON s.check_id = f.check_id AND s.i = f.i + 1
  )
  SELECT f.pos, f.pad, f.oversize
  FROM fold f JOIN ns ON ns.check_id = f.check_id
  WHERE f.i = ns.n
)""")
    inner = "\nUNION ALL\n".join(blocks)
    return _oracle(f"""
SELECT budget, pad_tokens, n_oversize, n_packs, total_cost,
       CAST(CASE WHEN total_cost > 0
            THEN pad_tokens * 1000000 // total_cost
            ELSE 0 END AS BIGINT) AS pad_ppm
FROM ({inner})""")


def q_docs_interleave_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality run-length profile of the interleaved span docs
    (functions/media.py:interleave_runs E214): per document the
    gaps-and-islands layout of ``.png`` media vs text spans —
    run count, longest run per modality, and the alternation rate
    in floor ppm — the audit that separates genuinely interleaved
    documents from block-layout ones before multimodal packing.
    One codegen'd F.aggregate fold per row, no explode/shuffle/
    Python; the oracle rebuilds the runs with the independent
    row_number-difference islands construction."""
    from web_graph_spark.functions.media import interleave_runs

    web = build_span_web(spark, sf_dir)
    docs = web.select(F.md5(F.concat("host", "path")).alias("page_id"),
                      "spans")
    return interleave_runs(docs, media_rx=r"\.png$")


def q_crawl_warc_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC/1.1 archive export (operators/archive.py:warc_records) —
    the archival format a 10^10-URL crawl actually ships (ISO 28500;
    the reference's Postgres page rows, linkstorage.go:119-131, become
    WARC response records at this scale).  One codegen'd projection:
    span payload reassembly, exact octet Content-Length, spec-legal
    ``md5:<hex>`` labelled digests, and a record digest over the full
    serialized record — the oracle rebuilds every record byte-for-byte
    with an independent ``string_agg ORDER BY`` construction, so a
    hash match certifies every archived byte."""
    from web_graph_spark.operators.archive import warc_records

    return warc_records(build_span_web(spark, sf_dir))


def q_crawl_wet_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET conversion records (operators/archive.py:wet_records) —
    the extracted-plain-text sibling of the WARC export that text
    consumers read instead of raw responses: span text in offset
    order, newline-joined, structure dropped; conversion-type headers
    with a WARC-Refers-To link back to the response record.  Same
    zero-shuffle projection + byte-certifying record digest; the
    oracle rebuilds every record with an independent string_agg."""
    from web_graph_spark.operators.archive import wet_records

    return wet_records(build_span_web(spark, sf_dir))


def q_crawl_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX capture index with SURT keys (operators/archive.py:
    cdx_index) — the lookup companion to the WARC export: host labels
    reversed into ``tld,domain,sub)/path`` so ONE lexicographic sort
    co-locates a domain with all its subdomains.  Page captures carry
    their exact payload length and md5 digest; the media targets the
    admission filter excludes from fetching still enter the index as
    ``image/png`` captures (the interleaved-payload inventory).  Index
    rows are a projection + union — the sorted physical layout is
    ``write_cdx``'s range partition + within-shard sort, order-pinned
    in tests without any global single-task sort."""
    from web_graph_spark.operators.archive import cdx_index, span_payload

    web = build_span_web(spark, sf_dir)
    pages = web.select(
        "host", "path", "url", F.lit("text/html").alias("mime"),
        F.md5(F.concat("host", "path")).alias("digest"),
        F.octet_length(span_payload(F.col("spans")))
         .cast("long").alias("content_length"))
    media_path = F.concat(F.lit("/img"), F.col("tgt_doc_id").cast("string"),
                          F.lit(".png"))
    media = (webgen.links_full_df(spark, sf_dir)
             .filter(F.col("k") % 4 == 0)
             .select(F.col("tgt_host").alias("host"),
                     media_path.alias("path"),
                     F.col("href").alias("url"))
             .distinct()
             .select("host", "path", "url",
                     F.lit("image/png").alias("mime"),
                     F.md5(F.concat("host", "path")).alias("digest"),
                     F.lit(None).cast("long").alias("content_length")))
    return (cdx_index(pages.unionByName(media))
            .select("surt", "url", "mime", "digest", "content_length"))


def q_crawl_warc_revisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC revisit-record deduplication (round 4, operators/
    archive.py:revisit_records E107): two crawl snapshots of the
    derived web (snap 1: doc_id % 17 ≠ 3 at v0; snap 2: doc_id % 13
    ≠ 7, every fifth page bumped to v1) plus a mirror tier (pages
    with doc_id % 11 = 0 share one payload per doc_id-div-50 group)
    — so the output exercises all three capture fates: first-capture
    ``response`` records, cross-snapshot revisits of unchanged pages,
    and same-snapshot mirror revisits.  First capture per digest =
    min (snap, check_id); revisits store 0 octets and point
    WARC-Refers-To at the original's record id."""
    from web_graph_spark.operators.archive import revisit_records

    p = webgen.pages_df(spark, sf_dir).select("doc_id", "check_id")
    key = F.when(F.col("doc_id") % 11 == 0,
                 F.concat(F.lit("m"),
                          F.expr("doc_id div 50").cast("string")))\
           .otherwise(F.col("check_id"))

    def snap(n, flt, ver):
        c = F.concat(key, F.lit("|"), ver)
        return (p.filter(flt).select(
            "check_id", F.lit(n).alias("snap"),
            F.md5(c).alias("payload_digest"),
            F.octet_length(c).cast("long").alias("content_length")))

    caps = snap(1, F.col("doc_id") % 17 != 3, F.lit("v0")).unionByName(
        snap(2, F.col("doc_id") % 13 != 7,
             F.when(F.col("doc_id") % 5 == 0, F.lit("v1"))
             .otherwise(F.lit("v0"))))
    return (revisit_records(caps)
            .select("check_id", F.col("snap").cast("int").alias("snap"),
                    "payload_digest", "record_id", "record_type",
                    "refers_to", "stored_length"))


def q_crawl_sitemap_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from robots.txt (round 4, operators/
    robots.py:sitemap_urls E108): ``Sitemap:`` declarations are
    user-agent-INDEPENDENT (sitemaps.org protocol) and may sit
    anywhere in the body, so the extractor ignores grouping entirely
    — the synthesis pins that: a sitemap line INSIDE the otherbot
    group must still surface.  Every host declares its sitemap.xml;
    every fourth declares a second index via a lowercase ``sitemap:``
    key (case-insensitivity pin); every fifth carries a relative
    value that must be dropped; one line is duplicated to pin the
    dedup."""
    from web_graph_spark.operators.robots import sitemap_urls

    hosts = webgen.pages_df(spark, sf_dir).select("host").distinct()
    i = F.substring("host", 2, 2).cast("int")
    u = F.concat(F.lit("https://"), F.col("host"))
    body = F.concat_ws(
        "\n",
        F.lit("User-agent: *"),
        F.lit("Disallow: /tmp"),
        F.concat(F.lit("Sitemap: "), u, F.lit("/sitemap.xml")),
        F.concat(F.lit("Sitemap: "), u, F.lit("/sitemap.xml")),
        F.when(i % 4 == 0,
               F.concat(F.lit("sitemap: "), u,
                        F.lit("/sitemap-index.xml")))
        .otherwise(F.lit("# no index")),
        F.when(i % 5 == 0, F.lit("Sitemap: /relative-dropped"))
        .otherwise(F.lit("")),
        F.lit("User-agent: otherbot"),
        F.concat(F.lit("Sitemap: "), u, F.lit("/in-group.xml")))
    return sitemap_urls(hosts.select("host", body.alias("robots_txt")))


def q_crawl_host_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetcher-fleet host assignment (operators/fleet.py:
    rendezvous_assign) — every host pinned to one fetcher by
    rendezvous (highest-random-weight) hashing, computed at fleet
    sizes 8 AND 9 with the per-host churn flag, certifying HRW's
    resize property end-to-end: a displaced host can land only on the
    NEW worker, so a fleet resize moves ~1/(K+1) of the politeness
    state instead of reshuffling it all (what ``hash % K`` would do).
    One ×K explode + one map-side-combinable argmax aggregation per
    fleet size — no window, no sort, uniform keys."""
    from web_graph_spark.operators.fleet import rendezvous_assign

    hosts = webgen.pages_df(spark, sf_dir).select("host").distinct()
    a8 = rendezvous_assign(hosts, 8, out_col="worker8")
    a9 = rendezvous_assign(hosts, 9, out_col="worker9")
    return (a8.join(a9, "host")
            .select("host", "worker8", "worker9",
                    (F.col("worker8") != F.col("worker9")).alias("moved")))


def q_crawl_trap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap signal per host (canon.py:trap_stats): distinct
    canonicalized link-target paths vs distinct path TEMPLATES (digit
    runs collapsed) — hosts whose URL space explodes inside a tiny
    structure get flagged for frontier capping.  The inadmissible
    ``/imgN.png`` targets stay in deliberately: a trap scan looks at
    everything a host emits, not just what admission keeps."""
    from web_graph_spark.canon import trap_stats

    return trap_stats(_links_canon(spark, sf_dir))


# Shared PSL-style rules dim for crawl_domain_group — one of each
# publicsuffix.org rule kind (typ 0 normal / 1 wildcard base /
# 2 exception), exercising longest-match ("test" vs "example.test"),
# wildcard ("*.ck"), and exception ("!www.ck") resolution.
_PSL_RULES = [("example.test", 0), ("test", 0), ("ck", 1),
              ("www.ck", 2), ("io", 0), ("github.io", 0)]


def q_crawl_domain_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain (eTLD+1) resolution under public-suffix-list
    semantics (canon.py:registrable_domain) — the rollup grain crawl
    politeness, reputation, and per-site quota tables key on.  Hosts
    are derived in 7 deterministic variants (subdomain depth, a
    wildcard-zone host, the exception host, a bare public suffix, and
    an unlisted TLD hitting the implicit "*" rule) so every PSL rule
    kind resolves in one run; the oracle replays the same candidate
    explosion + longest-match in SQL."""
    from web_graph_spark.canon import registrable_domain

    p = webgen.pages_df(spark, sf_dir).select("doc_id", "host")
    m = F.col("doc_id") % 7
    first = F.substring_index(F.col("host"), ".", 1)
    host = (F.when(m == 1, F.concat(F.lit("www."), F.col("host")))
            .when(m == 2, F.concat(F.lit("cdn.assets."), F.col("host")))
            .when(m == 3, F.concat(first, F.lit(".web.ck")))
            .when(m == 4, F.lit("www.ck"))
            .when(m == 5, F.lit("example.test"))
            .when(m == 6, F.concat(first, F.lit(".lan")))
            .otherwise(F.col("host")))
    rules = spark.createDataFrame(_PSL_RULES, "rule string, typ int")
    return registrable_domain(p.select(host.alias("host")), rules)


def q_crawl_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw robots.txt bodies → the engine's rule relation
    (operators/robots.py:parse_robots_txt): per-host synthetic bodies
    with three user-agent groups (the generic ``*`` group, an
    always-ignored ``otherbot`` group, and — on every third host — a
    specific group for our agent that must SHADOW the ``*`` group per
    RFC 9309 §2.2.1), plus parse noise (comments, a non-directive
    line, an empty ``Disallow:`` that must match nothing).  The oracle
    derives the expected rows analytically from the synthesis rule —
    an independent check on the parser's group/precedence semantics,
    not a SQL re-implementation of it."""
    from web_graph_spark.operators.robots import parse_robots_txt

    hosts = webgen.pages_df(spark, sf_dir).select("host").distinct()
    i = F.substring("host", 2, 2).cast("int")
    x = (i % 10).cast("string")
    body = F.concat_ws(
        "\n",
        F.lit("# synthetic robots"),
        F.lit("User-agent: *"),
        F.concat(F.lit("Disallow: /d/1"), x),
        F.concat(F.lit("Allow: /d/1"), x, F.lit("2")),
        F.concat(F.lit("Crawl-delay: "), (i % 4).cast("string")),
        F.lit("Disallow:"),
        F.lit("not a directive line"),
        F.lit("User-agent: otherbot"),
        F.lit("Disallow: /"),
        F.when(i % 3 == 0,
               F.lit("User-agent: Spark-Crawler\nDisallow: /d/\n"
                     "Crawl-delay: 7")).otherwise(F.lit("")))
    bodies = hosts.select("host", body.alias("robots_txt"))
    return parse_robots_txt(bodies, agent="spark-crawler")


def q_crawl_sitemap_coverage(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Sitemap-vs-crawl coverage audit (operators/sitemap.py:
    sitemap_coverage E149): per host, how much of the DECLARED URL
    surface the crawl reached and how much of the crawl the host
    never declared.  Declared = every page with doc_id % 3 ≠ 0 (a
    sitemap listing two-thirds of the real site) plus 1–3 phantom
    ghost URLs per host (i % 3 + 1 — dead sitemap entries); crawled
    = all webgen pages, so orphans are exactly the doc_id % 3 = 0
    pages.  Exact integer counts + floor coverage_pct; oracle
    replays the synthesis and the union-agg verbatim."""
    from web_graph_spark.operators.sitemap import sitemap_coverage

    pages = webgen.pages_df(spark, sf_dir)
    i = F.substring("host", 2, 2).cast("int")
    phantoms = (pages.select("host", i.alias("i")).distinct()
                .select("host", F.explode(
                    F.sequence(F.lit(0), F.col("i") % 3)).alias("n"))
                .select("host", F.concat(
                    F.lit("https://"), F.col("host"),
                    F.lit("/ghost/"), F.col("n").cast("string"),
                    F.lit(".html")).alias("url")))
    declared = (pages.where(F.col("doc_id") % 3 != 0)
                .select("host", "url").unionByName(phantoms))
    return sitemap_coverage(declared, pages.select("host", "url"))


def q_crawl_robots_wildcard(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """RFC 9309 §2.2.3 wildcard robots verdicts (operators/robots.py:
    robots_wildcard_eval E150): per-host rule sets exercising every
    precedence edge — a long `/d/*<digit>.html$` disallow that beats
    the shorter `/d/<digit>*` allow by octet length, an equal-length
    allow twin on every third host pinning the tie → allow rule, a
    bare `*` disallow on host 15 that longer allows still override,
    and a never-matching `/tmp/*`.  Verdict + winning rule per page;
    oracle compiles the same patterns to RE2 and replays the
    longest-match window verbatim."""
    from web_graph_spark.operators.robots import robots_wildcard_eval

    pages = webgen.pages_df(spark, sf_dir).select(
        "doc_id", "host", "path")
    rules = _wildcard_rules_v1(pages.select("host").distinct())
    return robots_wildcard_eval(pages, rules, ["doc_id"])


def _wildcard_rules_v1(hosts: DataFrame) -> DataFrame:
    """The E150 synthetic wildcard rule set (v1 snapshot): long
    disallow vs shorter allow, an equal-length allow twin on every
    third host, bare `*` on host 15, never-matching `/tmp/*`."""
    i = F.substring("host", 2, 2).cast("int")
    d = (i % 10).cast("string")
    cols = ["host", "rule_type", "pattern"]
    r1 = hosts.select("host", F.lit("disallow").alias("rule_type"),
                      F.concat(F.lit("/d/*"), d, F.lit(".html$"))
                      .alias("pattern"))
    r2 = hosts.select("host", F.lit("allow").alias("rule_type"),
                      F.concat(F.lit("/d/"), d, F.lit("*"))
                      .alias("pattern"))
    r3 = (hosts.where(i % 3 == 0)
          .select("host", F.lit("allow").alias("rule_type"),
                  F.concat(F.lit("/d/*"), d, F.lit(".html$"))
                  .alias("pattern")))
    r4 = (hosts.where(i == 15)
          .select("host", F.lit("disallow").alias("rule_type"),
                  F.lit("*").alias("pattern")))
    r5 = hosts.select("host", F.lit("disallow").alias("rule_type"),
                      F.lit("/tmp/*").alias("pattern"))
    return (r1.select(cols).unionByName(r2.select(cols))
            .unionByName(r3.select(cols))
            .unionByName(r4.select(cols))
            .unionByName(r5.select(cols)))


def q_crawl_robots_purge(spark: SparkSession, sf_dir: str
                         ) -> DataFrame:
    """Retro-compliance across a robots change (operators/robots.py:
    robots_transition E151): snapshot v1 = the E150 wildcard set;
    v2 tightens every 4th host with a blanket `*` disallow (the AI-
    crawler opt-out wave) and loosens every 5th with an allow twin of
    its long disallow.  Per page: verdicts under both snapshots + the
    kept/purge/opened/blocked transition — purge being the list a
    training-data pipeline must delete retroactively.  Oracle runs
    the full wildcard-precedence replay twice and folds."""
    from web_graph_spark.operators.robots import robots_transition

    pages = webgen.pages_df(spark, sf_dir).select(
        "doc_id", "host", "path")
    hosts = pages.select("host").distinct()
    v1 = _wildcard_rules_v1(hosts)
    i = F.substring("host", 2, 2).cast("int")
    d = (i % 10).cast("string")
    cols = ["host", "rule_type", "pattern"]
    tighten = (hosts.where(i % 4 == 0)
               .select("host", F.lit("disallow").alias("rule_type"),
                       F.lit("*").alias("pattern")))
    loosen = (hosts.where(i % 5 == 0)
              .select("host", F.lit("allow").alias("rule_type"),
                      F.concat(F.lit("/d/*"), d, F.lit(".html$"))
                      .alias("pattern")))
    v2 = (v1.select(cols).unionByName(tighten.select(cols))
          .unionByName(loosen.select(cols)))
    return robots_transition(pages, v1, v2, ["doc_id"])


def q_graph_lang_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual link matrix (operators/graph_algos.py:
    crosslingual_matrix E160): admissible link instances joined to
    the documents' lang on both endpoints — link counts and exact
    per-source-language out-share ppm per (src_lang, tgt_lang) cell.
    Oracle replays the two joins, the agg, and the share window."""
    from web_graph_spark.operators.graph_algos import (
        crosslingual_matrix)

    edges = (webgen.links_df(spark, sf_dir)
             .where(F.col("k") % 4 != 0)
             .select(F.col("src_doc_id").alias("src"),
                     F.col("tgt_doc_id").alias("tgt")))
    langs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang")
    return crosslingual_matrix(edges, langs)


def q_crawl_drain_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier drain forecast (operators/politeness.py:drain_plan
    E159): per-host pending = page counts (webgen's skewed host
    law), budgets 2+i%5 — h00's 150 pages at budget 2 set a 75-wave
    makespan while every other host finishes early, the
    long-tail-sets-the-makespan story told in exact integers (the
    numbers behind budget rebalancing).  Oracle replays the
    ceil-division explode and both cumulative windows."""
    from web_graph_spark.operators.politeness import drain_plan

    pages = webgen.pages_df(spark, sf_dir)
    d = (pages.groupBy("host")
         .agg(F.count(F.lit(1)).cast("long").alias("n_pending"))
         .withColumn("budget",
                     (F.lit(2) + F.substring("host", 2, 2)
                      .cast("int") % 5).cast("long")))
    return drain_plan(d)


def q_crawl_fair_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min fair water-filling split of a global fetch capacity
    (operators/politeness.py:fair_share E164): per-host demand =
    page counts (webgen's skewed host law — h00 carries ~30%), global
    capacity 300 < Σdemand, so the level binds: small hosts get their
    demand, hot hosts get the common water level, remainder +1s go
    to the first capped hosts in (demand, host) order.  Oracle
    replays the histogram window + boundary selection + residual
    ranking in exact integers."""
    from web_graph_spark.operators.politeness import fair_share

    d = (webgen.pages_df(spark, sf_dir).groupBy("host")
         .agg(F.count(F.lit(1)).cast("long").alias("demand")))
    return fair_share(d, capacity=300)


def q_crawl_ip_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-IP politeness split (operators/politeness.py:
    ip_budget_split E186) — the virtual-hosting correction: hosts
    resolving to the same server share its fetch cap.  Resolver dim
    is derived (ip index = host index mod 7, so h00/h07/h14 collide);
    per-host demand = page count capped by the 7+idx%6 host budget;
    ip_cap 8 binds for multi-vhost and even one hot single-vhost IP.
    Grouped largest-remainder apportionment in ip-keyed windows —
    never driver scalars.  Oracle replays join + windows exactly."""
    from web_graph_spark.operators.politeness import ip_budget_split

    hosts = webgen.pages_df(spark, sf_dir).groupBy("host") \
        .agg(F.count(F.lit(1)).cast("long").alias("pending"))
    idx = F.substring("host", 2, 2).cast("int")
    demand = hosts.select(
        "host", F.least(F.col("pending"),
                        (F.lit(7) + idx % 6).cast("long")).alias("demand"))
    dns = hosts.select("host",
                       F.concat(F.lit("198.51.100."),
                                (idx % 7).cast("string")).alias("ip"))
    return ip_budget_split(demand, dns, ip_cap=8)


def q_crawl_byte_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-weighted politeness cut (operators/politeness.py:
    byte_budget_schedule E194): admit each host's FIFO run while the
    running byte total stays ≤ 4000, first row always admitted (the
    make-progress rule — one oversized page must not starve its
    host).  Bytes = n_chars of the fetched document; order = doc_id.
    One host window; oracle replays the running sum + rank rule."""
    from web_graph_spark.operators.politeness import byte_budget_schedule

    pages = webgen.pages_df(spark, sf_dir).select("doc_id", "host")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", F.col("n_chars").alias("bytes"))
    pending = pages.join(docs, "doc_id")
    return byte_budget_schedule(pending, byte_cap=4000,
                                order_col="doc_id")


def q_crawl_wfq_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WFQ fetch interleave (operators/politeness.py:wfq_order E165)
    chained on E164's grants: the fair-share allocs become pick
    counts, demands the rates, and the wave's 300 fetches come out in
    virtual-finish-time order — a host with twice the demand fires
    twice as often at every prefix.  Oracle replays the full
    fair-share chain then the explode + integer vkey ranking."""
    from web_graph_spark.operators.politeness import (fair_share,
                                                      wfq_order)

    d = (webgen.pages_df(spark, sf_dir).groupBy("host")
         .agg(F.count(F.lit(1)).cast("long").alias("demand")))
    grants = fair_share(d, capacity=300)
    return wfq_order(grants, picks_col="alloc", weight_col="demand")


def q_crawl_connection_plan(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Keep-alive audit of the WFQ schedule (operators/politeness.py:
    connection_plan E167): with a 10-position keep-alive window over
    E165's interleave, how many connections does each host's grant
    actually cost?  The politeness-vs-reuse trade-off in exact ppm.
    Oracle chains fair-share → WFQ → lag replay."""
    from web_graph_spark.operators.politeness import (connection_plan,
                                                      fair_share,
                                                      wfq_order)

    d = (webgen.pages_df(spark, sf_dir).groupBy("host")
         .agg(F.count(F.lit(1)).cast("long").alias("demand")))
    sched = wfq_order(fair_share(d, capacity=300),
                      picks_col="alloc", weight_col="demand")
    return connection_plan(sched, gap_limit=10)


def q_crawl_dns_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DNS LRU cache hit-ratio audit (operators/cacheaudit.py:
    lru_hit_audit E183): replay the pooled fetcher's 1000-entry
    TTL-LRU resolver cache (fetch.py; the Go reference's DoH cache,
    linkprocessor.go:52-56) against the host-access stream the crawl
    actually generates — admissible links in deterministic fetch
    order (src_doc_id, k), key = target host — at capacity 4 /
    TTL 64 accesses, sized to exercise all four verdicts against
    webgen's 12-host skewed dim.  Exact Mattson stack-distance
    classification (cold / ttl / evict / hit) with no sequential
    simulation; the oracle replays it with lag windows + an
    inequality-join distinct count."""
    from web_graph_spark.operators.cacheaudit import lru_hit_audit

    acc = (webgen.links_full_df(spark, sf_dir)
           .filter(F.col("k") % 4 != 0)
           .select(F.col("tgt_host").alias("host"),
                   (F.col("src_doc_id") * 8 + F.col("k")).alias("ord")))
    return (lru_hit_audit(acc, key_col="host", ord_col="ord",
                          capacity=4, window=64)
            .withColumnRenamed("key", "host"))


def q_crawl_revalidation(spark: SparkSession, sf_dir: str
                         ) -> DataFrame:
    """Conditional-GET savings audit (operators/recrawl.py:
    revalidation_savings E157): 5 crawl waves over every page, page
    content versioned by the deterministic change law "page changes
    at wave w iff (doc_id + w) ≡ 0 (mod 3)" (digest = md5 of the
    cumulative version counter), bytes = the document's n_chars.
    Per host: how many re-fetches were 304-able and the exact bytes
    If-None-Match would have saved.  Oracle replays the version
    law, the lag-window comparison, and the ppm division."""
    from web_graph_spark.operators.recrawl import revalidation_savings

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars")
    pages = (webgen.pages_df(spark, sf_dir).select("doc_id", "host")
             .join(docs, "doc_id"))
    v = pages.select(
        "host", "doc_id", "n_chars",
        F.explode(F.array(*[F.lit(i) for i in range(5)]))
        .alias("wave"))
    # cumulative version counter: changes land at w ≡ -doc_id (mod 3)
    r = (3 - F.col("doc_id") % 3) % 3
    c = (F.when(F.col("wave") >= r,
                F.expr("(wave - (3 - doc_id % 3) % 3) div 3 + 1"))
         .otherwise(F.lit(0)))
    visits = v.select(
        "host", F.col("doc_id").alias("page_id"), "wave",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                       c.cast("string"))).alias("digest"),
        F.col("n_chars").alias("n_bytes"))
    return revalidation_savings(visits)


def q_crawl_host_scorecard(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Per-host crawl scorecard (E204) — the scheduler's composite
    input, because no single signal decides a host's budget: E11's
    cheap content quality (what the host serves), E185's TrustRank
    spam mass (who links to it), and emission hygiene (the share of
    junk links it emits, inadmissible-href bp) fold into one exact
    integer score

        score = avg_quality + (10⁶ − avg_spam_ppm) div 200
                − inadm_bp div 2

    and a prime (≥2050) / watch (≥1700) / demote tier — the row a
    budget planner joins against the frontier.  Every component is
    an existing certified operator; the composition is one
    doc_id-keyed join spine + one host agg.  Oracle chains the spam
    CTE, the quality formula, and the link-hygiene agg."""
    from web_graph_spark.functions.text import with_quality
    from web_graph_spark.operators.graph_algos import spam_mass

    pages = webgen.pages_df(spark, sf_dir)
    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    sm = spam_mass(e, webgen.seeds_df(spark, sf_dir),
                   pages.select("doc_id"), rounds=4) \
        .select("doc_id", "spam_mass_ppm")
    q = with_quality(spark.read.parquet(
        f"{sf_dir}/documents.parquet")).select("doc_id", "quality_score")
    inadm = (webgen.links_full_df(spark, sf_dir)
             .groupBy(F.col("src_host").alias("host"))
             .agg(F.count(F.lit(1)).alias("n_links"),
                  F.sum((F.col("k") % 4 == 0).cast("long"))
                  .alias("n_inadm")))
    per = (pages.select("doc_id", "host")
           .join(sm, "doc_id").join(q, "doc_id")
           .groupBy("host")
           .agg(F.count(F.lit(1)).cast("long").alias("n_pages"),
                F.expr("sum(quality_score) div count(*)").cast("long")
                .alias("avg_quality"),
                F.expr("sum(spam_mass_ppm) div count(*)").cast("long")
                .alias("avg_spam_ppm")))
    out = (per.join(inadm, "host", "left")
           .withColumn("inadm_bp",
                       F.expr("coalesce(n_inadm, 0) * 10000 div "
                              "greatest(coalesce(n_links, 0), 1)")
                       .cast("long"))
           .withColumn("score",
                       F.expr("avg_quality + (1000000 - avg_spam_ppm) "
                              "div 200 - inadm_bp div 2")
                       .cast("long")))
    return out.select(
        "host", "n_pages", "avg_quality", "avg_spam_ppm", "inadm_bp",
        "score",
        F.when(F.col("score") >= 2050, F.lit("prime"))
         .when(F.col("score") >= 1700, F.lit("watch"))
         .otherwise(F.lit("demote")).alias("tier"))


def q_crawl_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy advisory (operators/skew.py:join_key_profile
    E203): profile three real join keys and emit the broadcast /
    hash / salted(k) verdict each deserves — the measured decision
    E153's shard audit motivates.  The skewed host key under a tight
    broadcast ceiling → salted(2); the near-uniform link target key
    → hash; the host dim under the default ceiling → broadcast.
    Oracle replays freq law, histogram median, and the rule."""
    from web_graph_spark.operators.skew import join_key_profile

    pages = webgen.pages_df(spark, sf_dir)
    links = (webgen.links_full_df(spark, sf_dir)
             .filter(F.col("k") % 4 != 0))
    a = join_key_profile(pages, F.col("host"), "pages.host_tight",
                         broadcast_max=100)
    b = join_key_profile(links, F.col("tgt_doc_id"),
                         "links.tgt_doc_id", broadcast_max=100)
    c = join_key_profile(pages, F.col("host"), "pages.host")
    return a.unionByName(b).unionByName(c)


def q_crawl_shard_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew audit over the page-host key (operators/
    skew.py:shard_skew_audit E153): hash hosts into 8 shards the way
    a shuffle partitioner would and report per-shard balance + the
    responsible hot key — the measurement that justifies (or
    refuses) salted_repartition.  webgen's host law concentrates 30%
    of pages on h00 and 20% on h01, so the audit must surface real
    skew with hot_share_ppm fingering those hosts.  Oracle replays
    the md5-chunk shard and both ppm divisions verbatim."""
    from web_graph_spark.operators.skew import shard_skew_audit

    pages = webgen.pages_df(spark, sf_dir)
    return shard_skew_audit(pages.select("host"), F.col("host"),
                            n_shards=8)


def q_crawl_sitemap_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery + ingestion (E54, operators/sitemap.py):
    per-host synthetic robots bodies carry one ``Sitemap:`` directive
    (plus a lowercase second one on even hosts — the key is
    case-insensitive), and per-host sitemap XML is a ``<sitemapindex>``
    of two child sitemaps on every fifth host, else a ``<urlset>``
    whose second URL carries an ``&amp;`` entity that must unescape.
    Output: one feed of (host, kind, pos, url) rows — kind =
    directive | child_sitemap | page — the exact shape the streaming
    inbox ingests.  The oracle derives the rows analytically from the
    synthesis spec, an independent check on directive extraction,
    index-vs-urlset classification, trimming, and entity unescape."""
    from web_graph_spark.operators.sitemap import (sitemap_directives,
                                                   sitemap_locs)

    hosts = webgen.pages_df(spark, sf_dir).select("host").distinct()
    i = F.substring("host", 2, 2).cast("int")
    robots_body = F.concat_ws(
        "\n",
        F.lit("User-agent: *"),
        F.lit("Disallow: /tmp/"),
        F.concat(F.lit("Sitemap: https://"), F.col("host"),
                 F.lit("/sitemap.xml")),
        F.when(i % 2 == 0,
               F.concat(F.lit("sitemap: https://"), F.col("host"),
                        F.lit("/sitemap-news.xml"))))
    xml_body = F.when(
        i % 5 == 0,
        F.concat(F.lit('<?xml version="1.0"?><sitemapindex><sitemap>'
                       '<loc> https://'), F.col("host"),
                 F.lit('/maps/a.xml </loc></sitemap><sitemap>'
                       '<loc>https://'), F.col("host"),
                 F.lit('/maps/b.xml</loc></sitemap></sitemapindex>'))
    ).otherwise(
        F.concat(F.lit('<?xml version="1.0"?><urlset><url>'
                       '<loc>https://'), F.col("host"),
                 F.lit('/d/1</loc></url><url><loc>https://'),
                 F.col("host"),
                 F.lit('/d/2?a=1&amp;b=2</loc></url></urlset>')))
    d = sitemap_directives(
        hosts.select("host", robots_body.alias("robots_txt")))
    l = sitemap_locs(hosts.select("host", xml_body.alias("xml")))
    return (d.select("host", F.lit("directive").alias("kind"), "pos",
                     F.col("sitemap_url").alias("url"))
            .unionByName(l.select(
                "host",
                F.when(F.col("is_index"), F.lit("child_sitemap"))
                .otherwise(F.lit("page")).alias("kind"),
                "pos", F.col("loc").alias("url"))))


def q_crawl_robots_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star robots gate: broadcast prefix rules (RFC 9309
    longest-match, allow wins ties) evaluated for every derived page in
    one Arrow-vectorized pandas UDF (operators/robots.py)."""
    from web_graph_spark.operators.robots import with_robots_allowed

    rules = spark.createDataFrame(
        [("h00.example.test", "disallow", "/d/1", 0.5),
         ("h00.example.test", "allow", "/d/12", 0.5),   # longer → overrides
         ("h01.example.test", "disallow", "/d/", 1.0)],
        "host string, rule_type string, path_prefix string, "
        "crawl_delay double")
    pages = webgen.pages_df(spark, sf_dir)
    return (with_robots_allowed(spark, pages, rules)
            .select("doc_id", "host", "path", "robots_allowed"))


def _synthetic_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic robots-rules relation derived from the synthetic
    web: one rule per page, crawl_delay = (doc_id % 13) * 2.5 s — so
    per-host strictest-delay aggregation has real work to do."""
    return webgen.pages_df(spark, sf_dir).select(
        "host", F.lit("disallow").alias("rule_type"),
        F.col("path").alias("path_prefix"),
        ((F.col("doc_id") % 13) * 2.5).alias("crawl_delay"))


def q_crawl_budget_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 derived politeness: robots crawl_delay → per-host wave budget
    (operators/robots.budgets_from_crawl_delay — strictest delay wins,
    budget = max(1, floor(wave_seconds / d))).  Reference semantics:
    the de-facto Crawl-delay extension the robots table carries."""
    from web_graph_spark.operators.robots import budgets_from_crawl_delay

    return budgets_from_crawl_delay(_synthetic_rules(spark, sf_dir),
                                    wave_seconds=60.0)


def q_crawl_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 politeness window: schedule_wave over a pending frontier with
    the crawl-delay-derived budget dim — FIFO within host, per-host rank
    capped by broadcast budget (WindowGroupLimit map-side top-k, pinned
    in tests/test_plans.py)."""
    from web_graph_spark.operators.politeness import schedule_wave
    from web_graph_spark.operators.robots import budgets_from_crawl_delay

    pending = webgen.pages_df(spark, sf_dir).select(
        "doc_id", "host", F.col("doc_id").alias("seq"))
    budgets = budgets_from_crawl_delay(_synthetic_rules(spark, sf_dir),
                                       wave_seconds=60.0)
    scheduled, _cap = schedule_wave(pending, budgets, default_budget=5)
    return scheduled.select("doc_id", "host", "seq", "host_rank")


def q_crawl_wave_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global wave admission cap (round 4): after the per-host budget
    cut, only the K lowest-seq rows enter the wave — the cut that
    bounds a wave's fetch/write working set at a 10^10-URL frontier,
    where per-host budgets alone scale with |hosts| and one wave could
    otherwise schedule the whole planet.  Exact and SORT-FREE:
    ``fseq.take_global`` range-partitions on the order key, counts per
    partition (tiny driver array), passes whole partitions below the
    boundary through untouched and takes a streaming head of the single
    boundary partition — per-task memory stays one partition at any
    |schedule| or K, unlike ``ORDER BY .. LIMIT K``'s single-reducer
    merge.  Deferred rows keep their seq (carryover ≡ budget cut).
    The oracle states the same cut declaratively with two windows."""
    from web_graph_spark.operators.frontier import take_global
    from web_graph_spark.operators.politeness import schedule_wave

    pending = webgen.pages_df(spark, sf_dir).select(
        "doc_id", "host", F.col("doc_id").alias("seq"))
    scheduled, _cap = schedule_wave(pending, None, default_budget=5)
    admitted = take_global(scheduled, 37, ["seq"])
    return admitted.select("doc_id", "host", "seq", "host_rank")


def q_crawl_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-crawl freshness scheduling (E46, Cho & Garcia-Molina SIGMOD
    2000): estimate each page's change rate from its fetch history
    (digest transitions under a per-page lag window — uniform keys, no
    skew), then score staleness as integer ``change_ppm * age_s`` — no
    float logs to drift between engines.  The fetch history is derived
    deterministically from the events table (event → an observation of
    page ``event_id mod 211`` at ``ts`` with content version
    ``floor(value*10) mod 5``); ``now`` is the corpus max ts.  The
    score feeds ``schedule_wave(priority_col=...)`` so politeness
    budgets apply to re-crawls exactly as to discoveries
    (tests/test_skew_priority.py)."""
    from web_graph_spark.operators.recrawl import (change_stats,
                                                   recrawl_priority)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hist = ev.select(
        F.pmod(F.col("event_id"), F.lit(211)).cast("long")
        .alias("page_id"),
        F.col("ts").alias("fetched_at"),
        F.pmod(F.floor(F.col("value") * 10), F.lit(5)).cast("string")
        .alias("content_digest"))
    stats = change_stats(hist)
    now = ev.agg(F.max("ts")).first()[0]  # 1-row driver action
    return (recrawl_priority(stats, now)
            .select("page_id", "n_obs", "n_changes", "change_ppm",
                    "age_s", "recrawl_score"))


def q_crawl_backoff_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive per-host backoff budgets (E52,
    operators/backoff.py): HTTP 429/5xx outcomes shrink the host's
    next-wave budget — a proportional penalty for lifetime error share
    times a halving per trailing-failure streak, floored at one probe
    fetch.  Outcomes are derived deterministically from the events
    table (event → a fetch of host ``event_id mod 40`` at ``ts`` with
    status from ``floor(value*100) mod 25``: 0→429, 1→503, 2→500,
    else 200 — ~12% errors); all-integer scoring, so the oracle
    reproduces budgets bit-for-bit.  The budget dim feeds
    ``schedule_wave(budgets=...)`` unchanged."""
    from web_graph_spark.operators.backoff import backoff_budgets

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    st = F.pmod(F.floor(F.col("value") * 100).cast("long"), F.lit(25))
    outcomes = ev.select(
        F.concat(F.lit("h"),
                 F.lpad(F.pmod(F.col("event_id"), F.lit(40))
                        .cast("string"), 2, "0"),
                 F.lit(".example.test")).alias("host"),
        F.col("ts").alias("fetched_at"),
        F.when(st == 0, 429).when(st == 1, 503).when(st == 2, 500)
        .otherwise(200).alias("status"))
    return backoff_budgets(outcomes, base_budget=16)


def q_crawl_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl snapshot diff (operators/recrawl.py:snapshot_delta): an
    earlier crawl A (pages with doc_id % 17 ≠ 3, all content v0) vs a
    later crawl B (doc_id % 13 ≠ 7; every fifth page's content bumped
    to v1) — classify added / removed / changed per page.  One
    full-outer join on the uniform check_id; unchanged pages never
    leave the join, so output ∝ change volume."""
    from web_graph_spark.operators.recrawl import snapshot_delta

    p = webgen.pages_df(spark, sf_dir).select("doc_id", "host",
                                              "check_id")
    a = (p.filter(F.col("doc_id") % 17 != 3)
         .select("check_id",
                 F.md5(F.concat(F.col("check_id"), F.lit("v0")))
                 .alias("content_digest")))
    b = (p.filter(F.col("doc_id") % 13 != 7)
         .select("check_id",
                 F.md5(F.concat(
                     F.col("check_id"),
                     F.when(F.col("doc_id") % 5 == 0, F.lit("v1"))
                     .otherwise(F.lit("v0")))).alias("content_digest")))
    d = snapshot_delta(a, b, id_col="check_id")
    return (d.join(p.select(F.col("check_id").alias("id"), "host"),
                   "id")
            .select(F.col("id").alias("check_id"), "host", "kind",
                    "digest_a", "digest_b"))


def q_crawl_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch redirect-chain resolution (round 4, operators/
    redirects.py E75): flatten the crawl store's accumulated 3xx
    relation to src → terminal with exact hop counts and loop
    flagging, by POINTER DOUBLING — each round composes the functional
    mapping with itself (one equi-join on the uniform url key), so the
    fetcher's 10-deep chain cap costs 4 shuffles at any corpus size,
    never a per-hop pass.  Rows still inside the redirect domain after
    the final round are cycles / over-long chains (status='loop') —
    the batch analog of the live fetcher's redirect-loop error
    (fetch.py:408).  The derived relation exercises every case: 2-hop
    chains, single hops, a 2-cycle, and a chain INTO the cycle.  The
    oracle is a genuinely different algorithm — DuckDB's recursive CTE
    walks chains hop by hop; the operator doubles — agreeing only if
    the resolution semantics match exactly."""
    from web_graph_spark.operators.redirects import resolve_redirects

    return resolve_redirects(webgen.redirects_df(spark, sf_dir),
                             max_rounds=4)


def q_crawl_priority_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authority-guided frontier scheduling (round 4): pending URLs are
    prioritized by their page in-degree in the link graph (the
    OPIC-style upgrade from pure BFS — fetch what the web points at
    first), then budget-capped per host through the same
    `schedule_wave` the crawler uses.  This certifies the operator's
    ``priority_col`` path against an oracle (the politeness contract
    query covers the FIFO path).  Physical shape: in-degree is one
    uniform-key agg with map-side partials, the authority join keys on
    doc_id (uniform), and the per-host cap is a constant-bound
    WindowGroupLimit — map-side top-K, no global sort anywhere."""
    from web_graph_spark.operators.politeness import schedule_wave

    links = webgen.links_full_df(spark, sf_dir).filter(F.col("k") % 4 != 0)
    indeg = (links.select("src_doc_id", "tgt_doc_id").distinct()
             .groupBy("tgt_doc_id").agg(F.count("*").alias("indeg")))
    pending = (webgen.pages_df(spark, sf_dir)
               .select("doc_id", "host", F.col("doc_id").alias("seq"))
               .join(indeg.withColumnRenamed("tgt_doc_id", "doc_id"),
                     "doc_id", "left")
               .withColumn("indeg",
                           F.coalesce("indeg", F.lit(0)).cast("long"))
               .withColumn("neg_auth", -F.col("indeg")))
    scheduled, _cap = schedule_wave(pending, None, default_budget=3,
                                    priority_col="neg_auth")
    return scheduled.select("doc_id", "host", "seq", "indeg", "host_rank")


def q_graph_links_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 GetLinksFrom(41, 100): distinct out-neighbors, limit 100."""
    return (webgen.links_full_df(spark, sf_dir)
            .filter((F.col("src_doc_id") == 41) & (F.col("k") % 4 != 0))
            .select(F.col("tgt_doc_id").alias("to_doc_id")).distinct()
            .orderBy("to_doc_id").limit(100))


def q_graph_links_to(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 GetLinksTo(7, 100): distinct in-neighbors (backlinks)."""
    return (webgen.links_full_df(spark, sf_dir)
            .filter((F.col("tgt_doc_id") == 7) & (F.col("k") % 4 != 0))
            .select(F.col("src_doc_id").alias("from_doc_id")).distinct()
            .orderBy("from_doc_id").limit(100))


def q_graph_page_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 /page/:id composite for doc_id < 10: node ⋈ out-edges with
    collect_list; neighbors as sorted csv for cross-engine compare."""
    pages = webgen.pages_df(spark, sf_dir).filter(F.col("doc_id") < 10)
    l = (webgen.links_full_df(spark, sf_dir).filter(F.col("k") % 4 != 0)
         .select(F.col("src_doc_id").alias("doc_id"), "tgt_doc_id"))
    agg = (l.groupBy("doc_id")
           .agg(F.countDistinct("tgt_doc_id").alias("outdeg"),
                F.array_join(F.sort_array(F.collect_set(
                    F.col("tgt_doc_id").cast("string"))), ",")
                 .alias("neighbors")))
    return (pages.join(agg, "doc_id", "left")
            .select("doc_id", "host", "url",
                    F.coalesce("outdeg", F.lit(0)).alias("outdeg"),
                    F.coalesce("neighbors", F.lit("")).alias("neighbors")))


def q_graph_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 CountPages/CountLinks (exact, vs reference's reltuples
    estimate /root/reference/pkg/linkstorage/linkstorage.go:323-366)."""
    pages = webgen.pages_df(spark, sf_dir)
    l = webgen.links_full_df(spark, sf_dir).filter(F.col("k") % 4 != 0)
    return (pages.agg(F.count("*").alias("n_pages"),
                      F.countDistinct("host").alias("n_hosts"))
            .crossJoin(l.select("src_doc_id", "tgt_doc_id").distinct()
                       .agg(F.count("*").alias("n_links"))))


def q_graph_pages_for_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 GetPageHashesFromHost('h07.example.test', 100) — host-pruned
    scan (Iceberg bucket(host) partition at scale), deterministic order."""
    return (webgen.pages_df(spark, sf_dir)
            .filter(F.col("host") == "h07.example.test")
            .select("doc_id", "check_id", "url")
            .orderBy("doc_id").limit(100))


def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (alternating large-star/small-star,
    operators/graph_algos.py) over distinct admissible edges; label =
    min doc_id of the component — oracle = recursive-CTE reachability."""
    from web_graph_spark.operators.graph_algos import connected_components

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    return connected_components(v, e)


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page triangle counts + local clustering coefficient over
    the admissible link graph — the community-structure signal (spam
    farms cluster; organic link neighborhoods don't).  Degree-ordered
    compact-forward orientation keeps the wedge join's fan-out
    O(sqrt(m)) per key on power-law graphs (operators/graph_algos.py:
    triangle_counts); integer-bp coefficient so the oracle is exact."""
    from web_graph_spark.operators.graph_algos import triangle_counts

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    return triangle_counts(e)


def q_graph_bfs_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance from the seed set over the directed
    admissible link graph (operators/graph_algos.py:bfs_depths) — the
    crawl-depth analysis query (depth = first wave that can reach a
    page under an unbounded budget; reference analog: BFS order of the
    frontier, linkprocessor.go wave loop).  Level-synchronous
    expansion: edges hash-partitioned on src once + persisted, one
    frontier shuffle per level, flat lineage via localCheckpoint.
    Oracle = recursive CTE with min-depth fold."""
    from web_graph_spark.operators.graph_algos import bfs_depths

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    seeds = (webgen.pages_df(spark, sf_dir)
             .filter(F.col("doc_id") % 97 == 0).select("doc_id"))
    return bfs_depths(e, seeds)


def q_graph_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep diameter lower bound (operators/graph_algos.py:
    double_sweep_diameter E218) over the undirected admissible link
    graph: BFS from the minimum vertex id, re-BFS from the farthest
    vertex found (ties low), report the second sweep's level
    histogram plus the bound — exact on trees, empirically tight on
    web graphs.  Two level-synchronous BFS runs, one 1-row driver
    hop between them; oracle replays both sweeps as recursive CTEs
    with the identical tie rule."""
    from web_graph_spark.operators.graph_algos import (
        double_sweep_diameter)

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    return double_sweep_diameter(e, v)


def q_graph_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global motif census (operators/graph_algos.py:motif_census
    E225): wedges, triangles, 4-cycles, and global clustering 3T/W
    in floor ppm over the undirected admissible link graph — the
    structure constants separating hub-and-spoke from mesh and
    surfacing templated-navigation 4-cycle excess.  One wedge
    enumeration reused three ways; both divisions exact by
    construction; oracle replays the identical combinatorics."""
    from web_graph_spark.operators.graph_algos import motif_census

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    return motif_census(e)


def q_graph_degree_mixing(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Degree-mixing curve + rich club (operators/graph_algos.py:
    degree_mixing_curve E219): per degree class the k_nn(k) mean
    neighbor degree in floor ppm (the full shape behind the single
    assortativity coefficient) and the rich-club coefficient among
    vertices of strictly higher degree — hub-centralization
    structure over the undirected admissible link graph.  Suffix
    sums over the bounded degree axis; neighbor-degree sums ride
    decimal(38,0); oracle replays the identical cum-window algebra."""
    from web_graph_spark.operators.graph_algos import (
        degree_mixing_curve)

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    return degree_mixing_curve(e)


def q_graph_host_simrank(spark: SparkSession, sf_dir: str
                         ) -> DataFrame:
    """SimRank on the host graph (operators/graph_algos.py:
    host_simrank E229): two hosts are similar when similar hosts
    cite them — related-site discovery without shared content, 2
    exact-integer rounds (C = 4/5, floor ppm), self-loops dropped,
    diagonal never materialized (common-citer self-join + sparse
    off-diagonal state through the in-edge relation).  Oracle
    unrolls both rounds over the identical host-edge derivation."""
    from web_graph_spark.operators.graph_algos import host_simrank

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    p = webgen.pages_df(spark, sf_dir).select("doc_id", "host")
    he = (e.join(p.select(F.col("doc_id").alias("src_doc_id"),
                          F.col("host").alias("src_host")),
                 "src_doc_id")
          .join(p.select(F.col("doc_id").alias("tgt_doc_id"),
                         F.col("host").alias("tgt_host")),
                "tgt_doc_id")
          .select("src_host", "tgt_host").distinct())
    return host_simrank(he, rounds=2)


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 6 power iterations with dangling-mass redistribution
    (operators/graph_algos.py).  The loop runs in DECIMAL(38,18), so
    the output is bit-deterministic (aggregation-order-independent) —
    pinned against a dense pure-Python reference in
    tests/test_graph_algos.py AND against a golden parquet oracle
    (scripts/make_golden.py; tests/test_golden.py guards drift).
    rank_ppb = floor(rank · 10^9) keeps the oracle compare integral."""
    from web_graph_spark.operators.graph_algos import pagerank

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    return (pagerank(v, e, n_iter=6)
            .select("doc_id", F.floor(F.col("rank") * 1e9).cast("long")
                    .alias("rank_ppb")))


def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities, 6 L1-normalized iterations in
    DECIMAL(38,18) (operators/graph_algos.py:hits) — the
    complementary centrality to PageRank (authorities = fetch
    priority, hubs = re-crawl-for-discovery priority).  Pinned against
    a dense pure-Python reference in tests/test_graph_algos.py AND a
    golden parquet oracle; ppb ints keep the compare integral."""
    from web_graph_spark.operators.graph_algos import hits

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    return (hits(v, e, n_iter=6)
            .select("doc_id",
                    F.floor(F.col("hub") * 1e9).cast("long")
                    .alias("hub_ppb"),
                    F.floor(F.col("auth") * 1e9).cast("long")
                    .alias("auth_ppb")))


def q_graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components over the DIRECTED admissible
    edge set (operators/graph_algos.py:strongly_connected_components,
    F/B min-label refinement with a fixpoint-correctness proof in the
    docstring) — the Broder bowtie decomposition: the mutually-
    reachable core vs IN/OUT tendrils, which undirected CC cannot
    see.  Oracle: recursive-CTE transitive closure, scc(v) = min w
    with v →* w AND w →* v."""
    from web_graph_spark.operators.graph_algos import (
        strongly_connected_components)

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    return strongly_connected_components(v, e)


def q_graph_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Broder bowtie taxonomy (operators/graph_algos.py:
    bowtie_classify) — region ∈ CORE | IN | OUT | TENDRIL | DISC per
    page, composed from one SCC run, two directed BFS closures from
    the core, and one weak-CC pass (the three independent chains run
    on concurrent driver threads).  Crawl planning reads this table:
    IN pages are seed candidates, OUT growth flags link-farm escape,
    a shrinking CORE share flags frontier starvation.  Oracle: the
    same taxonomy from recursive-CTE closures — scc = min mutual-
    reach label, core = argmax SCC size (min label tiebreak),
    IN/OUT = directed closure membership, TENDRIL = shares the
    core's weak component."""
    from web_graph_spark.operators.graph_algos import bowtie_classify

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    return bowtie_classify(v, e).select(
        "doc_id", F.col("scc").cast("long").alias("scc"), "region")


def q_graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-seeded random walks (round 4, operators/
    graph_algos.py:random_walks E67): 2 walks × 4 steps from every
    7th page over the admissible directed graph — the DeepWalk corpus
    generator whose sequences feed skip-gram graph embeddings.  Step t
    of walk w moves to adjacency index ``hex16(md5(w:t)) mod
    out_degree`` (dst-sorted), so each step is one |walks|-row
    equi-join on (src, idx) — a hub costs the same as a leaf — and
    the whole table reproduces bit-for-bit in the unrolled-SQL
    oracle.  Sink-reaching walks end early (absent later steps)."""
    from web_graph_spark.operators.graph_algos import random_walks

    e = (webgen.links_full_df(spark, sf_dir)
         .filter((F.col("k") % 4 != 0)
                 & (F.col("src_doc_id") != F.col("tgt_doc_id")))
         .select("src_doc_id", "tgt_doc_id").distinct())
    seeds = (webgen.pages_df(spark, sf_dir)
             .filter(F.col("doc_id") % 7 == 0).select("doc_id"))
    return random_walks(e, seeds, length=4, n_walks=2)


def q_graph_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall / HyperANF (round 4, operators/graph_algos.py:
    hyperball E94): per-node HLL sketches of the 3-hop out-
    reachability ball — the neighborhood-function / effective-
    diameter algorithm for web-scale graphs (Boldi-Rosa-Vigna), where
    exact per-node ball sizes would need |V|·ball pairs.  Each round
    is one edges⋈state join + one (node, register) max-agg; state is
    sparse and 64-registers-per-node bounded.  HLL(S) = register-wise
    max over S's singleton sketches and ball membership is bounded
    reachability, so the oracle rebuilds every register exactly from
    a recursive CTE + the shared hex16 md5 recipe — every estimate
    matches bit-for-bit."""
    from web_graph_spark.operators.graph_algos import hyperball

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    return hyperball(e, v, n_hops=3)


def q_graph_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality from HyperBall deltas (round 4, operators/
    graph_algos.py:harmonic_hyperball E98, Boldi-Vigna ICDMW'13):
    H(v) = Σ 1/d(v,u) truncated at 3 hops, estimated from the
    per-round ball estimates in EXACT sixths (6·Δ₁ + 3·Δ₂ + 2·Δ₃) —
    the geometric centrality a 10^10-node graph can afford.  The
    oracle re-derives every score from a min-distance recursive CTE
    plus the hex16 register rebuild at each t."""
    from web_graph_spark.operators.graph_algos import harmonic_hyperball

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    return harmonic_hyperball(e, v, n_hops=3)


def q_graph_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood function + effective diameter (round 4,
    operators/graph_algos.py:neighborhood_function E100): N(t) =
    #pairs within distance t as the sum of per-node HyperBall
    estimates, with integer basis-point fractions of the 3-hop
    horizon and the first-t-past-90% effective-diameter flag — the
    "how far apart is the web" summary HyperANF exists for.  Inherits
    the register determinism, so the oracle re-derives all four rows
    from the min-distance recursive CTE."""
    from web_graph_spark.operators.graph_algos import neighborhood_function

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    return neighborhood_function(e, v, n_hops=3)


def q_graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss edges with settled triangle support (round 4,
    operators/graph_algos.py:ktruss E102, Cohen 2008) — the
    edge-grained sharpening of k-core: every surviving edge closes at
    least one triangle WITHIN the survivors (the admissible web's
    densest tier — its 4-truss is empty at this sf), the
    spam/community-core refinement degree alone can't express.  Six
    synchronous peeling rounds, unrolled round-for-round in the SQL
    oracle (extra rounds are no-ops by monotonicity; convergence at
    this scale is test-pinned)."""
    from web_graph_spark.operators.graph_algos import ktruss

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    return ktruss(e, k=3, rounds=6)


def q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest discovery cost from the seed set (round 4,
    operators/graph_algos.py:sssp E104): synchronous Bellman-Ford
    over integer edge weights (w = k%7+1 — a stand-in for fetch cost
    / politeness delay), 8 relaxation rounds with a shrinking
    improved-only frontier — exact over ≤8-edge paths, the
    truncated-horizon contract the oracle replays with the SAME hop
    bound in its recursive CTE (a python Bellman-Ford replica pins
    the truncation in tests).  The weighted sibling of
    graph_bfs_depths."""
    from web_graph_spark.operators.graph_algos import sssp

    l = webgen.links_full_df(spark, sf_dir).filter(F.col("k") % 4 != 0)
    e = l.select("src_doc_id", "tgt_doc_id",
                 ((F.col("k") % 7) + 1).alias("w"))
    seeds = (webgen.pages_df(spark, sf_dir)
             .filter(F.col("doc_id") % 97 == 0).select("doc_id"))
    return sssp(e, seeds, rounds=8)


def q_crawl_front_coding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Front-coding audit of the sorted URL store (operators/
    layout.py:front_coding_audit E192): per host, the exact bytes a
    (lcp, suffix) prefix encoding saves on the host's sorted URL run,
    gross and net of the 1-byte-per-entry overhead — the storage
    decision a 10^10-URL frontier layout makes.  LCP via the
    monotone prefix-equality max (no UDF); oracle replays the lag
    pairing + transform/list_max LCP + floor-ppm algebra."""
    from web_graph_spark.operators.layout import front_coding_audit

    return front_coding_audit(
        webgen.pages_df(spark, sf_dir).select("host", "url"))


def q_crawl_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key per page (round 4, operators/
    layout.py E103): interleave 16-bit hash buckets of host and path
    into one code — range-partitioning the page store on it bounds
    BOTH dimensions' min-max envelope per file, so host predicates
    AND path predicates prune files (the lakehouse OPTIMIZE ZORDER
    action; the reference leans on Postgres btrees instead,
    linkstorage.go:119-131).  Pure integer shift/and arithmetic on
    the shared hex16 md5 chunks — the oracle replays every bit."""
    from web_graph_spark.functions.stats import _hexchunk
    from web_graph_spark.operators.layout import zvalue_col

    p = webgen.pages_df(spark, sf_dir)
    hx = _hexchunk(F.md5(F.col("host")), 1)
    px = _hexchunk(F.md5(F.col("path")), 1)
    return (p.select("doc_id", hx.alias("hx"), px.alias("px"))
            .select("doc_id", "hx", "px",
                    zvalue_col(["hx", "px"], bits=16).alias("zval")))


_PAGE_DEMAND_CTE = """
, d AS (
  SELECT host, CAST(count(*) AS BIGINT) AS demand
  FROM web_pages GROUP BY 1
)"""


# WFQ explode + integer virtual-finish keys over ``fs`` (operators/
# politeness.py:wfq_order semantics); ends at ``wfq(ord, host, j,
# vkey)`` for chained consumers.
_WFQ_CTES = """
, picks AS (
  SELECT host, demand AS weight, CAST(t.j AS BIGINT) AS j
  FROM fs, unnest(range(1, alloc + 1)) AS t(j)
  WHERE alloc > 0 AND demand > 0
),
keyed AS (
  SELECT host, j,
         CAST((j * 1000000000) // weight AS BIGINT) AS vkey
  FROM picks
),
wfq AS (
  SELECT CAST(row_number() OVER (ORDER BY vkey, host, j) AS BIGINT)
           AS ord,
         host, j, vkey
  FROM keyed
)"""


def _fair_share_sql(capacity: int) -> str:
    """CTE chain replaying operators/politeness.py:fair_share from an
    EXISTING CTE ``d(host, demand)`` to ``fs(host, demand, alloc,
    capped)`` — shared by every oracle that water-fills (the
    fair-share contract row, the WFQ chain, the epoch planner)."""
    return _FAIR_SHARE_TEMPLATE.replace("{C}", str(int(capacity)))


# Max-min fair water-filling over a demand dim ``d(host, demand)`` at
# capacity {C} (operators/politeness.py:fair_share semantics); ends
# at ``fs(host, demand, alloc, capped)``.
_FAIR_SHARE_TEMPLATE = """
, tot AS (
  SELECT count(*)::BIGINT AS n_total, sum(demand)::BIGINT AS s_total
  FROM d
),
hist AS (
  SELECT demand, count(*)::BIGINT AS n_d, sum(demand)::BIGINT AS s_d
  FROM d GROUP BY 1
),
cum AS (
  SELECT *, sum(n_d) OVER (ORDER BY demand) AS cum_n,
         sum(s_d) OVER (ORDER BY demand) AS cum_s
  FROM hist
),
feas AS (
  SELECT demand AS ds, cum_n AS ns, cum_s AS ss
  FROM cum, tot
  WHERE (cum_s - s_d) + demand * (n_total - (cum_n - n_d)) <= {C}
  ORDER BY demand DESC LIMIT 1
),
lev AS (
  SELECT coalesce((SELECT ds FROM feas), -1) AS d_star,
         CASE WHEN n_total - coalesce((SELECT ns FROM feas), 0) > 0
              THEN ({C} - coalesce((SELECT ss FROM feas), 0))
                   // (n_total - coalesce((SELECT ns FROM feas), 0))
         END AS level,
         CASE WHEN n_total - coalesce((SELECT ns FROM feas), 0) > 0
              THEN ({C} - coalesce((SELECT ss FROM feas), 0))
                   % (n_total - coalesce((SELECT ns FROM feas), 0))
              ELSE 0 END AS r
  FROM tot
),
cap AS (
  SELECT d.host, row_number() OVER (ORDER BY d.demand, d.host) AS rk
  FROM d, lev WHERE d.demand > lev.d_star
),
fs AS (
  SELECT d.host, d.demand,
         CAST(CASE WHEN d.demand <= lev.d_star THEN d.demand
                   ELSE lev.level
                        + CASE WHEN c.rk <= lev.r THEN 1 ELSE 0 END
              END AS BIGINT) AS alloc,
         d.demand > lev.d_star AS capped
  FROM d CROSS JOIN lev LEFT JOIN cap c ON c.host = d.host
)"""


def _hex16_sql(expr: str) -> str:
    """The oracle half of graph_algos._hex16: integer in [0, 65535]
    from the first 4 hex chars of md5(expr), strpos arithmetic only."""
    a = "'0123456789abcdef'"
    d = [f"(strpos({a}, substr(md5({expr}), {i}, 1)) - 1)"
         for i in (1, 2, 3, 4)]
    return (f"({d[0]} * 4096 + {d[1]} * 256 + {d[2]} * 16 + {d[3]})")


def _hex48_sql(expr: str) -> str:
    """The oracle half of functions/stats.py:_hex48 — integer in
    [0, 2^48) from the first 12 hex chars of md5(expr), strpos
    arithmetic only (Horner form)."""
    a = "'0123456789abcdef'"
    v = "CAST(0 AS BIGINT)"
    for i in range(1, 13):
        v = (f"({v} * 16 + "
             f"(strpos({a}, substr(md5({expr}), {i}, 1)) - 1))")
    return v


def _hexchunk_sql(start: int, col: str = "h") -> str:
    """The oracle half of functions/stats.py:_hexchunk — integer in
    [0, 65535] from 4 hex chars of the md5-digest column ``col``
    starting at 1-based ``start``; strpos arithmetic only."""
    a = "'0123456789abcdef'"
    d = [f"(strpos({a}, substr({col}, {start + i}, 1)) - 1)"
         for i in range(4)]
    return f"({d[0]} * 4096 + {d[1]} * 256 + {d[2]} * 16 + {d[3]})"


def _walks_oracle_sql(length: int = 4, n_walks: int = 2) -> str:
    """Unrolled-step DuckDB oracle for ``graph_random_walks`` — the
    same dst-sorted adjacency indexing and hex16 coin arithmetic."""
    parts = [f"""
, e AS (
  SELECT DISTINCT src_doc_id AS a, tgt_doc_id AS b
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
),
nbr AS (SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY b)
               AS idx FROM e),
deg AS (SELECT a, count(*) AS deg FROM e GROUP BY 1),
w0 AS (SELECT CAST(doc_id AS VARCHAR) || ':' || r AS walk_id,
              doc_id AS v
       FROM web_pages, (SELECT unnest(range(0, {n_walks})) AS r)
       WHERE doc_id % 7 = 0)"""]
    for t in range(1, length + 1):
        coin = _hex16_sql(f"w.walk_id || ':{t}'")
        parts.append(f""",
w{t} AS (
  SELECT w.walk_id, n.b AS v
  FROM w{t - 1} w
  JOIN deg d ON d.a = w.v
  JOIN nbr n ON n.a = w.v AND n.idx = ({coin} % d.deg) + 1
)""")
    unions = "\nUNION ALL\n".join(
        f"SELECT walk_id, {t} AS step, v AS vertex FROM w{t}"
        for t in range(0, length + 1))
    parts.append(f"\nSELECT walk_id, step, CAST(vertex AS BIGINT)"
                 f" AS vertex FROM ({unions})")
    return "".join(parts)


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected 3-core of the admissible link graph
    (operators/graph_algos.py:kcore, 6 synchronous peel rounds —
    converged by round 4 at this scale, extra rounds are no-ops by
    monotonicity): the dense-region extractor crawl planning reads
    next to the bowtie regions (link farms concentrate in high-k
    cores).  Deterministic fixed-round semantics, so the oracle is
    the SAME 6 rounds unrolled in SQL."""
    from web_graph_spark.operators.graph_algos import kcore

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    return kcore(v, e, k=3, rounds=6)


def q_graph_densest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densest subgraph of the admissible link graph
    (operators/graph_algos.py:densest_subgraph — Bahmani, Kumar &
    Vassilvitskii VLDB'12 peeling, ε = 1/2, 8 synchronous rounds):
    the single tightest link community, within 3× of the optimum
    density, chosen by exact rational comparison across rounds — the
    spam-epicentre readout next to k-core and the communities.
    Deterministic fixed-round integer semantics, so the oracle is
    the SAME 8 rounds unrolled in SQL."""
    from web_graph_spark.operators.graph_algos import densest_subgraph

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    return densest_subgraph(v, e, rounds=8)


def q_graph_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condensation-DAG topological tiers (operators/graph_algos.py:
    condensation_tiers E142): SCC-contract the admissible directed
    graph, then tier = longest path from any source component —
    the dependency layering a scheduler walks (IN before core before
    OUT) and the web's scheduling depth.  Monotone max-propagation
    to fixpoint with Σtier as witness.  Oracle composes the SCC
    transitive-closure oracle with a recursive path-length CTE and
    takes max per component."""
    from web_graph_spark.operators.graph_algos import condensation_tiers

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    return condensation_tiers(v, e)


def q_graph_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacency-compression audit (operators/layout.py:
    adjacency_gap_audit E144, Boldi & Vigna WWW'04): Elias-γ bit
    cost of the admissible edge set under original ids vs
    host-grouped renumbering — the exact measurement behind the
    WebGraph insight that host-contiguous numbering shrinks gap
    codes by the log of the gap.  On THIS synthetic graph the links
    scatter arithmetically (no intra-host locality), so the audit
    correctly reports host grouping does NOT pay here — the verdict
    is the operator working as a decision tool; the locality win is
    pinned in tests on a chain-structured graph.  Oracle replays
    ranks, lag gaps and γ bits."""
    from web_graph_spark.operators.layout import adjacency_gap_audit

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    v = webgen.pages_df(spark, sf_dir).select("doc_id", "host")
    return adjacency_gap_audit(e, v, small_hint=100_000)


def q_graph_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal independent set on the admissible link graph
    (operators/graph_algos.py:luby_mis E135, Luby STOC'85): the
    parallel symmetry-breaking primitive — per round every live
    vertex beats-or-yields against its neighborhood on an md5-string
    priority, winners + neighborhoods leave; conflict-free scheduling
    / independent seed selection without a sequential greedy scan.
    Fully decided well before the fixed 6 rounds at this scale;
    independence and maximality pinned structurally in tests.
    Oracle = the same 6 rounds unrolled in SQL."""
    from web_graph_spark.operators.graph_algos import luby_mis

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    return luby_mis(v, e, rounds=6)


def q_crawl_slot_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-balanced fetch-slot assignment by snake placement
    (operators/fleet.py:snake_assign E136): hosts ranked by pending
    page weight desc and dealt boustrophedon across 4 slots, so slot
    loads finish together — the load-balance complement of the HRW
    stability tier (crawl fleet: HRW pins state, snake packs a wave).
    Ranks via the range-partitioned dense rank (no single-partition
    window at scale).  Oracle replays rank + snake arithmetic."""
    from web_graph_spark.operators.fleet import snake_assign

    hw = (webgen.pages_df(spark, sf_dir)
          .groupBy("host").agg(F.count("*").alias("weight")))
    return snake_assign(hw, n_slots=4, weight_col="weight",
                        key_col="host", small_hint=100)


def q_corpus_zonemap_audit(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Zone-map pruning audit (operators/layout.py:zonemap_audit
    E140): the documents table laid into 25-row files by arrival vs
    sorted by n_chars, and for 8 range predicates the exact count of
    files a min/max zone-map reader must scan under each layout —
    the measured case for a sort rewrite (arrival layout scans ≈ all
    files; sorted ≈ selectivity share — both exact here), completing
    the storage trio with the z-order writer (E118) and compaction
    planner (E125).  Oracle replays ranks, file stats and overlap
    counting."""
    from web_graph_spark.operators.layout import zonemap_audit

    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    preds = [(48 + 64 * k, 48 + 64 * k + 63) for k in range(8)]
    return zonemap_audit(d, "n_chars", "doc_id", rows_per_file=25,
                         preds=preds, small_hint=100_000)


def q_embed_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-truncation audit of the embedding table
    (functions/similarity.py:matryoshka_audit E146, Kusupati et al.
    NeurIPS'22): per query and per truncated dimension (32/16/8 of
    64), how much of the full-dimension cosine top-10 the cheap
    prefix tier retains (overlap@k + is-top1-kept) — the
    measure-before-committing-the-index audit, vector twin of the
    zonemap audit.  Integer verdicts; the per-candidate cosine
    matches bitwise (sequential double adds — the ANN discipline).
    Oracle replays slices, rankings and overlap joins."""
    from web_graph_spark.functions.similarity import matryoshka_audit

    return matryoshka_audit(_emb(spark, sf_dir))


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit (functions/similarity.py:
    quantization_audit E177): per embedding dimension, the exact
    cost of rounding to 127 max-abs-scaled levels — saturation /
    dead-zone counts and worst/total reconstruction error in ppm;
    the SQ8-vs-PQ-vs-fp32 decision table.  Max-abs scales are
    aggregation-order independent, per-element code/error is
    straight-line double math, only integer verdicts leave; the
    oracle replays the same arithmetic over an unnested pair
    table."""
    from web_graph_spark.functions.similarity import quantization_audit

    return quantization_audit(_emb(spark, sf_dir))


def q_embed_cluster_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering evaluation (E213): purity and the EXACT adjusted
    Rand index of the E78 k-means assignment against the embeddings'
    true labels — the acceptance row that decides whether trained
    IVF cells can double as semantic shards.  ARI's pair-counting
    algebra runs cleared of fractions (×2·C(n,2)) in decimal(38,0),
    floor ppm via the pmod identity (numerator can be negative —
    worse-than-chance clusterings exist); purity is Σ max-label per
    cluster over n.  Oracle shares the Lloyd CTE chain and replays
    the contingency algebra."""
    from web_graph_spark.functions.similarity import kmeans_integer

    emb = _emb(spark, sf_dir)
    a, _ = kmeans_integer(emb, k=8, rounds=3)
    j = (a.select(F.col("id").alias("vec_id"), "cid")
         .join(emb.select("vec_id", "label"), "vec_id"))
    cont = (j.groupBy("cid", "label")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .localCheckpoint())
    pur = (cont.groupBy("cid").agg(F.max("n").alias("mx"))
           .agg(F.sum("mx").cast("long").alias("sum_max"),
                F.count(F.lit(1)).cast("long").alias("n_clusters")))
    idx = cont.agg(
        F.sum(F.expr("n * (n - 1) div 2")).cast("long").alias("ix"),
        F.sum("n").cast("long").alias("n_tot"))
    arow = (cont.groupBy("cid").agg(F.sum("n").alias("s"))
            .agg(F.sum(F.expr("s * (s - 1) div 2")).cast("long")
                 .alias("sum_a")))
    brow = (cont.groupBy("label").agg(F.sum("n").alias("s"))
            .agg(F.sum(F.expr("s * (s - 1) div 2")).cast("long")
                 .alias("sum_b"),
                 F.count(F.lit(1)).cast("long").alias("n_labels")))
    comb = (idx.crossJoin(F.broadcast(pur))
            .crossJoin(F.broadcast(arow))
            .crossJoin(F.broadcast(brow))
            .withColumn("cc", F.expr("n_tot * (n_tot - 1) div 2")))
    num2 = ("(cast(2 as decimal(38,0)) * (ix * cc - sum_a * sum_b) "
            "* 1000000)")
    den2 = "((sum_a + sum_b) * cc - 2 * sum_a * sum_b)"
    return comb.select(
        "n_tot", "n_clusters", "n_labels",
        F.expr("sum_max * 1000000 div n_tot").cast("long")
        .alias("purity_ppm"),
        F.expr(f"CASE WHEN {den2} > 0 THEN CAST(({num2} - "
               f"pmod({num2}, {den2})) div {den2} AS BIGINT) END")
        .alias("ari_ppm"))


def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-principal-component audit (functions/similarity.py:
    pca_power E215): exact-integer power method (3 iterations, Gram
    trick — no d×d covariance anywhere) over the shifted-quantized
    embeddings; per vector the centered PC1 projection plus the
    corpus-constant variance share in floor ppm — the anisotropy
    number that says whether cosine geometry is trustworthy.  Per
    iteration ONE corpus scan (codegen'd F.aggregate dot against the
    direction literal) and one dim-key agg of d decimals; the oracle
    unrolls the identical iterations as HUGEINT CTEs."""
    from web_graph_spark.functions.similarity import pca_power

    df, _ = pca_power(_emb(spark, sf_dir))
    return df


def _pca_sql(iters: int = 3, dim: int = 64, q_scale: int = 4096,
             v_scale: int = 1024) -> str:
    """Oracle for q_embed_pca: the identical quantize → center-in-
    algebra → power-iterate → sign-fix → project chain, unrolled as
    HUGEINT CTEs with DuckDB's floor `//` matching the driver's
    Python `//`."""
    its = []
    for t in range(1, iters + 1):
        p = f"v{t - 1}"
        its.append(f"""
mv{t} AS MATERIALIZED (SELECT sum(mn.m * v.v) AS mv FROM mn JOIN {p} v USING (j)),
d{t} AS MATERIALIZED (
  SELECT e.vec_id, sum(e.x * v.v) - (SELECT mv FROM mv{t}) AS dot
  FROM el e JOIN {p} v USING (j) GROUP BY e.vec_id),
dd{t} AS MATERIALIZED (SELECT sum(dot) AS sd FROM d{t}),
w{t} AS MATERIALIZED (
  SELECT e.j,
         sum(e.x * d.dot)
           - any_value(mn.m) * (SELECT sd FROM dd{t}) AS w
  FROM el e JOIN d{t} d USING (vec_id) JOIN mn ON mn.j = e.j
  GROUP BY e.j),
mx{t} AS MATERIALIZED (SELECT max(abs(w)) AS mx FROM w{t}),
v{t} AS MATERIALIZED (
  SELECT w.j, CASE WHEN (SELECT mx FROM mx{t}) = 0 THEN p.v
                   ELSE (w.w * {v_scale}) // (SELECT mx FROM mx{t})
              END AS v
  FROM w{t} w JOIN {p} p USING (j))""")
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(floor((x + 1.0) * {q_scale}) AS BIGINT)) AS qv
  FROM embeddings),
dims AS (SELECT unnest(range(1, {dim + 1})) AS j),
el AS MATERIALIZED (SELECT vec_id, j, CAST(qv[j] AS HUGEINT) AS x
       FROM q CROSS JOIN dims),
st AS MATERIALIZED (SELECT j, sum(x) AS s, sum(x * x) AS ss FROM el GROUP BY j),
nn AS (SELECT count(*) AS n FROM q),
mn AS MATERIALIZED (SELECT j, s // n AS m, s FROM st CROSS JOIN nn),
tot AS (SELECT (SELECT sum(ss) FROM st)
              - sum(m * (2 * s - (SELECT n FROM nn) * m)) AS c2
        FROM mn),
v0 AS MATERIALIZED (SELECT j, CAST(1 AS HUGEINT) AS v FROM dims),
{",".join(its)},
sg AS (SELECT CASE WHEN (SELECT v FROM v{iters}
                         ORDER BY abs(v) DESC, j ASC LIMIT 1) < 0
                   THEN -1 ELSE 1 END AS sg),
vf AS MATERIALIZED (SELECT j, v * (SELECT sg FROM sg) AS v FROM v{iters}),
mvf AS MATERIALIZED (SELECT sum(mn.m * v.v) AS mv FROM mn JOIN vf v USING (j)),
proj AS MATERIALIZED (
  SELECT e.vec_id, sum(e.x * v.v) - (SELECT mv FROM mvf) AS pc1
  FROM el e JOIN vf v USING (j) GROUP BY e.vec_id),
l2 AS (SELECT sum(pc1 * pc1) AS l2 FROM proj),
vtv AS (SELECT sum(v * v) AS q2 FROM vf)
SELECT p.vec_id, CAST(p.pc1 AS BIGINT) AS pc1_u,
       CAST((l.l2 * 1000000) // (vv.q2 * t.c2) AS BIGINT)
         AS explained_ppm
FROM proj p CROSS JOIN l2 l CROSS JOIN vtv vv CROSS JOIN tot t"""


def q_embed_label_margin(spark: SparkSession, sf_dir: str
                         ) -> DataFrame:
    """Nearest-centroid label-separability audit (functions/
    similarity.py:label_margin_audit E216): per label, members' mean
    cosine to their own centroid vs the best OTHER-label centroid in
    floor ppm, the margin between them, and the confusion count —
    the cross-label complement of embed_outliers that decides
    whether label-stratified curation can trust these embeddings.
    Exact integer algebra everywhere except the single final cosine,
    written with identical IEEE op order in both engines; k centroid
    arrays broadcast onto one corpus scan, no all-pairs anywhere."""
    from web_graph_spark.functions.similarity import label_margin_audit

    return label_margin_audit(_emb(spark, sf_dir))


def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-distance outlier audit (functions/similarity.py:
    centroid_outliers E190): per label group, each vector's exact
    integer squared distance to the group centroid vs the group mean
    — the OOD/mislabel flag (>3× mean) a curation pipeline runs
    before trusting cluster assignments.  Elements floored to 2^20
    micro-units so every reduction is aggregation-order exact;
    centroid division is true floor via the pmod identity.  Oracle
    replays elements, centroids, and the decimal ppm algebra."""
    from web_graph_spark.functions.similarity import centroid_outliers

    return centroid_outliers(_emb(spark, sf_dir))


def _matryoshka_sql(dims=(32, 16, 8), k=10, nq=5) -> str:
    def cos(v, qv):
        return (f"list_dot_product({v}, {qv}) / "
                f"(sqrt(list_dot_product({v}, {v})) * "
                f"sqrt(list_dot_product({qv}, {qv})))")

    def cte(name, sfx):
        v, qv = f"e.v{sfx}", f"q.qv{sfx}"
        return (f"{name} AS (SELECT q_id, vec_id, rank FROM ("
                f"SELECT q.q_id, e.vec_id, row_number() OVER ("
                f"PARTITION BY q.q_id ORDER BY {cos(v, qv)} DESC, "
                f"e.vec_id) AS rank FROM e CROSS JOIN q "
                f"WHERE e.vec_id <> q.q_id) t WHERE rank <= {k})")

    vcols = ", ".join(
        f"CAST(embedding AS DOUBLE[])[1:{d}] AS v{d}" for d in dims)
    qcols = ", ".join(f"v{d} AS qv{d}" for d in dims)
    parts = [f"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {vcols}
  FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv, {qcols} FROM e
      WHERE vec_id < {nq}),
{cte('tfull', '')}"""]
    unions = []
    for d in dims:
        parts.append(cte(f"t{d}", str(d)))
        parts.append(f"""o{d} AS (
  SELECT f.q_id, count(*) AS ov,
         max(CASE WHEN f.rank = 1 THEN 1 ELSE 0 END) AS t1
  FROM tfull f JOIN t{d} t ON t.q_id = f.q_id
    AND t.vec_id = f.vec_id GROUP BY 1)""")
        unions.append(
            f"SELECT q.q_id, {d} AS dim, "
            f"CAST(coalesce(o{d}.ov, 0) AS BIGINT) AS overlap_at_k, "
            f"CAST(coalesce(o{d}.t1, 0) AS INT) AS top1_kept "
            f"FROM (SELECT DISTINCT q_id FROM q) q "
            f"LEFT JOIN o{d} ON o{d}.q_id = q.q_id")
    return ",\n".join(parts) + "\n" + " UNION ALL ".join(unions)


_SNIFF_CASE_HEX = """CASE doc_id % 8
  WHEN 0 THEN '89504E470D0A1A0A'
  WHEN 1 THEN 'FFD8FFE0'
  WHEN 2 THEN '474946383961'
  WHEN 3 THEN '255044462D312E34'
  WHEN 4 THEN '1F8B08'
  WHEN 5 THEN '52494646DEADBEEF57415645'
  WHEN 6 THEN '50360A'
  ELSE '' END"""


def q_media_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte content sniffing (functions/media.py:sniff_kind
    E147): type-from-leading-BYTES over a real binary column —
    deterministic blobs built in-engine (unhex of a per-doc magic +
    md5 tail), classified by pure-JVM hex(substring) prefix tests
    incl. the RIFF+WAVE two-probe container case; the hardening for
    Content-Type headers that lie.  Oracle sniffs the same hex
    strings textually (DuckDB substr does not take BLOBs — the
    binary surface is Spark-side real, the verdicts engine-equal)."""
    from web_graph_spark.functions.media import sniff_kind

    d = _docs(spark, sf_dir).select("doc_id")
    h = F.expr(f"{_SNIFF_CASE_HEX} || upper(md5(cast(doc_id as string)))")
    b = d.select("doc_id", F.unhex(h).alias("content"))
    return b.select(
        "doc_id", sniff_kind(F.col("content")).alias("kind"),
        F.length("content").cast("long").alias("n_bytes"))


def q_text_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval fusion (functions/text.py:rrf_fuse E145,
    Cormack et al. SIGIR'09): reciprocal-rank fusion of the tf-idf
    and BM25 top-20 lists into one top-10 — the standard score-free
    ensemble (only RANKS enter, so scales never need calibrating),
    in exact integer harmonic weights 10^6 div (60 + rank).  Oracle
    nests the two existing ranking oracles as subqueries and replays
    the fuse."""
    from web_graph_spark.functions.text import (bm25_topk, rrf_fuse,
                                                tfidf_topk)

    d = _docs(spark, sf_dir)
    return rrf_fuse([tfidf_topk(d, SEARCH_TERMS, k=20),
                     bm25_topk(d, SEARCH_TERMS, k=20)], k=10)


def q_text_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift audit (functions/text.py:vocab_drift E139):
    top-20 most-drifted tokens between the even-doc slice and the
    odd-doc slice with an injected spam burst — per-token 2×2
    chi-square ([token vs rest] × [A vs B]) in exact ppm decimals;
    the constructed 'megaspam'/'casino' tokens must rank at the top
    (pinned), which is the monitor doing its job."""
    from web_graph_spark.functions.text import vocab_drift

    d = _docs(spark, sf_dir).select("doc_id", "text")
    a = d.filter(F.col("doc_id") % 2 == 0).select("text")
    b = (d.filter(F.col("doc_id") % 2 == 1)
         .select(F.when(F.col("doc_id") % 14 == 1,
                        F.concat(F.col("text"),
                                 F.lit(" megaspam casino casino")))
                 .otherwise(F.col("text")).alias("text")))
    return vocab_drift(a, b, k=20)


def q_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point chart per event type
    (functions/stats.py:cusum_alarms E143, Page 1954): sustained-
    drift detection over hourly counts in exact n-scaled integers
    (the mean stays a rational, never divided) — catches the slow
    rate creep the per-hour z-test misses; allowance 10% of mean,
    alarm at one accumulated mean-hour.  Oracle replays the fold
    with list_reduce prefixes like the AIMD oracle."""
    from web_graph_spark.functions.stats import cusum_alarms

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cusum_alarms(ev, "event_type")


def q_crawl_delay_compliance(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Crawl-delay compliance audit (operators/politeness.py:
    crawl_delay_compliance E152): the fetch log is the event stream
    keyed to 20 hosts (user_id % 20, the AIMD derivation), declared
    delays are 5+5·(i%4) seconds, and hosts i%5=3 declare none (and
    must be absent from the audit).  Per host: worst gap, violation
    count, worst deficit, compliance verdict — all integer seconds.
    Oracle replays the lag-window gap scan and the agg verbatim."""
    from web_graph_spark.operators.politeness import (
        crawl_delay_compliance)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    log = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string"))
        .alias("host"),
        F.unix_timestamp("ts").alias("t"),
        F.col("event_id").alias("tie"))
    hosts = log.select("host").distinct()
    i = F.substring("host", 2, 3).cast("int")
    delays = (hosts.where(i % 5 != 3)
              .select("host",
                      (F.lit(5) + (i % 4) * 5).alias("crawl_delay")))
    return crawl_delay_compliance(log, delays)


def q_crawl_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alerts (functions/stats.py:
    slo_burn_alerts E154): per-host error-budget paging over the
    fetch stream — fires only when the error fraction beats the 20%
    SLO in BOTH the 1 h and trailing-6 h windows (exact-ppm integer
    comparisons; RANGE windows so absent hours count as zero on the
    sparse per-host stream).  Hosts = the AIMD user_id % 20
    derivation; errors = 'error' events.  Oracle replays both range
    windows and the cross-multiplied verdicts verbatim."""
    from web_graph_spark.functions.stats import slo_burn_alerts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    log = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string"))
        .alias("host"), "ts", "event_type")
    return slo_burn_alerts(log, "host",
                           F.col("event_type") == "error")


def q_events_bot_regularity(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Automated-client detection from request timing
    (functions/stats.py:interarrival_regularity E148): per-client
    inter-arrival gaps tested by two exact-integer regularity
    signals — cross-multiplied cv² < 1% and ≥3/4 modal-gap share.
    The organic events are the human negatives (min cv² ≈ 33 at
    sf0.01); every 10th client is deterministically re-timed onto a
    per-client metronome (period 60+10·(id%7) s, LCG jitter
    (31·id+17·k) mod 10 — ±9 s of slop the cv test must see
    through), the same derive-the-synthetic-structure-from-the-
    tables discipline as the AIMD hosts.  Oracle replays the
    re-timing and both integer verdicts verbatim."""
    from web_graph_spark.functions.stats import interarrival_regularity

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.row_number().over(
        Window.partitionBy("user_id").orderBy("ts", "event_id"))
    base = ev.select(F.col("user_id").alias("client"),
                     F.col("event_id"), F.col("ts"), k.alias("k"))
    period = F.lit(60) + (F.col("client") % 7) * 10
    bot_t = (F.lit(1_700_000_000) + F.col("client")
             + F.col("k").cast("long") * period
             + (F.col("client") * 31 + F.col("k") * 17) % 10)
    t = (F.when(F.col("client") % 10 == 0, bot_t)
         .otherwise(F.unix_timestamp("ts")))
    log = base.select("client", t.cast("long").alias("t"),
                      F.col("event_id").alias("tie"))
    return interarrival_regularity(log, "client", "t", "tie")


def q_events_holt_forecast(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """One-step-ahead hourly load forecast per event type
    (functions/stats.py:holt_forecast E141): Holt's linear smoothing
    with DYADIC constants (α=1/2, β=1/4) in exact 2^−8 fixed point —
    level/trend fold as ONE JVM higher-order aggregate per type, the
    bias trick making floor division engine-identical.  The
    capacity-planning twin of the anomaly detector: what the next
    hour will bring, not whether this one deviated.  Oracle replays
    the recurrence as a recursive CTE over the hour index."""
    from web_graph_spark.functions.stats import holt_forecast

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return holt_forecast(ev, "event_type")


def q_events_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed activity mass per event type
    (functions/stats.py:decay_scores E138): freshness-weighted
    reputation in exact integer QUANTA — decay quantized to discrete
    halvings (k half-lives old ⇒ 2^(H−k) quanta, beyond-horizon ⇒ 0)
    so the score is a bit-reproducible 64-bit sum, slices merge by
    addition, and no engine ever evaluates e^λt.  Anchor = the
    data's max event hour (no wall clock in the plan)."""
    from web_graph_spark.functions.stats import decay_scores

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return decay_scores(ev, "event_type", half_life_hours=24,
                        horizon_halvings=7)


def q_crawl_aimd_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host AIMD budget trajectory (operators/backoff.py:
    aimd_trajectory E137 — the TCP congestion recurrence, Chiu & Jain
    1989): hosts derived from the event user key, wave = epoch hour,
    failed = any 'error' event that hour; budgets fold wave-by-wave
    through halve-on-failure / +1-on-success (floor 1, cap 8) in ONE
    JVM higher-order aggregate per host — order-sensitive state the
    closed-form backoff score (E52) cannot express.  Oracle replays
    the fold with DuckDB list_reduce over every prefix."""
    from web_graph_spark.operators.backoff import aimd_trajectory

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    o = (ev.select(
            F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string"))
            .alias("host"),
            F.expr("unix_timestamp(ts) div 3600").alias("wave"),
            (F.col("event_type") == "error").cast("int").alias("e"))
         .groupBy("host", "wave")
         .agg(F.max("e").alias("failed")))
    return aimd_trajectory(o, base=4, cap=8)


def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (4 synchronous mode-of-neighbors
    rounds, smallest-label tie-break — operators/graph_algos.py:
    label_propagation) over the undirected admissible edge set: the
    mirror-farm / site-family detector a corpus pipeline runs before
    per-community dedup.  Deterministic by construction, so the oracle
    is the SAME 4 rounds unrolled in SQL — no golden parquet."""
    from web_graph_spark.operators.graph_algos import label_propagation

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    return label_propagation(v, e, iters=4)


def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community modularity decomposition (operators/
    graph_algos.py:modularity_by_community E86) of the E50 label-prop
    assignment — the acceptance metric a pipeline checks BEFORE
    trusting communities for per-community dedup (low Q = the
    mirror-farm detector found noise, don't shard by it).  Exact
    integers: q_num = 4·m·e_c − deg_c², so Q = Σ q_num/(4m²) with no
    float anywhere; the oracle re-derives labels via the shared
    unrolled-LPA CTE chain and the same arithmetic."""
    from web_graph_spark.operators.graph_algos import (
        label_propagation, modularity_by_community)

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    labels = label_propagation(v, e, iters=4)
    return modularity_by_community(v, e, labels)


def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the crawl's seed list (operators/
    graph_algos.py:personalized_pagerank E87) — the focused-crawl
    priority signal: mass teleports to the SEEDS, so pages score by
    relevance to the crawl's entry points, not global authority (the
    scheduler-side complement to E10's global PageRank and E34's
    authority-ranked frontier).  Exact integer micro-mass recurrence
    (4 rounds), oracle = the same rounds unrolled in SQL."""
    from web_graph_spark.operators.graph_algos import personalized_pagerank

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    return personalized_pagerank(e, webgen.seeds_df(spark, sf_dir),
                                 rounds=4)


def q_crawl_reach_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-coverage reach curve (E208): per BFS depth from the seed
    list, newly reached pages, the running total, and the cumulative
    share of the WHOLE corpus in floor ppm — the seed-quality readout
    (a curve flattening below 10⁶ says these seeds cannot discover
    the rest, however many waves run; the planning complement to
    E33's per-page depths).  Rides bfs_depths; cumulative window
    over the ≤64-row depth dim.  Oracle shares the recursive-BFS CTE
    plus the same fold."""
    from web_graph_spark.operators.graph_algos import bfs_depths

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    pages = webgen.pages_df(spark, sf_dir)
    seeds = pages.filter(F.col("doc_id") % 97 == 0).select("doc_id")
    d = bfs_depths(e, seeds)
    per = d.groupBy("depth").agg(
        F.count(F.lit(1)).cast("long").alias("n_reached"))
    total = pages.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    w = (Window.orderBy("depth")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (per.withColumn("cum_reached",
                           F.sum("n_reached").over(w).cast("long"))
            .crossJoin(F.broadcast(total))
            .select(F.col("depth").cast("long").alias("depth"),
                    "n_reached", "cum_reached",
                    F.expr("cum_reached * 1000000 div __n")
                    .cast("long").alias("reach_ppm")))


def q_graph_robustness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub-removal attack tolerance (operators/graph_algos.py:
    attack_tolerance E206, Albert/Jeong/Barabási 2000): component
    profile of the admissible web graph before and after deleting
    the 8 highest-degree vertices — does discovery reach hang on a
    handful of hubs?  Oracle replays degrees, the deterministic
    top-8, and both recursive-CTE component profiles."""
    from web_graph_spark.operators.graph_algos import attack_tolerance

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    return attack_tolerance(v, e, k_remove=8)


def q_graph_cc_incremental(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Incremental CC maintenance (operators/graph_algos.py:
    incremental_components E200): the admissible edge set splits
    deterministically into a base batch ((src+tgt) mod 5 ≠ 0, ~80%)
    and a delta; base labels come from one E9 run, the delta then
    merges components through the delta-sized component graph ONLY —
    never rescanning the base edges.  The oracle is the FULL
    recompute over all edges (graph_components' recursive CTE), so
    the hash match IS the incremental ≡ full proof."""
    from web_graph_spark.operators.graph_algos import (
        connected_components, incremental_components)

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    base = e.filter((F.col("src_doc_id") + F.col("tgt_doc_id"))
                    % 5 != 0)
    delta = e.filter((F.col("src_doc_id") + F.col("tgt_doc_id"))
                     % 5 == 0)
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    labels = connected_components(v, base)
    return incremental_components(labels, delta)


def q_graph_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance (operators/graph_algos.py:
    conductance_by_community E193) of the E50 label-prop assignment —
    the boundary-leakiness metric paired with E86's modularity in an
    acceptance suite (the two disagree exactly where resolution-limit
    artifacts live).  cut = vol − 2·internal reuses E86's aggregates;
    φ in floor ppm, NULL when min(vol, 2m−vol) = 0.  Oracle shares
    the unrolled-LPA CTE chain and replays the algebra."""
    from web_graph_spark.operators.graph_algos import (
        conductance_by_community, label_propagation)

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    labels = label_propagation(v, e, iters=4)
    return conductance_by_community(v, e, labels)


def q_graph_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank spam mass (operators/graph_algos.py:spam_mass E185,
    Gyöngyi et al. VLDB'04) — the crawl scheduler's spam-demotion
    signal: the share of each page's PageRank that arrives from
    outside the trusted region.  Two exact integer PPR runs over the
    same admissible edge relation — uniform teleport (= classic
    PageRank with evaporating mass) vs teleport to the crawl's seed
    whitelist (TrustRank) — then the paper's relative mass, clamped
    to [0,1] floor ppm so every division stays non-negative.  Oracle
    unrolls both chains plus the combine in SQL."""
    from web_graph_spark.operators.graph_algos import spam_mass

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    return spam_mass(e, webgen.seeds_df(spark, sf_dir),
                     webgen.pages_df(spark, sf_dir).select("doc_id"),
                     rounds=4)


def q_graph_opic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPIC online page importance (operators/graph_algos.py:
    opic_importance E170, Abiteboul et al. WWW'03) — the crawl-native
    frontier-priority estimator: cash distributed along out-links
    each wave, banked history + held cash = importance while the
    graph is still being discovered (the online complement to E10's
    offline PageRank and E87's seed-personalized variant).  Exact
    integer micro-cash recurrence (4 rounds, dangling mass through
    the virtual page); oracle = the same rounds unrolled in SQL."""
    from web_graph_spark.operators.graph_algos import opic_importance

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    v = webgen.pages_df(spark, sf_dir).select("doc_id")
    return opic_importance(e, v, rounds=4)


def q_graph_salsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALSA hub/authority scores (operators/graph_algos.py:
    salsa_scores E171, Lempel & Moran WWW9 2000) — the random-walk
    repair of HITS' TKC anomaly, in its CLOSED FORM: per bipartite
    component, stationary weight ∝ degree, components weighted by
    their side-node share — no iteration, no float normalization,
    and the quadratic co-citation chain graph is never materialized
    (component structure comes from the |E|-edge bipartite encoding).
    Exact ppb integers; the oracle recomputes components with a
    recursive CTE over the same 2u/2v+1 encoding and replays the
    degree-share algebra."""
    from web_graph_spark.operators.graph_algos import salsa_scores

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    return salsa_scores(e)


def q_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 + J2 index rationale: per-page out/in degree over distinct
    admissible edges."""
    e = (webgen.links_full_df(spark, sf_dir).filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    out_d = e.groupBy(F.col("src_doc_id").alias("doc_id")) \
             .agg(F.count("*").alias("out_deg"))
    in_d = e.groupBy(F.col("tgt_doc_id").alias("doc_id")) \
            .agg(F.count("*").alias("in_deg"))
    pages = webgen.pages_df(spark, sf_dir).select("doc_id")
    return (pages.join(out_d, "doc_id", "left").join(in_d, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).alias("in_deg")))


def q_graph_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link graph: collapse the page graph to weighted
    host→host edges (the granularity crawl scheduling, politeness, and
    spam analysis actually operate at).  Two shuffle joins on doc_id
    (uniform key) then one agg on (src_host, tgt_host); hot-host skew
    in the agg is absorbed by map-side partial aggregation + AQE —
    never a driver materialization, so the plan survives 10^10 edges."""
    e = (webgen.links_full_df(spark, sf_dir).filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    p = webgen.pages_df(spark, sf_dir).select("doc_id", "host")
    return (e
            .join(p.select(F.col("doc_id").alias("src_doc_id"),
                           F.col("host").alias("src_host")), "src_doc_id")
            .join(p.select(F.col("doc_id").alias("tgt_doc_id"),
                           F.col("host").alias("tgt_host")), "tgt_doc_id")
            .groupBy("src_host", "tgt_host")
            .agg(F.count("*").alias("n_edges"),
                 F.countDistinct("src_doc_id").alias("n_src_pages"),
                 F.countDistinct("tgt_doc_id").alias("n_tgt_pages")))


def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host directed-edge reciprocity (operators/graph_algos.py:
    reciprocity) — the share of a host's out-edges whose reverse edge
    exists (Broder et al.'s basic web-shape statistic; high mutual
    linkage flags navigational templates and link exchanges).  One
    pair-distinct + one reversed self-join on the SAME composite key
    (the second join reuses the first's partitioning) + one group agg
    — no window, no driver materialization at 10^10 edges."""
    from web_graph_spark.operators.graph_algos import reciprocity

    e = webgen.links_full_df(spark, sf_dir).filter(F.col("k") % 4 != 0)
    groups = webgen.pages_df(spark, sf_dir).select(
        F.col("doc_id").alias("src_doc_id"), "host")
    return reciprocity(e, groups)


def q_graph_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation related-pages: target pairs (a < b) linked FROM the
    same source page, weighted by how many sources cite both — the
    classic related-page/similarity signal a ranking pipeline derives
    from a web graph (Small 1973; the HITS-adjacent companion to
    E40's hubs/authorities).

    Scale shape: the pair explosion is a per-source self-join, so its
    output is sum(out_deg²) — bounded by the out-degree cap the
    crawler's extractor enforces, NOT by |graph| (here deg ≤ 5, at
    production 100-200); the join key src_doc_id is uniform, the final
    (a, b) agg is map-side-combined.  min_support prunes the long tail
    BEFORE the result materializes.  Top-1000 via TakeOrderedAndProject
    (map-side heap), never a global sort."""
    e = (webgen.links_full_df(spark, sf_dir).filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    a = e.select("src_doc_id", F.col("tgt_doc_id").alias("a"))
    b = e.select("src_doc_id", F.col("tgt_doc_id").alias("b"))
    pairs = (a.join(b, "src_doc_id")
             .filter(F.col("a") < F.col("b"))
             .groupBy("a", "b")
             .agg(F.count("*").alias("n_cociting")))
    return (pairs.filter(F.col("n_cociting") >= 2)
            .orderBy(F.desc("n_cociting"), F.asc("a"), F.asc("b"))
            .limit(1000))


def q_graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction (operators/graph_algos.py:
    ra_link_predict E84): non-adjacent pairs ranked by Σ 1/deg(z)
    over common neighbors z, exact integer ppm (the Adamic-Adar
    family with div instead of float log).  Center-degree cap kills
    hub wedge blowup BEFORE the self-join; known edges drop by
    left-anti; TakeOrdered top-k."""
    from web_graph_spark.operators.graph_algos import ra_link_predict

    e = (webgen.links_full_df(spark, sf_dir).filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    return ra_link_predict(e)


def q_graph_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation per target page — what a search/ranking
    pipeline derives from a web graph (the edge `text` is often a
    better description of the TARGET than the target's own content;
    reference stores it per edge, `linkstorage.go` links.text).

    Per target: total in-refs, referring-host diversity, distinct
    anchor vocabulary, and the modal anchor (ties → lexicographically
    smallest, so the answer is deterministic).  Shape at scale: two
    hash aggs keyed on tgt_doc_id / (tgt_doc_id, anchor) — uniform
    keys, map-side partial agg absorbs hot targets; the modal anchor
    is a `min_by` over (-n, anchor) INSIDE the second agg — no window
    anywhere, so no per-target data sort; min_by's struct buffer makes
    that agg a SortAggregate (sorted by GROUP KEY within partitions,
    post-shuffle — plan-dumped in BENCH/plans/graph_anchor_text.txt).
    The host-diversity branch re-scans the edge table (Catalyst does
    not dedupe subplans); both branches prune to 3 columns at scan."""
    l = (webgen.links_full_df(spark, sf_dir).filter(F.col("k") % 4 != 0)
         .select("tgt_doc_id", "anchor", "src_host"))
    per_anchor = (l.groupBy("tgt_doc_id", "anchor")
                  .agg(F.count("*").alias("n")))
    top = (per_anchor.groupBy("tgt_doc_id")
           .agg(F.sum("n").alias("n_refs"),
                F.count("*").alias("n_anchors"),
                F.max("n").alias("top_anchor_n"),
                F.min_by("anchor",
                         F.struct((-F.col("n")).alias("neg_n"),
                                  F.col("anchor").alias("a")))
                 .alias("top_anchor")))
    hosts = (l.groupBy("tgt_doc_id")
             .agg(F.countDistinct("src_host").alias("n_src_hosts")))
    return (top.join(hosts, "tgt_doc_id")
            .select(F.col("tgt_doc_id").alias("doc_id"), "n_refs",
                    "n_src_hosts", "n_anchors", "top_anchor",
                    "top_anchor_n"))


# ---------------------------------------------------------------------------
# training-data pipeline queries (dedup / similarity / text / media)
# ---------------------------------------------------------------------------

def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish) — JVM regexp_count."""
    from web_graph_spark.functions.text import bpe_ish_token_count, token_count

    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("n_pieces"),
        F.length("text").cast("long").alias("n_chars_m"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from web_graph_spark.functions.text import with_quality

    return with_quality(_docs(spark, sf_dir)).select(
        "doc_id", "n_chars", "n_tokens", "punct_ratio_bp",
        "digit_ratio_bp", "stopword_ratio_bp", "quality_score")


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease / FK grade in exact milli integers
    (functions/text.py:readability_scores E174) — the classic
    curation gate after the ratio heuristics.  The synthetic corpus
    carries no punctuation, so sentence boundaries are injected
    deterministically (a period after every 'table' token — the
    corpus's most common word) before scoring; one codegen'd
    projection, no shuffle.  Oracle replays the counts and the
    non-negative-operand integer algebra."""
    from web_graph_spark.functions.text import readability_scores

    d = _docs(spark, sf_dir).select(
        "doc_id", F.expr("replace(text, ' table', ' table.')")
        .alias("text"))
    return readability_scores(d)


def q_text_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extractive summarization (functions/text.py:extractive_summary
    E180, TextRank degree form): top-2 most central sentences per
    document over the sentence-injected corpus, scored by shared
    vocabulary with the rest of the document — computed WITHOUT the
    quadratic sentence-pair join via the linear decomposition
    score(i) = Σ_tok (n_sentences_with(tok) − 1); the oracle replays
    the textbook pairwise self-join, so equality certifies the
    decomposition."""
    from web_graph_spark.functions.text import extractive_summary

    d = _docs(spark, sf_dir).select(
        "doc_id", F.expr("replace(text, ' table', ' table.')")
        .alias("text"))
    return extractive_summary(d, k=2)


def q_text_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script composition + homoglyph flag (functions/
    text.py:script_mix E175) over a corpus with deterministically
    injected non-Latin content: zh-labeled docs get CJK tokens, every
    17th doc gets the classic Cyrillic-а confusable substitution —
    the script-mix mislabel audit and the spoofing tell, one codegen
    projection.  Oracle shares the class regexps verbatim and mirrors
    the tie-break CASE chain."""
    from web_graph_spark.functions.text import script_mix

    d = (_docs(spark, sf_dir)
         .select("doc_id",
                 F.expr("case when lang = 'zh' then replace(replace("
                        "text, ' table', ' 表'), ' data', ' 数据') "
                        "else text end").alias("t1"))
         .select("doc_id",
                 F.expr("case when doc_id % 17 = 0 then "
                        "replace(t1, 'a', 'а') else t1 end")
                 .alias("text")))
    return script_mix(d)


def q_corpus_source_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E48 domain-reputation filter (C4 §2.2 / RefinedWeb §3.1's
    URL-and-domain filtering at source granularity): per-source doc
    count, mean composite quality, and the bp share of docs under the
    quality floor — a domain that is mostly junk drops ALL its pages,
    including the above-floor ones (spam farms poison by association).
    One codegen projection + one uniform-key agg over |sources| keys;
    the verdict dim then semi-joins the corpus (source_filter)."""
    from web_graph_spark.functions.text import source_reputation

    return (source_reputation(_docs(spark, sf_dir))
            .select("source", "n_docs", "avg_quality",
                    "low_quality_share_bp", "keep"))


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from web_graph_spark.functions.text import with_lang_guess

    return with_lang_guess(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "lang_guess")


LEXICON = (("slow", "blocked"), ("leak", "blocked"),
           ("deadlock", "blocked"), ("spill", "watch"),
           ("skew", "watch"), ("retry", "watch"))


def q_text_lexicon_filter(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Lexicon-based safety filter (functions/text.py:lexicon_filter
    E210): the UT1/blocklist pass built for 10^5-term lists —
    tokenize once, broadcast-join the (term, category) dim, count
    hits per category (a union-regex dies at that scale).  The dim
    above marks two categories over the corpus vocabulary; flagged =
    ≥ 2 'blocked' hits.  Oracle replays tokenize + VALUES join."""
    from web_graph_spark.functions.text import lexicon_filter

    lex = spark.createDataFrame(list(LEXICON),
                                "term string, category string")
    return lexicon_filter(_docs(spark, sf_dir), lex,
                          flag_categories=("blocked",),
                          flag_min_hits=2)


def q_text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing filter (functions/text.py:code_detect
    E205): symbol density, indented-line share, ;/{ line endings,
    and keyword hits fold to an exact bp score — deterministic JS
    snippets are appended to doc_id % 4 == 0 docs (the synthetic
    corpus has no code; the oracle injects identically), so both
    verdict polarities fire.  One regexp projection, zero shuffles;
    oracle replays counts and algebra."""
    from web_graph_spark.functions.text import code_detect

    did = F.col("doc_id")
    snippet = F.concat(
        F.lit("\nfunction f"), did.cast("string"),
        F.lit("(x) {\n  var y = x + "), did.cast("string"),
        F.lit(";\n  if (y > 10) {\n    return y;\n  }\n"
              "  const z = [1, 2, 3];\n}"))
    injected = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.col("text"),
                 F.when(did % 4 == 0, snippet).otherwise(F.lit("")))
        .alias("text"))
    return code_detect(injected)


def q_text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-vs-content confusion matrix (E202): declared ``lang``
    column against the E11 n-gram detector, per (declared, detected)
    cell with exact counts, the declared-row share in floor ppm, and
    the agreement flag — the metadata-QA table that decides whether
    a source's self-reported language is trustworthy enough to route
    per-language processing on (mislabeled metadata silently poisons
    per-lang tokenizers and quality thresholds downstream).  One
    codegen'd detector projection + one hash agg to ≤|langs|² cells;
    the share window runs on that bounded dim.  Oracle replays the
    CASE-chain detector + the same algebra."""
    from web_graph_spark.functions.text import with_lang_guess

    cells = (with_lang_guess(_docs(spark, sf_dir))
             .groupBy("lang", "lang_guess")
             .agg(F.count(F.lit(1)).cast("long").alias("n")))
    w = Window.partitionBy("lang")
    return (cells
            .withColumn("row_total", F.sum("n").over(w))
            .select("lang", "lang_guess", "n",
                    F.expr("n * 1000000 div row_total").cast("long")
                    .alias("share_ppm"),
                    (F.col("lang") == F.col("lang_guess"))
                    .alias("agree")))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from web_graph_spark.functions.text import with_fingerprint

    return with_fingerprint(_docs(spark, sf_dir)).select(
        "doc_id", "fingerprint")


def q_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (functions/text.py:
    winnowing_fingerprints E189, Schleimer et al. SIGMOD'03 — MOSS):
    per-doc selected-fingerprint audit over the alnum char stream
    (k=8, w=4) with the order-insensitive Σ hash·(pos+1) set digest —
    the fine-grained copy detector between X1's whole-doc md5 and
    E3's shingle MinHash.  One explode + ONE doc-keyed window pass;
    oracle replays k-grams, the BIGINT (min-hash, rightmost-pos)
    window trick, and the digest algebra."""
    from web_graph_spark.functions.text import winnowing_fingerprints

    return winnowing_fingerprints(_docs(spark, sf_dir))


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (type/token ratio, top
    bigram mass, duplicated trigram mass) — the filter family a
    pre-training corpus applies before dedupe (Rae et al. 2021 A1.1).
    Explode → two uniform-key shuffles, no Python, length-linear."""
    from web_graph_spark.functions.text import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


# tf-idf search terms for the contract query: one rare term ("dup",
# df≈5% of docs) + three common ones — the integer idf spread makes
# rare-term hits dominate the ranking, which is the property the
# query demonstrates.
SEARCH_TERMS = ("dup", "hash", "vector", "merge")


def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted-index build (round 4, functions/text.py:
    inverted_index E68): per term, document frequency, total term
    frequency, and an md5 digest of the full positional postings list
    — the digest pins every (doc, position) pair against the oracle
    without shipping nested arrays through the compare.  One corpus
    scan, (term, doc) partials absorb stopword heat, output is
    vocabulary-sized."""
    from web_graph_spark.functions.text import inverted_index

    return inverted_index(_docs(spark, sf_dir).select("doc_id", "text"))


def q_text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search via positional-postings intersection
    (round 4, functions/text.py:phrase_hits E69): docs containing
    'big order scan' at consecutive positions, with the distinct
    anchor count per doc.  Term filters push to the scan; slices
    equi-join on (doc, anchor_pos) so candidates shrink every step."""
    from web_graph_spark.functions.text import phrase_hits

    return phrase_hits(_docs(spark, sf_dir).select("doc_id", "text"),
                       ("big", "order", "scan"))


_POSITIONS_SQL = """
  SELECT doc_id, u.pos AS pos, u.term AS term FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(l) + 1),
           i -> {'pos': i - 1, 'term': l[i]})) AS u
    FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))
  WHERE u.term <> ''"""


def q_text_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GloVe co-occurrence statistics (round 4, functions/text.py:
    cooccurrence_counts E71): unordered word pairs within a 2-token
    window with raw counts and exact integer-ppm 1/d GloVe mass.  The
    range join unrolls into 2 equi-joins on (doc, pos+d) — uniform
    keys, no range machinery; hot pairs absorbed by map-side
    partials."""
    from web_graph_spark.functions.text import cooccurrence_counts

    return cooccurrence_counts(
        _docs(spark, sf_dir).select("doc_id", "text"),
        window=2, min_pairs=3)


def q_text_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic tf-idf top-20 keyword search over the corpus
    (functions/text.py:tfidf_topk) — all-integer idf arithmetic (no
    float logs), so Spark and DuckDB rank bit-identically.  Plan: one
    codegen'd tf scan, a 1-row stats broadcast, TakeOrdered top-k —
    no global sort at any corpus size."""
    from web_graph_spark.functions.text import tfidf_topk

    return tfidf_topk(_docs(spark, sf_dir), SEARCH_TERMS, k=20)


def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 retrieval (functions/text.py:bm25_topk) — Lucene's
    k1=1.2 / b=0.75 defaults rendered as exact integer arithmetic
    (fractions cleared by 10·T — see the module comment), so the
    DuckDB oracle reproduces the ranking bit-for-bit.  Unlike
    text_search_topk's tf-idf this saturates repeated terms and
    length-normalizes.  Plan: one codegen'd tf+dl scan, a 1-row stats
    broadcast, TakeOrdered top-k — no global sort at any corpus
    size."""
    from web_graph_spark.functions.text import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), SEARCH_TERMS, k=20)


def q_text_retrieval_eval(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Retrieval-quality evaluation (functions/text.py:
    retrieval_metrics E155): recall@10 / MRR / nDCG@10 in exact
    scaled integers for four single-term BM25 rankings, judged
    against term-frequency qrels (rel 2 when the word-boundary tf ≥
    3, rel 1 when ≥ 1 — the same regexp count BM25 itself scores
    with, so the metric honestly measures what length normalization
    and saturation REORDER, not a tautology: recall@10 ≪ 1 because
    far more docs mention a term than any top-10 can hold).  The
    discount table is the shared ndcg_weights literal list, the one
    rounding of the irrational log2 discount, imported by both
    engines.  Oracle nests four bm25_sql rankings and replays the
    metric algebra."""
    from functools import reduce

    from web_graph_spark.functions.text import (bm25_topk,
                                                retrieval_metrics)

    docs = _docs(spark, sf_dir)
    ranked = reduce(
        lambda a, b: a.unionByName(b),
        [bm25_topk(docs, (t,), k=10)
         .select(F.lit(t).alias("query"), "doc_id", "rank")
         for t in SEARCH_TERMS])
    qrels = reduce(
        lambda a, b: a.unionByName(b),
        [docs.select(
            F.lit(t).alias("query"), "doc_id",
            F.regexp_count(F.lower("text"),
                           F.lit(rf"\b{t}\b")).alias("tf"))
         .where(F.col("tf") >= 1)
         .select("query", "doc_id",
                 F.when(F.col("tf") >= 3, 2).otherwise(1)
                 .alias("rel"))
         for t in SEARCH_TERMS])
    return retrieval_metrics(ranked, qrels, k=10)


def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText quality gates (functions/text.py:
    gopher_rules E81) — the published hard-filter set (word count,
    mean word length, symbol/bullet/ellipsis ratios, alpha-word
    fraction, distinct-stopword floor) as exact integer bp/x100
    gates.  The synthetic corpus is single-line word soup, so
    deterministic multi-line bullet / ellipsis / symbol / numeric
    tails are injected by doc_id congruence (the pii_scrub pattern;
    the oracle injects identically), exercising every rule both ways.
    Zero shuffles: one codegen'd regexp projection."""
    from web_graph_spark.functions.text import gopher_rules

    return gopher_rules(_gopher_injected(spark, sf_dir))


def _gopher_injected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with the deterministic gopher-gate tail injections
    (bullets / ellipses / symbols / numerics by doc_id congruence) —
    shared by the gopher-rules and calibration queries; the oracles
    inject identically."""
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(did % 9 == 0,
               F.lit("\n- alpha\n- beta\n- gamma")).otherwise(F.lit("")),
        F.when(did % 13 == 0,
               F.lit("\nto be continued...\nmore soon...")
               ).otherwise(F.lit("")),
        F.when(did % 17 == 0, F.lit(" ### ## # ...")).otherwise(F.lit("")),
        F.when(did % 23 == 0,
               F.lit(" 123 456 789 101 112 131 415 161 718 192")
               ).otherwise(F.lit("")))
    return _docs(spark, sf_dir).select("doc_id", injected.alias("text"))


def q_text_filter_calibration(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Cheap-filter calibration (functions/stats.py:calibration_curve
    E161): does the one-projection quality score (E11) predict the
    full Gopher gate battery (E81)?  Both run over the same injected
    corpus; the sweep prices cutoffs 0..6000 in steps of 1000 with
    exact confusion counts, ppm precision/recall, and division-free
    F1 — the threshold choice for running the cheap filter first.
    Oracle nests the quality and gopher SQL over the shared
    injection and replays the sweep."""
    from web_graph_spark.functions.stats import calibration_curve
    from web_graph_spark.functions.text import (gopher_rules,
                                                with_quality)

    inj = _gopher_injected(spark, sf_dir)
    scored = with_quality(inj).select("doc_id", "quality_score")
    labels = gopher_rules(inj).select("doc_id", "passes")
    return calibration_curve(
        scored, labels, thresholds=tuple(range(0, 7000, 1000)),
        score_col="quality_score", label_col="passes")


def q_text_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-free filter evaluation (functions/stats.py:roc_auc
    E184): the exact tie-corrected ROC-AUC of the cheap quality
    score (E11) against the Gopher gate battery (E81), per host —
    the domain-shift question behind every curation cutoff: is the
    cheap score equally trustworthy on every site, or does one host
    need its own threshold?  Mann-Whitney rank-sum over score
    classes (no pair join), exact 2×-scaled average ranks, ppm
    floor.  Oracle replays the class histogram + cumulative window
    + rank-sum algebra over the identically injected corpus."""
    from web_graph_spark.functions.stats import roc_auc
    from web_graph_spark.functions.text import (gopher_rules,
                                                with_quality)

    inj = _gopher_injected(spark, sf_dir)
    scored = with_quality(inj).select("doc_id", "quality_score")
    labels = gopher_rules(inj).select("doc_id", "passes")
    hosts = webgen.pages_df(spark, sf_dir).select("doc_id", "host")
    j = scored.join(labels, "doc_id").join(hosts, "doc_id")
    return roc_auc(j, "host", F.col("quality_score"), "passes")


CLASSIFIER_LABELS = ("drop", "flag", "keep")


def q_text_hashed_classifier(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """fastText-style hashed linear classifier inference
    (functions/text.py:hashed_classifier E162): unigram+bigram
    md5-prefix buckets (B=256) × a dense synthetic (b, label, w)
    weight dim, integer dot-product scores, argmax with margin —
    the model-based gate after the heuristic filters.  Weight dim is
    the deterministic hex16 synthesis (stands in for a trained
    export); oracle rebuilds it with the strpos recipe and replays
    the scoring."""
    from web_graph_spark.functions.text import (hashed_classifier,
                                                synth_classifier_weights)

    wts = synth_classifier_weights(spark, CLASSIFIER_LABELS)
    return hashed_classifier(_docs(spark, sf_dir).select("doc_id",
                                                         "text"), wts)


def q_text_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 keyphrase bigrams by integer tf·idf
    (functions/text.py:keyphrases E85): RAKE-style stopword
    delimiters, shifted pos+1 equi-join bigrams, doc-keyed window
    top-k (never a global sort)."""
    from web_graph_spark.functions.text import keyphrases

    return keyphrases(_docs(spark, sf_dir).select("doc_id", "text"))


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact (functions/text.py:pii_scrub) over the
    corpus with deterministic synthetic PII injected (emails / IPv4 /
    phone numbers appended by doc_id congruence — the synthetic corpus
    contains none naturally, and the oracle injects identically).
    Zero shuffles: a single codegen'd regexp projection."""
    from web_graph_spark.functions.text import pii_scrub

    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(did % 7 == 0,
               F.concat(F.lit(" contact user"), did.cast("string"),
                        F.lit("@mail.example.com"))).otherwise(F.lit("")),
        F.when(did % 11 == 0,
               F.concat(F.lit(" server 10.0."), (did % 200).cast("string"),
                        F.lit(".25 up"))).otherwise(F.lit("")),
        F.when(did % 13 == 0,
               F.concat(F.lit(" call +1 555 010-"),
                        F.lpad((did % 100).cast("string"), 2, "0")))
        .otherwise(F.lit("")))
    return pii_scrub(
        _docs(spark, sf_dir).select("doc_id", injected.alias("text")))


def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-scoped boilerplate removal (functions/text.py:
    host_boilerplate) — the site-template pass: a line is dropped when
    it repeats across ≥ 50% (and ≥ 2) of its SOURCE's documents, never
    across sources.  Deterministic site furniture is injected per
    source (the synthetic corpus has none naturally; the oracle
    injects identically): a NAV line in 100% of a source's docs
    (always dropped), a FOOTER in docs with even doc_id — 13/25 =
    5200 bp for even sources, 12/25 = 4800 bp for odd ones, so the
    same line lands on BOTH sides of the 5000 bp threshold — and a
    COOKIE line in doc_id % 3 == 0 docs (~3333 bp, always kept).
    Content is re-lined at 12 tokens/line like corpus_line_dedup."""
    from web_graph_spark.functions.text import host_boilerplate

    did = F.col("doc_id")
    lined = _docs(spark, sf_dir).select(
        "doc_id", "source",
        F.concat_ws(
            "\n",
            F.concat(F.lit("NAV "), F.col("source"),
                     F.lit(" home about contact")),
            F.when(did % 2 == 0,
                   F.concat(F.lit("FOOTER "), F.col("source"),
                            F.lit(" copyright"))),
            F.when(did % 3 == 0, F.lit("COOKIE consent banner")),
            F.expr(
                "concat_ws('\\n', transform(sequence(0, "
                "cast(ceil(size(split(text, ' ')) / 12.0) as int) - 1), "
                "i -> concat_ws(' ', slice(split(text, ' '), "
                "i * 12 + 1, 12))))")
        ).alias("text"))
    return host_boilerplate(lined, group_col="source",
                            min_frac_bp=5000, min_docs=2)


def _docs_with_dups(spark, sf_dir):
    """documents ∪ deterministic near/exact copies (dedupe test corpus)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    exact = (d.filter(F.col("doc_id") % 50 == 0)
             .select((F.col("doc_id") + 100000).alias("doc_id"),
                     F.upper(F.col("text")).alias("text")))
    near = (d.filter(F.col("doc_id") % 50 == 1)
            .select((F.col("doc_id") + 200000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" zz qq ww")).alias("text")))
    return d.unionByName(exact).unionByName(near)


def _docs_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ deterministic CROSS-SOURCE exact copies: every
    doc_id % 11 == 0 is re-published verbatim under the rotated
    source 'src{(doc_id * 7 + 3) % 20}' — the shared-content planted
    ground truth for the source-overlap matrix; the oracle injects
    identically."""
    d = _docs(spark, sf_dir).select("doc_id", "text", "source")
    copies = (d.filter(F.col("doc_id") % 11 == 0)
              .select((F.col("doc_id") + 300000).alias("doc_id"),
                      "text",
                      F.concat(F.lit("src"),
                               ((F.col("doc_id") * 7 + 3) % 20)
                               .cast("string")).alias("source")))
    return d.unionByName(copies)


def q_dedup_source_overlap(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Cross-source content-overlap matrix (functions/dedup.py:
    source_overlap_matrix E221) over the cross-source-injected
    corpus: per unordered source pair the shared exact-content
    clusters, each side's document mass, and the containment of the
    smaller catalog in floor ppm — the double-counted-content audit
    run before trusting a training mix.  Cluster self-join fans out
    at most |sources| per key; totals are a broadcast dim.  Oracle
    replays injection, clustering, and pair algebra."""
    from web_graph_spark.functions.dedup import source_overlap_matrix

    return source_overlap_matrix(_docs_cross_source(spark, sf_dir))


def q_dedup_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What exact dedup does to the training mix (E228): per source,
    the corpus share BEFORE vs AFTER the canonical keep-list (keep =
    min doc_id per md5 content cluster — the E60/E128 composition),
    in floor ppm with the signed delta.  Sources that syndicate
    content LOSE share under dedup while original publishers keep
    theirs — the silent re-weighting E221's overlap matrix predicts,
    priced here per source.  Runs over the same cross-source
    injection so the planted copies move the mix; two bounded
    |sources|-key aggs + two 1-row totals."""
    aug = _docs_cross_source(spark, sf_dir)
    keyed = aug.select("doc_id", "source",
                       F.md5(F.col("text")).alias("ck"))
    keep = keyed.groupBy("ck").agg(F.min("doc_id").alias("doc_id"))
    kept = keyed.join(keep, ["ck", "doc_id"], "left_semi")
    before = keyed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    after = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"))
    tb = before.agg(F.sum("n_docs").alias("tb"))
    ta = after.agg(F.sum("n_kept").alias("ta"))
    return (before.join(after, "source", "left")
            .select("source", "n_docs",
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                    .alias("n_kept"))
            .crossJoin(F.broadcast(tb))
            .crossJoin(F.broadcast(ta))
            .select("source", "n_docs", "n_kept",
                    F.expr("n_docs * 1000000 div tb").cast("long")
                    .alias("share_before_ppm"),
                    F.expr("n_kept * 1000000 div ta").cast("long")
                    .alias("share_after_ppm"))
            .withColumn("delta_ppm",
                        (F.col("share_after_ppm")
                         - F.col("share_before_ppm")).cast("long")))


def q_text_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related-document pairs by raw-tf cosine over the inverted
    index (round 4, functions/text.py:doc_similarity_pairs E105) —
    the embedding-free lexical similarity tier: terms df-capped at 50
    (the prefix-filtering move that keeps the postings self-join
    ≤ df_cap² per term, never corpus-quadratic), cosine ≥ 0.7 decided
    in exact integers (num²·10⁸ ≥ 7000²·na·nb over decimal /
    HUGEINT), run over the dup-injected corpus so the near-copies
    surface.  The oracle replays cap, subspace, and algebra
    verbatim."""
    from web_graph_spark.functions.text import doc_similarity_pairs

    return doc_similarity_pairs(_docs_with_dups(spark, sf_dir),
                                threshold_bp=7000, df_cap=50)


def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation over the dup-injected corpus:
    quality features → admission thresholds → language guess →
    fingerprint exact-dedupe keeping the lowest doc_id per normal form.
    One declarative plan — Catalyst fuses the three feature stages into
    a single codegen'd projection and the dedupe is one uniform-key
    shuffle (md5 fingerprint), so the whole pipeline is one scan + one
    exchange at any scale."""
    from web_graph_spark.functions.text import (with_fingerprint,
                                                with_lang_guess,
                                                with_quality)

    feats = with_fingerprint(with_lang_guess(with_quality(
        _docs_with_dups(spark, sf_dir))))
    kept = feats.filter((F.col("n_tokens") >= 10)
                        & (F.col("quality_score") >= 2500)
                        & (F.col("stopword_ratio_bp") >= 300))
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (kept.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "n_tokens", "quality_score", "lang_guess",
                    "fingerprint"))


def q_corpus_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus MIXING (round 4) — the weighted-sampling step
    that turns a curated pool into a training mix: documents are
    bucketed by quality band (high ≥2000 / mid ≥1200 / low) and each
    bucket keeps a different deterministic fraction (1.0 / 0.5 / 0.1).
    The coin is ``substr(md5(doc_id), 1, 4) < hex-threshold`` — a pure
    lexicographic compare on the hex digest, bit-identical in Spark
    and DuckDB, reproducible across runs/cluster sizes, and embarrass-
    ingly parallel (no shuffle at all: one scan, codegen'd projection
    + filter; sampling 100 TB costs exactly one pass)."""
    from web_graph_spark.functions.text import with_quality

    feats = with_quality(_docs(spark, sf_dir))
    bucket = (F.when(F.col("quality_score") >= 2000, "high")
              .when(F.col("quality_score") >= 1200, "mid")
              .otherwise("low"))
    coin = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    keep = ((bucket == "high")
            | ((bucket == "mid") & (coin < "8000"))
            | ((bucket == "low") & (coin < "1999")))
    return (feats.withColumn("bucket", bucket).filter(keep)
            .select("doc_id", "bucket", "n_tokens", "quality_score"))


def q_corpus_stratified_sample(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Exact-quota stratified sampling (round 4, functions/text.py:
    stratified_quota_sample E111): 40 documents per quality bucket by
    deterministic md5-of-id rank — the eval-set construction that
    needs a COUNT per stratum where sample_mix keeps a RATE.  The
    hash order is stable under corpus growth (a doc's rank key never
    changes), and the literal <=40 filter plans WindowGroupLimit so
    every map task pre-cuts to its local top-40 per bucket before the
    shuffle."""
    from web_graph_spark.functions.text import (stratified_quota_sample,
                                                with_quality)

    bucket = (F.when(F.col("quality_score") >= 2000, "high")
              .when(F.col("quality_score") >= 1200, "mid")
              .otherwise("low"))
    d = (with_quality(_docs(spark, sf_dir))
         .select("doc_id", bucket.alias("bucket")))
    return stratified_quota_sample(d, "bucket", 40)


def q_corpus_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (functions/text.py:
    lang_temperature_mix, α = 0.5 — the mC4/XLM-R sampling step):
    keep rate per language = sqrt(n_lang / n_max), derived in-plan
    from the observed distribution (en at 100%, tail languages
    upsampled relative to their share).  sqrt/÷/×/floor are IEEE
    correctly-rounded, so the data-derived thresholds reproduce
    bit-for-bit in the oracle."""
    from web_graph_spark.functions.text import lang_temperature_mix

    return lang_temperature_mix(
        _docs(spark, sf_dir).select("doc_id", "lang"))


def q_corpus_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style hashed-n-gram importance weighting (round 4) — score
    every document by how target-like its token distribution is
    (target = the English slice of the corpus).  The heavy lifting is
    `importance_weights` (functions/text.py): md5-prefix hashed
    buckets so Spark and DuckDB agree bit-for-bit, integer rational
    likelihood ratios instead of float logs, corpus scanned exactly
    twice, weight dim ≤4096 rows (always a broadcast)."""
    from web_graph_spark.functions.text import importance_weights

    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    target = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    return importance_weights(docs.select("doc_id", "text"), target)


def q_corpus_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-repetition budget plan (E166, Muennighoff et al. 2023
    "Scaling Data-Constrained Language Models"): split a global
    training-token budget across sources max-min fairly with per-
    source demand capped at 4 epochs of that source's inventory —
    repeating data beyond ~4 epochs returns almost nothing, so no
    source is granted past it and freed budget flows to the sources
    that can still absorb it.  Pure reuse of fair_share (E164) on a
    token inventory; reports grant + exact epochs_ppm per source.
    Capacity 100k vs a 4-epoch demand of ~108k at sf0.01: two small
    sources reach the full 4.0 epochs, the rest share one water
    level.  Oracle replays inventory + the shared fair-share chain."""
    from web_graph_spark.functions.text import token_count
    from web_graph_spark.operators.politeness import fair_share

    inv = (_docs(spark, sf_dir).groupBy("source")
           .agg(F.sum(token_count(F.col("text"))).cast("long")
                .alias("tokens")))
    d = inv.select(F.col("source").alias("host"),
                   (F.col("tokens") * 4).cast("long").alias("demand"))
    fs = fair_share(d, capacity=100_000)
    return (fs.join(inv, fs.host == inv.source)
            .select("source", "tokens", F.col("alloc").alias("grant"),
                    F.when(F.col("tokens") > 0,
                           F.expr("1000000 * alloc div tokens"))
                    .otherwise(F.lit(0)).cast("long")
                    .alias("epochs_ppm"),
                    "capped"))


def q_corpus_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity terciles (functions/text.py:
    perplexity_buckets) — head/middle/tail quality split under a
    unigram model of the corpus itself.  Integer ppb token
    likelihoods replace KenLM's float log-perplexity (monotone
    inverse ordering, bit-identical across engines); tercile
    thresholds come from a ≤1001-bin score histogram, never a global
    sort of the corpus."""
    from web_graph_spark.functions.text import perplexity_buckets

    return perplexity_buckets(_docs(spark, sf_dir)
                              .select("doc_id", "text"))


def q_corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (round 4, functions/
    tokenizer.py E66): learn the first 6 merges of a byte-pair
    vocabulary over a deterministic md5-coin sample of the corpus
    (~75% of docs — the gate real trainers put in front of tokenizer
    fitting).  One corpus-scale pass builds the word-type frequency
    dim; every merge round then runs over that vocab-sized dim only —
    adjacent-pair explode, uniform-hash-key weighted agg, 1-row
    TakeOrdered argmax, literal-replace merge projection.  Sentinel-
    wrapped strings + integer counts + (count DESC, pair ASC)
    tie-break make the merge table bit-identical in any engine."""
    from web_graph_spark.functions.tokenizer import bpe_merges, word_counts

    docs = _docs(spark, sf_dir).select("doc_id", "text").filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
        < "c000")
    return bpe_merges(word_counts(docs), rounds=6)


def _bpe_oracle_sql(rounds: int = 6) -> str:
    """Unrolled-CTE DuckDB oracle for ``corpus_bpe_merges``: the same
    sentinel-wrapped representation, one (p_k, m_k, w_k) CTE triple
    per merge round — sound to unroll because the engine's round
    count is a fixed parameter, not data-dependent."""
    sql = """WITH w0 AS (
  SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS s, n FROM (
    SELECT tok AS word, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents
          WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'c000')
    WHERE tok <> '' AND tok NOT LIKE '%|%' GROUP BY tok)
)"""
    for k in range(1, rounds + 1):
        sql += f""",
p{k} AS (SELECT pr, CAST(sum(n) AS BIGINT) AS pn FROM (
    SELECT unnest(list_transform(
        range(1, len(string_split(trim(s, '|'), '||'))),
        i -> string_split(trim(s, '|'), '||')[i] || '||'
             || string_split(trim(s, '|'), '||')[i + 1])) AS pr, n
    FROM w{k - 1}) GROUP BY pr),
m{k} AS (SELECT pr, pn FROM p{k} ORDER BY pn DESC, pr LIMIT 1),
w{k} AS (SELECT replace(w.s,
        '|' || string_split(m.pr, '||')[1] || '||'
            || string_split(m.pr, '||')[2] || '|',
        '|' || string_split(m.pr, '||')[1]
            || string_split(m.pr, '||')[2] || '|') AS s, w.n
    FROM w{k - 1} w, m{k} m)"""
    unions = "\nUNION ALL\n".join(
        f"SELECT {k} AS merge_round, string_split(pr, '||')[1] AS lft,"
        f" string_split(pr, '||')[2] AS rgt, pn AS pair_count FROM m{k}"
        for k in range(1, rounds + 1))
    return sql + f"\nSELECT * FROM ({unions}) ORDER BY merge_round"


def _bpe_encode_oracle_sql(rounds: int = 6) -> str:
    """Oracle for ``corpus_bpe_encode``: the merge-training CTE chain
    of :func:`_bpe_oracle_sql` (shared representation, same sample
    coin), then the ENCODE applied corpus-wide — each word wrapped,
    the learned merges folded as nested literal replaces in learned
    order (BPE's encode rule), flattened back in word order."""
    train = _bpe_oracle_sql(rounds)
    head = train[:train.rindex("\nSELECT * FROM (")]
    pats = ",\n".join(
        f"""r{k} AS (SELECT '|' || string_split(pr, '||')[1] || '||'
        || string_split(pr, '||')[2] || '|' AS pat,
     '|' || string_split(pr, '||')[1]
         || string_split(pr, '||')[2] || '|' AS rep FROM m{k})"""
        for k in range(1, rounds + 1))
    expr = "regexp_replace(w, '(.)', '|\\1|', 'g')"
    for k in range(1, rounds + 1):
        expr = f"replace({expr}, r{k}.pat, r{k}.rep)"
    froms = ", ".join(f"r{k}" for k in range(1, rounds + 1))
    return head + f""",
{pats},
docs AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '),
                     w -> w <> '' AND w NOT LIKE '%|%') AS words
  FROM documents
),
enc AS (
  SELECT doc_id,
         flatten(list_transform(words,
             w -> string_split(trim({expr}, '|'), '||'))) AS toks
  FROM docs, {froms}
)
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
       md5(array_to_string(toks, ' ')) AS tok_digest
FROM enc"""


def _bpe_fertility_oracle_sql(rounds: int = 6) -> str:
    """Oracle for ``corpus_fertility``: the full encode chain of
    :func:`_bpe_encode_oracle_sql` (same trainer, same sample coin)
    re-aggregated per language with the encoder's own word set."""
    enc = _bpe_encode_oracle_sql(rounds)
    head = enc[:enc.rindex("\nSELECT doc_id,")]
    return head + """
, per AS (
  SELECT d2.lang,
         CAST(len(e.toks) AS BIGINT) AS pieces,
         CAST(len(dw.words) AS BIGINT) AS words,
         CAST(strlen(array_to_string(dw.words, '')) AS BIGINT)
           AS chars
  FROM enc e
  JOIN docs dw ON dw.doc_id = e.doc_id
  JOIN documents d2 ON d2.doc_id = e.doc_id
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(pieces) AS BIGINT) AS pieces,
       CAST(sum(words) AS BIGINT) AS words,
       CAST(sum(chars) AS BIGINT) AS chars,
       CAST(1000000 * sum(pieces) // sum(words) AS BIGINT)
         AS fertility_ppm,
       CAST(100 * sum(chars) // sum(pieces) AS BIGINT) AS cpp_x100
FROM per GROUP BY 1"""


def q_corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE corpus encoding (round 4, functions/tokenizer.py:bpe_encode
    E77): apply the merge table learned by `corpus_bpe_merges` to the
    FULL corpus — the step that turns a trained tokenizer into token
    sequences a training run consumes.  The merge table is
    vocabulary-bounded and ordered, so it collects once and the whole
    encode is ONE codegen'd projection per document (the learned
    merges folded into a chain of literal replaces on the
    sentinel-wrapped form — no shuffle, no Python: encoding 100 TB
    costs one pass).  Per doc: exact BPE token count (the number
    sequence-packing and budget math consume) and an md5 digest of the
    full token sequence, so the oracle certifies every token of every
    document, not just counts."""
    from web_graph_spark.functions.tokenizer import (bpe_encode,
                                                     bpe_merges,
                                                     word_counts)

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    sample = docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
        < "c000")
    merges = bpe_merges(word_counts(sample), rounds=6)
    enc = bpe_encode(docs, merges)
    return enc.select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.md5(F.array_join("bpe_tokens", " ")).alias("tok_digest"))


def q_corpus_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language (E168) — the multilingual
    budget signal: pieces-per-word and chars-per-piece of the REAL
    learned BPE (the E66/E77 trainer+encoder, same sample coin as
    `corpus_bpe_encode`) aggregated per language slice.  A language
    the tokenizer fragments (high fertility) eats disproportionate
    context budget per word — the number behind per-language token
    budgets and vocab-size decisions.  Exact integers: fertility_ppm
    = 10^6·pieces div words, cpp_x100 = 100·chars div pieces, over
    the encoder's own word set (empty/sentinel words excluded).  One
    corpus encode pass (codegen'd replaces) + one lang-keyed agg."""
    from web_graph_spark.functions.tokenizer import (bpe_encode,
                                                     bpe_merges,
                                                     word_counts)

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    sample = docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
        < "c000")
    merges = bpe_merges(word_counts(sample), rounds=6)
    enc = bpe_encode(docs, merges)
    kept = F.filter(F.split(F.col("text"), " "),
                    lambda w: (w != "") & ~w.contains("|"))
    per_doc = enc.select(
        "lang",
        F.size("bpe_tokens").cast("long").alias("pieces"),
        F.size(kept).cast("long").alias("words"),
        F.length(F.array_join(kept, "")).cast("long").alias("chars"))
    return (per_doc.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("pieces").cast("long").alias("pieces"),
                 F.sum("words").cast("long").alias("words"),
                 F.sum("chars").cast("long").alias("chars"))
            .select("lang", "n_docs", "pieces", "words", "chars",
                    F.expr("1000000 * pieces div words").cast("long")
                    .alias("fertility_ppm"),
                    F.expr("100 * chars div pieces").cast("long")
                    .alias("cpp_x100")))


def q_corpus_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sample (functions/text.py:pps_sample E169):
    100 grid points over the cumulative token line in doc_id order —
    deterministic, Σmultiplicity = 100 exactly, long docs selected
    proportionally to length (multiplicity > 1 when a doc outweighs
    W/100).  Oracle replays the exclusive prefix sum as one window
    and the grid-point floor algebra."""
    from web_graph_spark.functions.text import pps_sample, token_count

    d = _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).cast("long")
        .alias("weight"))
    return pps_sample(d, k=100)


def q_corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding (round 4, functions/
    text.py:shuffle_shards E70): the write plan for training output —
    shard = hex16 coin mod 16, within-shard order = the md5 coin — as
    one hash agg whose order_digest pins the exact permutation per
    shard.  No global sort at any scale; uniform hash keys, no skew
    by construction."""
    from web_graph_spark.functions.text import shuffle_shards

    return shuffle_shards(_docs(spark, sf_dir).select("doc_id", "text"),
                          n_shards=16)


def q_crawl_budget_allocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global fetch-budget apportionment (round 4, operators/
    politeness.py:allocate_budget E72): a 1000-fetch budget split
    across hosts by largest-remainder (Hamilton) over each host's
    distinct admissible-target inventory — exact integer quotas that
    sum to the budget EXACTLY, remainder top-R via the sort-free
    take_global.  The planning dim schedule_wave(budgets=) consumes."""
    from web_graph_spark.operators.politeness import allocate_budget

    inv = (_links_canon(spark, sf_dir)
           .filter(F.col("admissible"))
           .select("host", "path").distinct()
           .groupBy("host").agg(F.count("*").alias("weight")))
    return allocate_budget(inv, budget=1000)


def _decontam_corpus(spark: SparkSession, sf_dir: str):
    """(corpus, benchmark) for the decontamination query: benchmark =
    every 97th doc; corpus = documents + an injected verbatim-overlap
    copy of each benchmark doc (id+500000, fresh preamble) so the
    green row is non-trivial by construction."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    injected = bench.select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.lit("totally novel preamble tokens then "),
                 F.col("text")).alias("text"))
    return d.unionByName(injected), bench


def q_corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (round 4, functions/dedup.py
    contaminated_docs): flag corpus docs sharing any word 5-gram with
    the benchmark set — benchmark shingles broadcast, corpus pays one
    map-side explode + broadcast join, only hits shuffle.  Benchmark
    docs themselves are excluded from the scan (they'd trivially
    self-hit)."""
    from web_graph_spark.functions.dedup import contaminated_docs

    corpus, bench = _decontam_corpus(spark, sf_dir)
    scan = corpus.filter(~((F.col("doc_id") % 97 == 0)
                           & (F.col("doc_id") < 500000)))
    return contaminated_docs(scan, bench, n=5)


def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedupe (hash groupBy on normal-form md5)."""
    from web_graph_spark.functions.dedup import exact_dup_groups

    return exact_dup_groups(_docs_with_dups(spark, sf_dir))


def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup savings audit (functions/dedup.py:dedup_savings_audit
    E156): the price-the-rewrite-first measurement for exact dedup —
    per cluster size, exact clusters/docs/characters reclaimed by
    the min-id keep rule, over the standard dup-injected corpus
    (upper-cased exact copies differ in LENGTH from their originals,
    so waste is priced by what is actually deleted).  Oracle replays
    the fingerprint agg with a keeper join."""
    from web_graph_spark.functions.dedup import dedup_savings_audit

    return dedup_savings_audit(_docs_with_dups(spark, sf_dir))


def _jaccard_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + constructed exact (upper-cased) and near (suffixed)
    copies — the corpus the trigram-Jaccard queries run over (the dup
    copies make the green rows non-trivial)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    exact = (d.filter(F.col("doc_id") % 10 == 0)
             .select((F.col("doc_id") + 100000).alias("doc_id"),
                     F.upper(F.col("text")).alias("text")))
    near = (d.filter(F.col("doc_id") % 10 == 1)
            .select((F.col("doc_id") + 200000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" zz qq ww")).alias("text")))
    return d.unionByName(exact).unionByName(near)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-TRIGRAM Jaccard pairs (n=3, sim ≥ 0.5) over the FULL
    corpus plus constructed exact/near copies.  n=3 keeps the
    explode-join key selective (word unigrams make stopwords quadratic
    hot keys — the n=1 call survives only as the capped correctness
    baseline inside tests)."""
    from web_graph_spark.functions.dedup import jaccard_pairs

    return jaccard_pairs(_jaccard_corpus(spark, sf_dir),
                         threshold=0.5, n=3)


def q_corpus_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth (functions/text.py:vocab_growth
    E199): the corpus cut into 10 accession-order bins, each with
    token volume, first-occurrence NEW vocabulary, and running
    type/token ratio — the "is this source mined out" curve at
    corpus grain (E173 scores documents).  Oracle replays bins,
    min-bin type credit, and the cumulative windows."""
    from web_graph_spark.functions.text import vocab_growth

    return vocab_growth(_docs(spark, sf_dir),
                        n_docs=webgen._n_docs(spark, sf_dir))


def q_corpus_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram novelty (functions/dedup.py:ngram_novelty
    E173) over the dup-injected corpus: share of each doc's distinct
    word trigrams never seen in any earlier (smaller-id) document —
    the diminishing-returns curve of corpus growth; the injected
    exact copies score 0 by construction.  One explode scan + two
    hash aggs (novel credit goes to a gram's min-id doc, so the gram
    dim is never joined back); the oracle replays with a window-free
    min-per-gram formulation."""
    from web_graph_spark.functions.dedup import ngram_novelty

    return ngram_novelty(_jaccard_corpus(spark, sf_dir), n=3)


def q_dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-Jaccard pairs by PREFIX FILTERING
    (functions/dedup.py:prefix_filter_pairs E133 — AllPairs/PPJoin,
    Bayardo WWW'07): the same answer as dedup_ngram_jaccard from a
    fraction of the candidates — records index by their RAREST
    shingles only (first |x|−⌈t·|x|⌉+1 in global df order), a size
    filter prunes the survivors, and the exact intersection is
    computed JVM-side only for candidates.  Losslessness is the
    pigeonhole lemma, pinned in tests by bit-equality with the plain
    tier plus the measured candidate reduction; the oracle is the
    same brute-force SQL — one truth, two physical strategies."""
    from web_graph_spark.functions.dedup import prefix_filter_pairs

    return prefix_filter_pairs(_jaccard_corpus(spark, sf_dir),
                               threshold=0.5, n=3)


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional n-gram containment (functions/dedup.py:
    containment_pairs, Broder 1997) — quote/excerpt detection the
    symmetric Jaccard tier structurally misses: docs with
    doc_id % 7 == 0 get an EXCERPT copy (their first third, ≥ 5 raw
    tokens, id + 300000) whose trigram set is a subset of the parent's
    — containment 10000 bp, while Jaccard ≈ 3300 bp sits below the
    dedup threshold.  Emits (contained id_a, container id_b) pairs at
    ≥ 8000 bp, integer math end-to-end."""
    from web_graph_spark.functions.dedup import containment_pairs

    d = _docs(spark, sf_dir).select("doc_id", "text")
    excerpt = (d.filter(F.col("doc_id") % 7 == 0)
               .select((F.col("doc_id") + 300000).alias("doc_id"),
                       F.expr(
                           "concat_ws(' ', slice(split(text, ' '), 1, "
                           "greatest(size(split(text, ' ')) div 3, 5)))"
                       ).alias("text")))
    return containment_pairs(d.unionByName(excerpt),
                             threshold=0.8, n=3)


def q_dedup_url_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood URL near-dup pairs (functions/dedup.py:
    sorted_neighborhood_pairs, Hernández-Stolfo SIGMOD'95): per host,
    paths sort once and each compares to its 3 successors only,
    keeping Levenshtein ≤ 2 — the session-id / pagination variant
    tier that exact dedup misses and MinHash overpays for.  Candidate
    count is |rows|·window, the neighbor pairing is a pure equi-join
    on (host, row_number), and both engines run the same textbook
    Levenshtein so every pair matches exactly."""
    from web_graph_spark.functions.dedup import sorted_neighborhood_pairs

    p = webgen.pages_df(spark, sf_dir).select("doc_id", "host", "path")
    return sorted_neighborhood_pairs(p, "host", "path", "doc_id",
                                     window=3, max_dist=2)


def q_dedup_url_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tracking-parameter URL aliasing (round 4, canon.py:
    strip_tracking_params E109): the frontier-side alias collapse —
    utm_*/click-id query params create N store-and-crawl copies of
    one page; stripping them (and re-sorting survivors, dropping the
    fragment) groups the aliases.  Variants derived per page: the
    plain URL; a utm_source/utm_medium pair (collapses to plain); a
    ?ref=home referral (collapses to plain); a gclid+page=2 and a
    page=2+fbclid variant (both collapse to ?page=2 — a SEPARATE
    group from plain, pinning that content params survive).  Emits
    only colliding groups with a digest over the sorted member list
    so the oracle must agree on every member."""
    from web_graph_spark.canon import strip_tracking_params

    p = webgen.pages_df(spark, sf_dir).select("doc_id", "url")

    def var(flt, suffix):
        return (p.filter(flt)
                .select(F.concat("url", F.lit(suffix))
                        .alias("variant_url")))

    v = (p.select(F.col("url").alias("variant_url"))
         .unionByName(var(F.col("doc_id") % 3 == 0,
                          "?utm_source=news&utm_medium=email"))
         .unionByName(var(F.col("doc_id") % 5 == 0, "?ref=home"))
         .unionByName(var(F.col("doc_id") % 4 == 0,
                          "?gclid=g123&page=2"))
         .unionByName(var(F.col("doc_id") % 4 == 0,
                          "?page=2&fbclid=xyz#frag")))
    return (v.select("variant_url",
                     strip_tracking_params("variant_url")
                     .alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(F.count(F.lit(1)).cast("long").alias("n_variants"),
                 F.md5(F.array_join(F.array_sort(
                     F.collect_list("variant_url")), "|"))
                 .alias("variants_digest"))
            .filter(F.col("n_variants") > 1))


def q_dedup_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-host detection (round 4, functions/dedup.py E76): host
    pairs serving largely identical content, from (host, digest) rows
    alone — the crawl planner collapses a detected mirror to ONE crawl
    target, saving whole hosts of fetches.  One digest-key self-join
    with a ubiquity cap (digests on > 8 hosts drop before the join, so
    a shared error template can never go quadratic) and a pair-key
    agg; overlap reported in integer bp of the smaller host's
    inventory with both threshold sides visible (is_mirror flag).
    The derived input injects a full mirror of h05 (10000 bp, flagged)
    and a ~third-overlap re-host of h06 (below 5000 bp, visible but
    unflagged); base texts are unique, so the injections are the
    complete expected answer."""
    from web_graph_spark.functions.dedup import mirror_hosts

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    p = webgen.pages_df(spark, sf_dir).select("doc_id", "host")
    base = (p.join(docs, "doc_id")
            .select("doc_id", "host", F.md5("text").alias("digest")))
    m1 = (base.filter(F.col("host") == "h05.example.test")
          .select(F.lit("m05-mirror.example.test").alias("host"),
                  "digest"))
    m2 = (base.filter(F.col("host") == "h06.example.test")
          .select(F.lit("m06-partial.example.test").alias("host"),
                  F.when(F.col("doc_id") % 3 == 0, F.col("digest"))
                  .otherwise(F.md5(F.concat(F.col("digest"),
                                            F.lit("m2-salt"))))
                  .alias("digest")))
    allrows = base.select("host", "digest").unionByName(m1) \
                  .unionByName(m2)
    return mirror_hosts(allrows, host_col="host", digest_col="digest")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING — the keep-list step an actual dedup
    pipeline ends with: the exact trigram-Jaccard pair graph (same
    corpus + threshold as dedup_ngram_jaccard) is clustered with
    connected components (large-star/small-star, graph_algos.py) and
    each cluster elects its min-doc_id canonical.  One row per doc in
    a multi-doc cluster: (doc_id, canonical_id, cluster_size) —
    production dedupe keeps exactly the rows where doc_id ==
    canonical_id.  Oracle: the same pair graph + a recursive-CTE
    min-label closure in DuckDB."""
    from web_graph_spark.functions.dedup import jaccard_pairs
    from web_graph_spark.operators.graph_algos import connected_components

    corpus = _jaccard_corpus(spark, sf_dir)
    pairs = jaccard_pairs(corpus, threshold=0.5, n=3)
    comp = connected_components(corpus.select("doc_id"), pairs,
                                id_col="doc_id", src="id_a", dst="id_b")
    sizes = (comp.groupBy("component")
             .agg(F.count("*").alias("cluster_size")))
    return (comp.join(sizes, "component")
            .filter(F.col("cluster_size") > 1)
            .select("doc_id", F.col("component").alias("canonical_id"),
                    "cluster_size"))


def q_dedup_lsh_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH parameter S-curve (functions/dedup.py:lsh_s_curve E201):
    collision probability 1−(1−s^r)^b per (bands, rows) config × 9
    similarity points, in exact per-step-floored ppm — the analytic
    table that justifies E3's 16×4 production config (and shows what
    8×8 / 32×2 would trade).  Pure literal arithmetic; oracle
    replays the identical fold with `//`."""
    from web_graph_spark.functions.dedup import lsh_s_curve

    return lsh_s_curve(spark)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dups (xxhash64 signatures — no SQL oracle;
    validated against brute-force Jaccard in tests/test_functions.py)."""
    from web_graph_spark.functions.dedup import minhash_near_dups

    return minhash_near_dups(_docs_with_dups(spark, sf_dir), threshold=0.5)


def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E47 incremental MinHash index — the cross-dump dedup step of a
    training pipeline (dedupe each new crawl dump against ALL prior
    dumps at O(dump), not O(corpus)): the dup-seeded corpus splits
    into two "dumps" (even/odd doc_id); dump 1's signatures + LSH band
    buckets are persisted once (sigs/bands parquet under a per-sf tmp
    dir), dump 2 is then deduped against the index AND itself without
    recomputing a single dump-1 signature.  Seeded hash constants make
    the split bit-exact vs a full recompute — pinned by
    tests/test_functions.py::test_minhash_incremental_equals_full;
    the golden oracle certifies this split's output here.  scope =
    'index' (cross-dump pair) or 'batch' (both in dump 2)."""
    import hashlib
    import tempfile

    from web_graph_spark.functions.dedup import (minhash_dedup_incremental,
                                                 minhash_index_add)

    docs = _docs_with_dups(spark, sf_dir)
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    idx = os.path.join(tempfile.gettempdir(), f"wgs_mh_idx_{tag}")
    if not os.path.isdir(os.path.join(idx, "bands")):  # bands written last
        minhash_index_add(b1, idx)
    return minhash_dedup_incremental(b2, idx, threshold=0.5)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups (pandas-UDF fingerprints; rows-only check)."""
    from web_graph_spark.functions.dedup import simhash_pairs

    return simhash_pairs(_docs_with_dups(spark, sf_dir), max_dist=6)


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for queries vec_id<5; rank by the
    µ-rounded similarity so Spark and DuckDB order identically."""
    from web_graph_spark.functions.similarity import cosine

    emb = _emb(spark, sf_dir)
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    j = (emb.crossJoin(F.broadcast(q))
         .filter(F.col("vec_id") != F.col("q_id"))
         .withColumn("sim_ppm",
                     F.floor(cosine(F.col("embedding"), F.col("q_vec"))
                             * 1000000).cast("long")))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim_ppm"), F.col("vec_id"))
    return (j.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("q_id", "rank", "vec_id", "sim_ppm"))


def _sign_bucket(vec_col, n_bits: int = 4):
    """Hyperoctant coarse quantizer: bucket = sign bits of the first
    n_bits dims — a fixed-centroid IVF cell id, identical in DuckDB."""
    b = F.lit(0)
    for i in range(n_bits):
        b = b + F.when(F.element_at(vec_col, i + 1) > 0,
                       F.lit(1 << i)).otherwise(F.lit(0))
    return b


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path, oracle-checkable: IVF with a deterministic
    hyperoctant quantizer (sign of dims 1..4 → 16 cells).  Probe only
    the query's own cell, exact cosine re-rank, top-5 — the O(Q·N/16)
    replacement for the brute-force scan; at 100 TB cells become the
    partition key so each probe prunes to one partition."""
    from web_graph_spark.functions.similarity import cosine

    emb = _emb(spark, sf_dir).withColumn(
        "bucket", _sign_bucket(F.col("embedding")))
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec"), "bucket"))
    j = (emb.join(F.broadcast(q), "bucket")
         .filter(F.col("vec_id") != F.col("q_id"))
         .withColumn("sim_ppm",
                     F.floor(cosine(F.col("embedding"), F.col("q_vec"))
                             * 1000000).cast("long")))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim_ppm"), F.col("vec_id"))
    return (j.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("q_id", "rank", "vec_id", "sim_ppm"))


def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN with radius-1 multiprobe (E224): top-5 within a
    metadata predicate (same label as the query — the "search my
    class" case every vector store now serves).  A selective filter
    empties single IVF cells, so the probe set widens
    DETERMINISTICALLY to the query's hyperoctant cell plus every
    Hamming-≤2 neighbor (11 of 16 cells here; at production bit
    widths radius-2 of 2^16 cells is still a ~0.2% probe) — the
    multiprobe answer to filter selectivity, not a data-dependent
    accumulation loop.  Probes expand to an equi-join dim (55 rows:
    5 queries × 11 cells) — broadcast hash join, no BNLJ; exact
    cosine re-rank."""
    from web_graph_spark.functions.similarity import cosine

    emb = _emb(spark, sf_dir).withColumn(
        "bucket", _sign_bucket(F.col("embedding")))
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec"),
                 F.col("label").alias("q_label"), "bucket"))
    qb = F.col("bucket")
    masks = [0, 1, 2, 4, 8, 3, 5, 9, 6, 10, 12]  # popcount <= 2
    probes = q.select(
        "q_id", "q_vec", "q_label",
        F.explode(F.array(*[qb.bitwiseXOR(F.lit(m))
                            for m in masks])).alias("bucket"))
    j = (emb.join(F.broadcast(probes),
                  (emb["bucket"] == probes["bucket"])
                  & (emb["label"] == probes["q_label"]))
         .filter(F.col("vec_id") != F.col("q_id"))
         .withColumn("sim_ppm",
                     F.floor(cosine(F.col("embedding"),
                                    F.col("q_vec"))
                             * 1000000).cast("long")))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim_ppm"),
                                           F.col("vec_id"))
    return (j.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("q_id", "rank", "vec_id", "sim_ppm"))


def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine ANN evaluation (E195): recall@k of the E7 IVF tier
    against the E6 exact baseline, per query and k ∈ {1, 3, 5} — the
    acceptance row an ANN deployment publishes (the pytest recall
    floors certify the code once; this query recomputes the evidence
    ON the corpus being served, where drift actually happens).  Both
    rankings share one µ-rounded cosine; hits = vectors in both
    top-k sets; recall_ppm = hits·10⁶ div k.  Oracle replays both
    chains + the count algebra."""
    from web_graph_spark.functions.similarity import cosine

    emb = _emb(spark, sf_dir).withColumn(
        "bucket", _sign_bucket(F.col("embedding")))
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec"), "bucket"))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim_ppm"),
                                           F.col("vec_id"))

    def ranked(j):
        return (j.filter(F.col("vec_id") != F.col("q_id"))
                .withColumn("sim_ppm",
                            F.floor(cosine(F.col("embedding"),
                                           F.col("q_vec"))
                                    * 1000000).cast("long"))
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= 5)
                .select("q_id", "vec_id", "rank"))

    brute = ranked(emb.crossJoin(
        F.broadcast(q.drop("bucket"))))
    ivf = ranked(emb.join(F.broadcast(q), "bucket"))
    ks = spark.createDataFrame([(1,), (3,), (5,)], "k int")
    hits = (ivf.withColumnRenamed("rank", "rank_i")
            .join(brute.withColumnRenamed("rank", "rank_t"),
                  ["q_id", "vec_id"])
            .crossJoin(F.broadcast(ks))
            .filter((F.col("rank_i") <= F.col("k"))
                    & (F.col("rank_t") <= F.col("k")))
            .groupBy("q_id", "k")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))
    base = q.select("q_id").crossJoin(F.broadcast(ks))
    return (base.join(hits, ["q_id", "k"], "left")
            .select("q_id", "k",
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"))
            .withColumn("recall_ppm",
                        F.expr("n_hits * 1000000 div k").cast("long")))


def q_embed_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 retrieval-impact audit (E227): does int8 quantization
    change WHO you retrieve, not just how much error it adds?  The
    E177 audit prices per-dimension reconstruction error; this one
    prices the consequence — recall@5 of the cosine ranking over
    RECONSTRUCTED vectors (max-abs scale, round-half-up code,
    x̂ = code·scale/127 — the E177 semantics verbatim) against the
    fp ranking, per query.  The SQ8 go/no-go a vector deployment
    actually reads.  Both rankings share the µ-floored cosine +
    vec_id tie; oracle replays codes, reconstruction, and both
    rankings."""
    from web_graph_spark.functions.similarity import cosine

    emb = _emb(spark, sf_dir)
    pairs = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")) \
        .select("vec_id", "dim", F.col("x").cast("double").alias("x"))
    scales = pairs.groupBy("dim").agg(
        F.max(F.abs(F.col("x"))).alias("scale"))
    recon = (pairs.join(F.broadcast(scales), "dim")
             .select("vec_id", "dim",
                     F.when(F.col("scale") > 0,
                            F.floor(F.col("x") * 127 / F.col("scale")
                                    + 0.5) * F.col("scale") / 127)
                     .otherwise(F.lit(0.0)).alias("xh"))
             .groupBy("vec_id")
             .agg(F.array_sort(F.collect_list(F.struct("dim", "xh")))
                  .alias("dx"))
             .select("vec_id", F.col("dx.xh").alias("rv"))
             .localCheckpoint())
    w = Window.partitionBy("q_id").orderBy(F.desc("sim_ppm"),
                                           F.col("vec_id"))

    def top5(items, vcol, q, qcol):
        j = (items.crossJoin(F.broadcast(q))
             .filter(F.col("vec_id") != F.col("q_id"))
             .withColumn("sim_ppm",
                         F.floor(cosine(F.col(vcol), F.col(qcol))
                                 * 1000000).cast("long")))
        return (j.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= 5)
                .select("q_id", "vec_id"))
    qf = (emb.filter(F.col("vec_id") < 5)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec")))
    qq = (recon.filter(F.col("vec_id") < 5)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("rv").alias("q_rv")))
    tf = top5(emb.select("vec_id", "embedding"), "embedding",
              qf, "q_vec")
    tq = top5(recon, "rv", qq, "q_rv")
    hits = (tf.join(tq, ["q_id", "vec_id"])
            .groupBy("q_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))
    return (qf.select("q_id").join(hits, "q_id", "left")
            .select("q_id",
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"))
            .withColumn("recall_ppm",
                        F.expr("n_hits * 1000000 div 5")
                        .cast("long")))


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path #2: random-hyperplane LSH (6 tables × 6 bits,
    Arrow-batched signature UDF), exact re-rank within collisions.
    Seeded-numpy hyperplanes aren't SQL-expressible → rows-only check;
    recall vs brute force pinned in tests/test_functions.py."""
    from web_graph_spark.functions.similarity import lsh_ann_topk

    emb = _emb(spark, sf_dir)
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    return lsh_ann_topk(emb, q, dim=64, k=5, n_bits=6, n_tables=6)


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path #3: product quantization (similarity.pq_ann_topk)
    — 16 codebooks × 32 centroids trained on a hash-selected sample,
    vectors scanned as 16-code rows with per-query ADC lookup tables,
    k·refine candidates exact-re-ranked.  Deterministic end to end
    (seeded k-means, hash sampling, fixed-order float math) → golden
    parquet oracle; recall ≥0.9 vs brute force pinned in
    tests/test_functions.py."""
    from web_graph_spark.functions.similarity import pq_ann_topk

    emb = _emb(spark, sf_dir)
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    return pq_ann_topk(emb, q, dim=64, k=5, m=16, ksub=32, refine=8)


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path #4 — the composed FAISS shape
    (similarity.ivf_pq_ann_topk): seeded-k-means IVF cells prune the
    scan to n_probe/n_cells of the corpus BEFORE any code is read (at
    100 TB the cell is the partition key), ADC over the PQ codes of
    the probed cells only, exact cosine re-rank of k·refine
    candidates.  Deterministic end to end (seeded k-means, hash
    sampling, fixed-order float math) → golden parquet oracle; recall
    + determinism pinned in tests/test_functions.py."""
    from web_graph_spark.functions.similarity import ivf_pq_ann_topk

    emb = _emb(spark, sf_dir)
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    return ivf_pq_ann_topk(emb, q, dim=64, k=5, m=16, ksub=32, refine=8,
                           n_cells=16, n_probe=4)


def q_ann_ivfpq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path #5 (round 4, E19) — the PERSISTED IVF×PQ index:
    codes are written parquet-partitioned BY COARSE CELL
    (similarity.ivf_pq_write_index) and the probe's cell set becomes a
    scan PartitionFilter (similarity.ivf_pq_probe_index), so non-probed
    cell DIRECTORIES are pruned at file-listing time — the physical
    version of q_ann_ivfpq_topk's logical cell join (plan-pinned in
    tests/test_plans.py::test_ivf_pq_index_partition_pruning).  Same
    seeds/params as the inline pipeline → bit-identical output → the
    same golden oracle.  The index is built once per sf_dir under the
    system tmp dir and reused across calls (rebuild = delete the dir).
    """
    import hashlib
    import tempfile

    from web_graph_spark.functions.similarity import (ivf_pq_probe_index,
                                                      ivf_pq_write_index)

    emb = _emb(spark, sf_dir)
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    idx = os.path.join(tempfile.gettempdir(), f"wgs_ivfpq_idx_{tag}")
    if not os.path.isdir(os.path.join(idx, "meta")):
        ivf_pq_write_index(emb, dim=64, path=idx, m=16, ksub=32,
                           n_cells=16)
    return ivf_pq_probe_index(spark, idx, emb, q, k=5, refine=8,
                              n_probe=4)


def _emb_with_dups(spark, sf_dir):
    """embeddings ∪ deterministic near-copies (every 50th vector
    shifted by +0.05 per dim → cosine ≈ 0.99+) — the near-dup test
    corpus; all vectors cast to double so Spark and DuckDB do float
    math on identical inputs."""
    e = (_emb(spark, sf_dir)
         .select("vec_id", F.transform("embedding",
                                       lambda x: x.cast("double"))
                 .alias("embedding")))
    pert = (e.filter(F.col("vec_id") % 50 == 0)
            .select((F.col("vec_id") + 1000000).alias("vec_id"),
                    F.transform("embedding", lambda x: x + F.lit(0.05))
                    .alias("embedding")))
    return e.unionByName(pert)


def q_embed_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (≥ 0.80) via the LSH scale path
    (functions/similarity.py: hyperplane buckets + exact verify) — the
    oracle is the exact O(N²) pairwise SQL, so the green row certifies
    the bucketed path finds EVERY qualifying pair on this corpus (the
    all-pairs expression lives only in the DuckDB oracle and the recall
    test, never in the Spark plan — pinned BNL/Cartesian-free in
    tests/test_plans.py)."""
    from web_graph_spark.functions.similarity import embedding_near_dup_pairs

    # n_bits sizes buckets to the corpus (~2^6 buckets for ~500
    # vectors keeps verify volume tiny; at 10^9 vectors raise bits so
    # buckets stay bounded); n_tables=12 drives the per-pair miss
    # probability below 10^-3 at cosine 0.92.
    return embedding_near_dup_pairs(_emb_with_dups(spark, sf_dir),
                                    tau=0.8, dim=64, n_bits=6,
                                    n_tables=12, seed=7)


def _kmeans_cte(k: int = 8, rounds: int = 3,
                dim: int = 64) -> str:
    """Shared unrolled-SQL Lloyd chain (``embed_kmeans`` /
    ``ann_ivf_trained_topk`` oracles): the same quantized rounds —
    assignment by exact integer squared distance with (d2, cid)
    tie-break, update by per-dim integer mean, empty clusters keeping
    their previous centroid — sound to unroll because the round count
    is a fixed parameter.  Ends with ``af`` = the final assignment
    carrying each vector's quantized array."""
    sql = f"""WITH q AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(floor((CAST(x AS DOUBLE)
             + 1.0) * 1000000) AS BIGINT)) AS qv
  FROM embeddings
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS cid,
         qv
  FROM (SELECT id, qv FROM q ORDER BY id LIMIT {k})
)"""
    for r in range(1, rounds + 1):
        sql += f""",
a{r} AS (
  SELECT id, qv, cid, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY id
                                 ORDER BY d2, cid) AS rn
    FROM (SELECT q.id, q.qv, c.cid,
                 list_sum(list_transform(generate_series(1, {dim}),
                     i -> (q.qv[i] - c.qv[i]) * (q.qv[i] - c.qv[i])))
                     AS d2
          FROM q, c{r - 1} c))
  WHERE rn = 1
),
u{r} AS (
  SELECT cid, list(m ORDER BY d) AS qv FROM (
    SELECT a.cid, g.d,
           CAST(sum(a.qv[g.d]) // count(*) AS BIGINT) AS m
    FROM a{r} a, generate_series(1, {dim}) AS g(d)
    GROUP BY a.cid, g.d)
  GROUP BY cid
),
c{r} AS (
  SELECT p.cid, coalesce(u.qv, p.qv) AS qv
  FROM c{r - 1} p LEFT JOIN u{r} u USING (cid)
)"""
    sql += f""",
af AS (
  SELECT id, qv, cid, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY id
                                 ORDER BY d2, cid) AS rn
    FROM (SELECT q.id, q.qv, c.cid,
                 list_sum(list_transform(generate_series(1, {dim}),
                     i -> (q.qv[i] - c.qv[i]) * (q.qv[i] - c.qv[i])))
                     AS d2
          FROM q, c{rounds} c))
  WHERE rn = 1
)"""
    return sql


def _kmeans_oracle_sql(k: int = 8, rounds: int = 3,
                       dim: int = 64) -> str:
    """``embed_kmeans`` oracle: the shared Lloyd CTE chain, reported
    as per-cluster size + exact inertia + centroid digest."""
    return _kmeans_cte(k, rounds, dim) + f"""
SELECT c.cid, CAST(n.n AS BIGINT) AS n_members,
       CAST(n.inertia AS BIGINT) AS inertia,
       md5(array_to_string(c.qv, ',')) AS centroid_digest
FROM c{rounds} c
JOIN (SELECT cid, count(*) AS n, sum(d2) AS inertia
      FROM af GROUP BY 1) n USING (cid)"""


def _ivf_trained_oracle_sql(k: int = 8, rounds: int = 2,
                            dim: int = 64) -> str:
    """``ann_ivf_trained_topk`` oracle: the same Lloyd CTE chain, then
    a single-probe IVF search — candidates share the query's trained
    cell, ranked by exact integer squared L2 with (d2, vec_id)
    tie-break."""
    return _kmeans_cte(k, rounds, dim) + f""",
qs AS (SELECT id AS q_id, qv AS qqv, cid FROM af WHERE id < 5),
cand AS (
  SELECT s.q_id, a.id AS vec_id,
         list_sum(list_transform(generate_series(1, {dim}),
             i -> (a.qv[i] - s.qqv[i]) * (a.qv[i] - s.qqv[i]))) AS d2
  FROM af a JOIN qs s USING (cid)
  WHERE a.id <> s.q_id
)
SELECT q_id, CAST(rn AS INTEGER) AS rank, vec_id,
       CAST(d2 AS BIGINT) AS d2
FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY d2, vec_id) AS rn
      FROM cand)
WHERE rn <= 5"""


def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed integer k-means (round 4, functions/similarity.py:
    kmeans_integer E78): Lloyd's over the FULL embedding corpus in
    exact bigint arithmetic — the in-plan IVF-cell training path next
    to the FAISS-standard driver-sample tier.  Per round the corpus is
    scanned once (assignment = one codegen'd projection against the
    k·d centroid literal — no join) and one (cluster, dim)-key agg
    produces the k·d integers that are the ONLY driver traffic.  The
    shift-then-floor quantization keeps coordinates non-negative so
    integer means truncate identically in both engines; ties break to
    the smallest cluster id; empty clusters keep their centroid.
    Output certifies sizes, exact inertia, and every centroid
    coordinate via md5."""
    from web_graph_spark.functions.similarity import kmeans_integer

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a, cents = kmeans_integer(emb, k=8, rounds=3)
    sizes = a.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        F.sum("d2").alias("inertia"))
    cdf = spark.createDataFrame(
        [(cid, ",".join(str(x) for x in cv)) for cid, cv in cents],
        "cid int, cstr string")
    return (sizes.join(F.broadcast(cdf), "cid")
            .select(F.col("cid").cast("int").alias("cid"),
                    F.col("n_members").cast("long").alias("n_members"),
                    F.col("inertia").cast("long").alias("inertia"),
                    F.md5("cstr").alias("centroid_digest")))


def _kcenter_oracle_sql(m: int = 8, dim: int = 64) -> str:
    """``embed_kcenter`` oracle: the greedy farthest-point chain
    unrolled (sound: ``m`` is a fixed parameter) — seed = smallest id,
    each round the argmax of the incremental mind2 state with ties to
    the smallest id, then the final nearest-center assignment."""
    d2 = (lambda a, b:
          f"list_sum(list_transform(generate_series(1, {dim}), "
          f"i -> ({a}.qv[i] - {b}.qv[i]) * ({a}.qv[i] - {b}.qv[i])))")
    sql = f"""WITH q AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(floor((CAST(x AS DOUBLE)
             + 1.0) * 1000000) AS BIGINT)) AS qv
  FROM embeddings
),
sel0 AS (SELECT 0 AS rank, id, CAST(0 AS BIGINT) AS d2, qv
         FROM q ORDER BY id LIMIT 1),
md0 AS MATERIALIZED (SELECT q.id, q.qv,
        CAST({d2('q', 's')} AS BIGINT) AS mind2
        FROM q, sel0 s)"""
    for t in range(1, m):
        sql += f""",
p{t} AS MATERIALIZED (SELECT id, qv, mind2 FROM md{t - 1}
        WHERE id NOT IN (SELECT id FROM sel{t - 1})
        ORDER BY mind2 DESC, id LIMIT 1),
sel{t} AS (SELECT * FROM sel{t - 1} UNION ALL
          SELECT {t} AS rank, id, mind2 AS d2, qv FROM p{t}),
md{t} AS MATERIALIZED (SELECT m.id, m.qv,
         least(m.mind2, CAST({d2('m', 'p')} AS BIGINT)) AS mind2
         FROM md{t - 1} m, p{t} p)"""
    return sql + f""",
alld AS (SELECT q.id, s.rank, CAST({d2('q', 's')} AS BIGINT) AS d2
         FROM q, sel{m - 1} s),
asg AS (SELECT id, rank, d2 FROM (
  SELECT *, row_number() OVER (PARTITION BY id
                               ORDER BY d2, rank) AS rn
  FROM alld) WHERE rn = 1),
per AS (SELECT rank, CAST(count(*) AS BIGINT) AS n_assigned,
               CAST(max(d2) AS BIGINT) AS radius,
               CAST(sum(d2) AS BIGINT) AS sum_d2
        FROM asg GROUP BY 1)
SELECT CAST(s.rank AS INTEGER) AS rank, s.id AS vec_id,
       CAST(s.d2 AS BIGINT) AS d2_sel,
       p.n_assigned, p.radius, p.sum_d2
FROM sel{m - 1} s JOIN per p USING (rank)"""


def q_embed_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center diversity sample (round 4, functions/
    similarity.py:kcenter_sample E106): Gonzalez farthest-point
    selection of 8 representatives over the full embedding corpus in
    exact bigint arithmetic — the coreset/data-pruning selection step
    (keep the SPREAD of the data) dual to semdedup's redundancy
    removal.  Per round one codegen'd projection folds the newest
    center literal into the running mind2 column and a 1-row max-agg
    (map-side partials) picks the farthest vector; driver traffic is
    m rows of 64 ints.  Output certifies both the selection (rank,
    vec_id, distance at selection) and the FULL corpus assignment
    (per-center member count, exact coverage radius, exact sum of
    squared distances), so the oracle re-deriving every greedy step
    must agree on every vector's nearest center."""
    from web_graph_spark.functions.similarity import (kcenter_assign,
                                                      kcenter_sample)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    state, chosen = kcenter_sample(emb, m=8)
    per = (kcenter_assign(state, chosen)
           .groupBy("rank")
           .agg(F.count(F.lit(1)).cast("long").alias("n_assigned"),
                F.max("d2").cast("long").alias("radius"),
                F.sum("d2").cast("long").alias("sum_d2")))
    cdf = spark.createDataFrame(
        [(r, int(i), int(d)) for r, i, d, _ in chosen],
        "rank int, vec_id long, d2_sel long")
    return (per.join(F.broadcast(cdf), "rank")
            .select(F.col("rank").cast("int").alias("rank"), "vec_id",
                    "d2_sel", "n_assigned", "radius", "sum_d2"))


def q_ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-cell IVF ANN (round 4, E78 composed): the IVF family's
    missing tier — cells TRAINED by the distributed integer k-means
    rather than the fixed hyperoctant quantizer, while keeping the
    exact-SQL oracle the golden-pinned float tiers can't have (the
    whole pipeline — training, assignment, probe, re-rank — is integer
    arithmetic).  Single-probe search: candidates share the query's
    cell, ranked by exact bigint squared L2, (d2, id) tie-break,
    top-5.  At scale the trained cell is the partition key (the
    ivf_pq_write_index layout) so a probe prunes to n_probe/k of the
    FILES; the probe join itself broadcasts only the 5-row query
    side."""
    from web_graph_spark.functions.similarity import kmeans_integer

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a, _ = kmeans_integer(emb, k=8, rounds=2)
    a = a.localCheckpoint()
    q = (a.filter(F.col("id") < 5)
         .select(F.col("id").alias("q_id"),
                 F.col("qv").alias("qqv"), "cid"))
    d2p = F.aggregate(
        F.zip_with(F.col("qv"), F.col("qqv"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    cand = (a.join(F.broadcast(q), "cid")
            .filter(F.col("id") != F.col("q_id"))
            .select("q_id", F.col("id").alias("vec_id"),
                    d2p.alias("d2")))
    w = Window.partitionBy("q_id").orderBy("d2", "vec_id")
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("q_id", "rank", "vec_id", "d2"))


def q_embed_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep-list over the dup-injected embedding corpus:
    hyperoctant cells bound the pairwise cosine to within-cluster
    (functions/similarity.py:semdedup), drop-if-smaller-id-neighbour
    ≥ 0.90.  The oracle replays the identical cell + threshold rule in
    SQL, so the green row certifies every drop decision, including the
    documented cluster-boundary misses (a shifted copy whose sign bits
    flipped lands in another cell and is rightly kept)."""
    from web_graph_spark.functions.similarity import semdedup

    return semdedup(_emb_with_dups(spark, sf_dir), tau_ppm=900000,
                    n_bits=4)


def q_corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/CCNet-style duplicated-line removal over the
    dup-injected corpus.  Documents are deterministically re-lined
    (one line per 12 tokens — the synthetic corpus has no newlines;
    the oracle mirrors the same chunking) and every line occurring in
    ≥ 2 distinct documents is dropped corpus-wide, leaving the
    reassembled clean text per doc."""
    from web_graph_spark.functions.text import line_dedup

    lined = _docs_with_dups(spark, sf_dir).select(
        "doc_id",
        F.concat_ws("\n", F.expr(
            "transform(sequence(0, cast(ceil(size(split(text, ' ')) / 12.0)"
            " as int) - 1), "
            "i -> concat_ws(' ', slice(split(text, ' '), i * 12 + 1, 12)))"
        )).alias("text"))
    return line_dedup(lined, min_docs=2)


def q_corpus_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the md5 coin is keyed on the
    SOURCE, not the document, so same-site near-duplicates can never
    straddle train and validation.  Zero-shuffle single scan."""
    from web_graph_spark.functions.text import grouped_split

    return grouped_split(
        _docs(spark, sf_dir).select("doc_id", "source"))


def q_corpus_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring (duplicated-span) dedup at 5-gram granularity —
    Lee et al. 2022 without the suffix array: tokens covered by any
    corpus-duplicated word 5-gram are masked, maximal masked runs
    merge into spans, survivors reassemble in order.  Runs over the
    raw documents table (its built-in shared boilerplate is the
    duplication source)."""
    from web_graph_spark.functions.dedup import span_dedup

    return span_dedup(_docs(spark, sf_dir).select("doc_id", "text"),
                      n=5, min_count=2)


def q_corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: cut the corpus token stream (doc_id
    order) every 512 tokens; per doc → pack id / offset / packs
    spanned.  Deliberately runs the 10^10-safe SCALE path (range
    partition + per-partition token totals + mapInPandas running sum —
    functions/text.py:pack_sequences), so the oracle's exact global
    window certifies the distributed prefix sum itself."""
    from web_graph_spark.functions.text import pack_sequences, token_count

    d = _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens"))
    return pack_sequences(d, budget=512)


def q_corpus_packing_sweep(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Context-length fragmentation sweep (functions/text.py:
    packing_sweep E158): price 512/1024/2048/4096-token packing from
    ONE prefix-sum pass — per candidate length, exact pack counts,
    split-document counts/ppm, and the token mass living in split
    docs.  Runs pack_sequences' 10^10-safe scale path once and
    re-derives every other budget arithmetically.  Oracle replays
    the exact global window + the per-budget span algebra."""
    from web_graph_spark.functions.text import packing_sweep, token_count

    d = _docs(spark, sf_dir).select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"))
    return packing_sweep(d)


def q_corpus_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding context-window chunking (functions/text.py:
    chunk_overlap E101): 64-token windows every 48 tokens per
    document — the retrieval/embedding chunk shape next to
    pack_sequences' cross-document packing.  ⌈max(n−64,0)/48⌉+1
    windows per doc (full coverage, no redundant tail), token normal
    form shared with the dedup tiers, md5 window digests the oracle
    rebuilds chunk-for-chunk."""
    from web_graph_spark.functions.text import chunk_overlap

    return chunk_overlap(_docs(spark, sf_dir), size=64, stride=48)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: derived media table → mapInPandas feature
    extraction (deterministic stub decode; rows-only check)."""
    from web_graph_spark.functions.media import extract_features, make_media_df

    media = make_media_df(spark, _docs(spark, sf_dir))
    return (extract_features(media, mode="fake", feat_dim=8)
            .select("media_id", "kind", "n_bytes", "sha",
                    F.floor(F.element_at("feat", 1) * 1000000).cast("long")
                     .alias("feat0_ppm")))


def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media-asset dedupe (functions/media.py:dedup_media_exact):
    byte-identical blobs collapse to a lexicographic-min canonical
    copy.  Every ninth document's media bytes are re-published under a
    second asset id (doc_id + 400000, same text → same utf-8 blob), so
    real duplicate groups exist; digest = md5 over the binary column,
    which the oracle reproduces as md5 of the text (same bytes)."""
    from web_graph_spark.functions.media import (dedup_media_exact,
                                                 make_media_df)

    d = _docs(spark, sf_dir).select("doc_id", "text")
    repub = (d.filter(F.col("doc_id") % 9 == 0)
             .select((F.col("doc_id") + 400000).alias("doc_id"), "text"))
    media = make_media_df(spark, d.unionByName(repub))
    return dedup_media_exact(media)


def q_media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual media near-dup pairs (functions/media.py:
    phash_pairs) — 64-bit integer average-hashes over the REAL
    deterministic P6 bytes (stdlib parse, never PIL, so the hash is a
    fixed function of the bytes), paired by the same pigeonhole
    chunk-join as the text SimHash tier and verified with JVM
    bit_count(xor).  Catches re-encoded/brightened copies the exact
    digest tier is blind to (pinned in tests); undecodable rows
    (junk + WAV) hash NULL and drop out.  Oracle: golden parquet
    (bit-parse of binary blobs isn't SQL-expressible) with the
    independent semantics pinned in tests/test_functions.py."""
    from web_graph_spark.functions.media import (make_decodable_media_df,
                                                 phash_pairs)

    d = _docs(spark, sf_dir).select("doc_id")
    media = make_decodable_media_df(spark, d)
    return (phash_pairs(media)
            .select("id_a", "id_b",
                    F.col("hamming").cast("long").alias("hamming")))


def q_media_aphash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual AUDIO near-dup pairs (functions/media.py:
    aphash_pairs) — 64-bit energy-envelope hashes over the real WAV
    rows of the derived media table, paired by the same pigeonhole
    chunk-join as the image/text tiers.  Image and junk rows hash
    NULL and drop out.  Oracle: golden parquet (PCM parse isn't
    SQL-expressible); independent pins: a gain-doubled copy has
    different bytes but the identical hash, different envelopes
    differ, short/junk clips hash NULL."""
    from web_graph_spark.functions.media import (aphash_pairs,
                                                 make_decodable_media_df)

    d = _docs(spark, sf_dir).select("doc_id")
    media = make_decodable_media_df(spark, d)
    return (aphash_pairs(media)
            .select("id_a", "id_b",
                    F.col("hamming").cast("long").alias("hamming")))


def q_media_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy VAD segmentation (functions/media.py:vad_segments E179)
    over REAL 16-bit PCM WAV bytes synthesized per document from an
    md5-derived closed-form waveform (gain g = 20 + h%8, n = 700 +
    (h div 8)%500 samples, sample i = (i%50−25)·g voiced with 100-
    sample silence alternation) — which makes this the ONE media
    query with a full exact-SQL oracle: DuckDB replays frame energies
    from the formula, never parsing a byte.  Python only decodes;
    activity flags + run/segment stats are a JVM fold; threshold
    10000·g² separates voiced (≈16680·g²) from silent/mixed frames."""
    import io
    import struct
    import wave as wavmod
    from typing import Iterator

    import pandas as pd

    from web_graph_spark.functions.media import vad_segments
    from web_graph_spark.operators.graph_algos import _hex16

    hx = _hex16(F.concat(F.lit("vad:"), F.col("doc_id").cast("string")))
    par = (_docs(spark, sf_dir)
           .select("doc_id", hx.cast("long").alias("h"))
           .select(F.concat(F.lit("m-"), F.col("doc_id").cast("string"))
                   .alias("media_id"),
                   F.expr("20 + h % 8").cast("long").alias("g"),
                   F.expr("700 + (h div 8) % 500").cast("long")
                   .alias("n")))

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raws = []
            for g, n in zip(pdf["g"], pdf["n"]):
                g, n = int(g), int(n)
                buf = io.BytesIO()
                with wavmod.open(buf, "wb") as wv:
                    wv.setnchannels(1)
                    wv.setsampwidth(2)
                    wv.setframerate(8000)
                    wv.writeframes(b"".join(
                        struct.pack(
                            "<h",
                            0 if (i // 100) % 2 == 1
                            else (i % 50 - 25) * g)
                        for i in range(n)))
                raws.append(buf.getvalue())
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "g": pdf["g"], "media": raws})

    media = par.mapInPandas(
        synth, schema="media_id string, g long, media binary") \
        .withColumn("thr", F.expr("10000 * g * g"))
    return vad_segments(media, thr_col="thr")


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling (functions/media.py:sample_frames): every
    2nd frame of the deterministic VID1 containers re-encoded as a
    canonical P6 row, then average-hashed with the SAME ahash_col the
    perceptual pair tier uses — the keyframe-extraction front of a
    multimodal pipeline (sample → hash → dedup/embed), with
    undecodable containers yielding zero rows.  One mapInPandas scan
    fans containers out to kept frames; everything downstream moves
    (id, frame) rows, never the source blob.  Oracle: golden parquet
    (container parse isn't SQL-expressible); hand-built container +
    junk-row pins in tests/test_functions.py."""
    from web_graph_spark.functions.media import (ahash_col, make_video_df,
                                                 sample_frames)

    d = _docs(spark, sf_dir).select("doc_id")
    frames = sample_frames(make_video_df(spark, d), every_k=2)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("n_frames").cast("long").alias("n_frames"),
        ahash_col()(F.col("frame")).alias("frame_hash"))


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail resize (functions/media.py:resize_media): every
    decodable P6 image nearest-neighbor-resized to 4×4 canonical P6
    (all-integer source indexing — output bytes are a fixed function
    of input bytes), undecodable rows NULL.  The result column
    reports md5 of the resized bytes so the golden pins the exact
    thumbnail bytes, not just shape.  Hand-verified 2×2→4×4 pixel
    mapping and same-size identity pinned in tests."""
    from web_graph_spark.functions.media import (make_decodable_media_df,
                                                 resize_media)

    d = _docs(spark, sf_dir).select("doc_id")
    media = make_decodable_media_df(spark, d)
    resized = resize_media(media, out_w=4, out_h=4)
    return resized.select(
        "media_id",
        F.md5(F.col("media")).alias("resized_md5"),
        F.col("media").isNotNull().alias("decoded"))


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12 real decode: deterministic REAL P6-PPM/WAV bytes (stdlib
    writers seeded from doc_id, every 3rd row undecodable junk) through
    extract_features(mode='auto') — stdlib parsers decode, junk falls
    back to the flagged stub.  Deterministic → golden parquet oracle."""
    from web_graph_spark.functions.media import (extract_features,
                                                 make_decodable_media_df)

    media = make_decodable_media_df(spark, _docs(spark, sf_dir))
    f = extract_features(media, mode="auto", feat_dim=8)
    return f.select(
        "media_id", "kind", "n_bytes", "sha", "decoded",
        F.floor(F.element_at("feat", 1) * 1000000).cast("long")
         .alias("feat0_ppm"),
        F.floor(F.element_at("feat", 2) * 1000000).cast("long")
         .alias("feat1_ppm"))


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (round 4, operators/asof.py E73): every click event
    matched to the same user's latest view at or before it, with the
    exact integer-microsecond gap; clicks with no prior view keep
    NULLs (left-outer).  Spark side is the union-tag + one-window
    mechanism (no join node); the oracle is DuckDB's NATIVE ASOF LEFT
    JOIN — a genuinely independent algorithm for the same relation."""
    from web_graph_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts")
    j = asof_join(clicks, views, by="user_id",
                  right_cols=("event_id", "ts"))
    return j.select(
        "event_id",
        F.col("asof_event_id").alias("view_event_id"),
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.col("asof_ts").cast("timestamp")))
        .cast("long").alias("gap_us"))


def q_events_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type latency quantiles (round 4, functions/stats.py:
    exact_quantiles E74): p50/p95/p99 of the event value in integer
    centi-units, computed from a value-range-bounded histogram — the
    raw rows are scanned once and never sorted, so the exact answer
    (not approx_percentile) survives 10^12 rows.  floor(value*100) is
    IEEE multiply + floor, identical in both engines (never CAST:
    DuckDB's int cast rounds while Spark's truncates)."""
    from web_graph_spark.functions.stats import exact_quantiles

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return exact_quantiles(ev, "event_type",
                           F.floor(F.col("value") * 100))


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user 30-min-gap sessions via lag window."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_timestamp("ts")
           - F.unix_timestamp(F.lag("ts").over(w)))
    marked = ev.withColumn(
        "new_s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    sess = marked.withColumn(
        "session_id", F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (sess.groupBy("user_id")
            .agg(F.max("session_id").cast("long").alias("n_sessions"),
                 F.count("*").alias("n_events")))


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase
    (functions/stats.py:funnel_steps E82): users reaching each stage
    where stage i must occur at-or-after the user's earliest
    qualifying stage i-1, with exact integer-bp conversions.  ONE
    user-key shuffle carries the whole chain (shared-window running
    mins); the oracle is the independent join-chain algorithm.
    Restricted to day 1 with a 4th step (signup) so every stage
    visibly drops off (134 → 56 → 19 → 3 → 1 at sf0.01; the full
    month converts everyone — zero discrimination)."""
    from web_graph_spark.functions.stats import funnel_steps

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .filter(F.col("ts") < F.lit("2024-01-02 00:00:00")
                  .cast("timestamp_ntz")))
    return funnel_steps(ev, steps=("view", "click", "purchase", "signup"))


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution (functions/stats.py:
    attribution_credits E178): each purchase's value in exact cents
    split across the user's view/click touches of the preceding 6 h
    under first/last/linear/U-shaped models at once, remainders
    routed deterministically so every model sums to the conversion
    value; touchless conversions carry full credit in the
    direct-traffic bucket.  One user-key join + one per-journey
    window; the oracle replays the inequality join and the credit
    CASE algebra."""
    from web_graph_spark.functions.stats import attribution_credits

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return attribution_credits(ev, lookback_hours=6)


def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (functions/stats.py:
    transition_matrix E181): exact counts + row-conditional ppm over
    (ts, event_id)-ordered sequences — next-action structure and the
    bot-behavior fingerprint, one sessionize-grade window + one
    bounded agg.  The oracle replays with its own lead window."""
    from web_graph_spark.functions.stats import transition_matrix

    return transition_matrix(
        spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_events_disorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-disorder audit (functions/stats.py:sequence_disorder
    E191): exact per-user Kendall inversions + worst lateness between
    arrival order (event_id) and event time — the numbers that let a
    watermark delay be CHOSEN rather than guessed (E177 prices a
    given delay).  The synthetic stream arrives in event-time order,
    so the query plants deterministic late data: event time shifts
    back (event_id mod 7)·30 s while arrival stays put.  Spark counts
    each bounded user group in O(n log n) via a Fenwick tree inside
    applyInPandas; the oracle pays the quadratic pair join."""
    from web_graph_spark.functions.stats import sequence_disorder

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select("user_id", "event_id",
                  F.expr("timestamp_micros(unix_micros(cast(ts as "
                         "timestamp)) - (event_id % 7) * 30000000)")
                  .alias("ts")))
    return sequence_disorder(ev)


def q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (functions/stats.py:rfm_segments E211):
    recency/frequency/monetary quintile scores from EXACT corpus
    cutoffs (histogram quantiles — never a global ntile sort of the
    user dim) and the standard first-match segment rulebook.  Cents
    floored per EVENT before summing so the money column is
    aggregation-order exact.  Oracle replays metrics, k-th order
    statistic cutoffs, and the scoring."""
    from web_graph_spark.functions.stats import rfm_segments

    return rfm_segments(
        spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_events_outages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outage detection (functions/stats.py:activity_gaps E209):
    zero-event windows at hour grain between active hours — the
    collector-down/crawler-paused readout.  The stream has no
    natural outages, so hours with bucket % 50 ∈ {13, 14, 15} are
    deterministically dropped (3-hour planted outages; the oracle
    drops identically).  Stream collapses to distinct active buckets
    FIRST (uniform agg), gaps are lag deltas over that bounded dim."""
    from web_graph_spark.functions.stats import activity_gaps

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    kept = ev.filter(
        ~F.expr("(unix_micros(cast(ts as timestamp)) div 1000000 "
                "div 3600) % 50").isin(13, 14, 15))
    return activity_gaps(kept, grain_s=3600, min_gap=2)


def q_events_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2×2 chi-square experiment readout (functions/stats.py:
    abtest_chi2 E207): unit = user (deduped), variant = user_id
    parity, outcome = ever purchased; χ² in floored milli via the
    fixed divisor chain, significance the integer compare vs 3841.
    Oracle replays the per-user collapse and the same chain."""
    from web_graph_spark.functions.stats import abtest_chi2

    return abtest_chi2(
        spark.read.parquet(f"{sf_dir}/events.parquet"),
        variant=(F.col("user_id") % 2 == 0),
        outcome=(F.col("event_type") == "purchase"))


def q_events_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP motif counts (functions/stats.py:cep_pattern_match E198,
    MATCH_RECOGNIZE/Flink-CEP batch replay): non-overlapping
    ``vc+p`` (view, clicks, purchase — the engaged-conversion motif)
    occurrences per user over the (ts, event_id)-ordered symbol
    string.  E188 audits single-step legality; this finds the
    multi-step motifs.  Oracle rebuilds the string with ordered
    string_agg and the same regexp."""
    from web_graph_spark.functions.stats import cep_pattern_match

    return cep_pattern_match(
        spark.read.parquet(f"{sf_dir}/events.parquet"), "vc+p")


CONFORMANCE_MODEL = (
    ("START", "signup"), ("START", "view"),
    ("signup", "view"),
    ("view", "view"), ("view", "click"), ("view", "error"),
    ("click", "click"), ("click", "view"), ("click", "purchase"),
    ("click", "error"),
    ("purchase", "view"),
    ("error", "view"))


def q_events_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-model conformance audit (functions/stats.py:
    dfa_conformance E188): replay each user's (ts, event_id)-ordered
    sequence against the declared funnel protocol above (START as the
    virtual source) and report per user the violation count, the
    first offending transition, and the conformant verdict — the
    process-mining/QA complement to E181's learned matrix.  One lag
    window + one broadcast model join; oracle replays both."""
    from web_graph_spark.functions.stats import dfa_conformance

    allowed = spark.createDataFrame(list(CONFORMANCE_MODEL),
                                    "from_state string, to_state string")
    return dfa_conformance(
        spark.read.parquet(f"{sf_dir}/events.parquet"), allowed)


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (functions/stats.py:cohort_retention
    E83): first-active-day cohorts × integer day offsets with exact
    bp retention.  One map-side-combined (user, day) distinct, a
    co-partitioned user agg, count(*) cells (no count-distinct), a
    broadcast cohort-size dim."""
    from web_graph_spark.functions.stats import cohort_retention

    return cohort_retention(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate (batch view of T1 streaming agg)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"),
                       "event_type")
            .agg(F.count("*").alias("n"),
                 F.floor(F.sum("value") * 100).cast("long")
                  .alias("sum_value_c")))


def q_events_seasonal_index(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Hour-of-day seasonality profile (functions/stats.py:
    seasonal_profile E217): per (event_type, hour 0-23) the exact
    count, seasonal index in ppm of uniform (1e6 = flat), the
    type-level Herfindahl hour-concentration, and earliest-tie
    peak/trough flags — the diurnal-cycle audit a crawl scheduler
    reads before placing recrawl waves.  Zero hours are densified
    against the bounded |types|×24 grid; windows partition on
    exactly 24 rows; HHI rides decimal(38,0)."""
    from web_graph_spark.functions.stats import seasonal_profile

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return seasonal_profile(ev)


def q_events_active_users(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Exact DAU/WAU/MAU + stickiness per day (functions/stats.py:
    active_users E231): the activity dashboard computed exactly —
    the truth the sliding-HLL tier is certified against.  No range
    join and no calendar BNLJ: the (user, day) dim explodes into 30
    trailing-window offsets and all three windows fall out of one
    equi-keyed aggregate via conditional distincts; days past the
    observed max clip on a 1-row dim.  Oracle replays the offset
    expansion in SQL."""
    from web_graph_spark.functions.stats import active_users

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return active_users(ev)


def q_events_markov_stationary(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Stationary event mix vs empirical (functions/stats.py:
    markov_stationary E232): iterate the per-user transition chain 4
    rounds from uniform in exact floor-per-edge ppm and diff against
    the empirical shares — where behavior is heading vs where it is.
    One user-key window builds transitions; every round runs on the
    ≤|types|² dim; dangling types self-loop.  Oracle unrolls the
    identical rounds as MATERIALIZED CTEs."""
    from web_graph_spark.functions.stats import markov_stationary

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return markov_stationary(ev, rounds=4)


def _markov_sql(rounds: int = 4) -> str:
    """Oracle for q_events_markov_stationary: the floor-per-edge
    recurrence unrolled."""
    its = []
    for r in range(1, rounds + 1):
        p = f"p{r - 1}"
        its.append(f"""
mov{r} AS MATERIALIZED (
  SELECT tm.b AS t, sum((p.pi * tm.n) // od.na) AS c
  FROM {p} p JOIN od ON od.a = p.t JOIN tm ON tm.a = p.t
  GROUP BY 1),
stay{r} AS MATERIALIZED (
  SELECT p.t, p.pi AS c FROM {p} p
  LEFT JOIN od ON od.a = p.t WHERE od.a IS NULL),
p{r} AS MATERIALIZED (
  SELECT ty.t,
         CAST(coalesce(m.c, 0) + coalesce(s.c, 0) AS BIGINT) AS pi
  FROM ty
  LEFT JOIN mov{r} m ON m.t = ty.t
  LEFT JOIN stay{r} s ON s.t = ty.t)""")
    return f"""
WITH pr AS (
  SELECT event_type AS a,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS b
  FROM events),
tm AS MATERIALIZED (
  SELECT a, b, CAST(count(*) AS BIGINT) AS n
  FROM pr WHERE b IS NOT NULL GROUP BY 1, 2),
od AS MATERIALIZED (SELECT a, sum(n) AS na FROM tm GROUP BY 1),
ty AS MATERIALIZED (SELECT DISTINCT event_type AS t FROM events),
kk AS (SELECT count(*) AS k FROM ty),
p0 AS MATERIALIZED (
  SELECT t, CAST(1000000 // kk.k
       + CASE WHEN row_number() OVER (ORDER BY t) <= 1000000 % kk.k
              THEN 1 ELSE 0 END AS BIGINT) AS pi
  FROM ty CROSS JOIN kk),
{",".join(its)},
emp AS (SELECT event_type AS t, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1),
tot AS (SELECT sum(cnt) AS tot FROM emp)
SELECT e.t AS event_type,
       CAST(e.cnt * 1000000 // tot.tot AS BIGINT) AS empirical_ppm,
       p.pi AS stationary_ppm,
       CAST(p.pi - e.cnt * 1000000 // tot.tot AS BIGINT)
         AS delta_ppm
FROM emp e CROSS JOIN tot
JOIN p{rounds} p ON p.t = e.t"""


def q_events_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion per event type (functions/stats.py:
    dispersion_index E222): variance-to-mean of per-hour counts over
    the shared clock grid in floor ppm — 1e6 = Poisson-compatible,
    above = bursty, below = metronomic; the how-clumpy complement to
    the seasonal profile's where-in-the-day.  Zero buckets enter
    implicitly (only the global hour count is materialized); n·Σx²
    rides decimal(38,0)."""
    from web_graph_spark.functions.stats import dispersion_index

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return dispersion_index(ev)


def q_events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (functions/stats.py:
    countmin_heavy_hitters E88): the fixed-size-state frequency tier
    — a 4×64 integer sketch no matter how many distinct users flow
    past, probed for the top-50 users by exact count so the oracle
    certifies the sketch's one-sided overestimate on exactly the keys
    a monitor would alert on.  Hashing is the shared hex16 md5 recipe
    (row index as salt), so the SQL oracle rebuilds the identical
    sketch cell-for-cell."""
    from web_graph_spark.functions.stats import countmin_heavy_hitters

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return countmin_heavy_hitters(
        ev, F.col("user_id").cast("string"), depth=4, width=64, topk=50)


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (operators/rangejoin.py:range_join E89) —
    point-in-interval matching (the IP-geolocation / SLO-band /
    latency-tier shape) as an equi-join instead of the BNL Spark
    would otherwise plan.  Facts are the event values in integer
    centi-units; the interval dim derives deterministically from
    customer keys (``[37k, 37k + k%211 + 5)`` — irregular widths,
    genuine overlaps, bucket-boundary crossings at B=128).  The
    oracle is DuckDB's NATIVE inequality join (IEJoin) — an
    independent algorithm, not a rebuild of the binning."""
    from web_graph_spark.operators.rangejoin import range_join

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select(F.floor(F.col("value") * 100).cast("long").alias("v")))
    cust = (spark.read.parquet(f"{sf_dir}/customer.parquet")
            .select(F.col("c_custkey").alias("range_id"),
                    (F.col("c_custkey") * 37).cast("long").alias("lo"),
                    (F.col("c_custkey") * 37 + F.col("c_custkey") % 211
                     + 5).cast("long").alias("hi")))
    return (range_join(ev, cust, "v", "lo", "hi", bucket_width=128)
            .groupBy("range_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("v").cast("long").alias("sum_v")))


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup (functions/stats.py:
    hierarchical_rollup E90) — the hypertable continuous-aggregate:
    (day, hour, type) → (day, hour) → (day) → total, the fact stream
    shuffled ONCE at the finest grain and every coarser grain
    re-aggregated from the previous grain's dim-sized rows (no
    rollup() Expand replicating 10^10 facts ×4).  Money is floored to
    integer centi-units per ROW so the re-aggregation is exact and
    the oracle — DuckDB's NATIVE GROUP BY ROLLUP, an independent
    grouping-sets implementation — matches bit-for-bit including the
    GROUPING_ID bitmask."""
    from web_graph_spark.functions.stats import hierarchical_rollup

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select(F.date_trunc("day", "ts").cast("date").alias("day"),
                  F.hour("ts").cast("int").alias("hr"),
                  "event_type",
                  F.floor(F.col("value") * 100).cast("long").alias("v_c")))
    return hierarchical_rollup(ev, ["day", "hr", "event_type"],
                               {"sum_v_c": F.col("v_c")})


def q_events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct users per event type (functions/stats.py:
    hll_distinct E91) in exact integer arithmetic — 64 integer
    registers per group whatever the key cardinality, the
    fixed-state cardinality tier next to the exact count-distinct it
    certifies against.  Register index and rho-word are hex16 chunks
    of one md5, rho is a bin()-bit-length (no float log), the
    harmonic sum is a scaled dyadic integer sum, the estimate one
    integer division — so the SQL oracle rebuilds the sketch
    register-for-register."""
    from web_graph_spark.functions.stats import hll_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    key = F.concat(F.col("user_id").cast("string"), F.lit(":"),
                   F.floor("value").cast("long").cast("string"))
    return hll_distinct(ev, "event_type", key)


def q_events_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct users per event type from MERGED hourly HLL
    sketches (functions/stats.py:hll_distinct_rollup) — the
    pre-aggregated sketch-table pattern: registers build once at the
    (type, day, hour) grain, coarser grains merge by register-wise
    max without re-reading facts.  HLL's max-of-maxes algebra makes
    the merged estimate bit-identical to sketching the day directly,
    which the oracle certifies by rebuilding registers straight from
    the raw rows."""
    from web_graph_spark.functions.stats import hll_distinct_rollup

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("day", F.date_trunc("day", F.col("ts")))
          .withColumn("hr", F.date_trunc("hour", F.col("ts"))))
    key = F.concat(F.col("user_id").cast("string"), F.lit(":"),
                   F.floor("value").cast("long").cast("string"))
    return hll_distinct_rollup(ev, ["event_type", "day"], "hr", key)


def q_events_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h distinct users per hour from merged HLL registers
    (functions/stats.py:hll_sliding_distinct E124): the streaming-
    dashboard sliding count-distinct, answered by a RANGE-frame max
    per register over the hourly register table — never a re-scan of
    the raw keys.  Same exact-integer register recipe as E91, so the
    oracle rebuilds every merged register and estimate bit-for-bit;
    the exact trailing count-distinct rides alongside (the ≤24-fold
    expansion the sketch exists to avoid at scale)."""
    from web_graph_spark.functions.stats import hll_sliding_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    key = F.concat(F.col("user_id").cast("string"), F.lit(":"),
                   F.floor("value").cast("long").cast("string"))
    return hll_sliding_distinct(ev, "event_type", "ts", key, hours=24)


def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 3-hour sliding window evaluated hourly
    (functions/stats.py:trailing_window_agg E92): facts aggregate
    ONCE at the hour grain, the slide is a RANGE-frame window over
    the dim-sized hourly rows — no ×3 fact replication the
    window(slide) operator would do.  Oracle: DuckDB's native
    INTERVAL range frame, an independent windowing implementation."""
    from web_graph_spark.functions.stats import trailing_window_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return trailing_window_agg(
        ev, "event_type", "ts",
        F.floor(F.col("value") * 100).cast("long"), hours=3)


def q_events_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming watermark drop-rule audit (round 4, streaming.py:
    watermark_audit E110): replay Structured Streaming's exact rule —
    global watermark per trigger = max event time of PRIOR triggers
    minus the delay; rows older are dropped — over the bounded events
    log with a deterministic hash-derived ingest skew (0..2 h via the
    shared hex16 recipe), hourly arrival batches, 30-min delay.
    Everything is exact epoch-microsecond integers; the first batch's
    watermark is NULL (cold start).  Per batch the output certifies
    the watermark value, totals, and the exact late SET via a sorted
    event-id digest — the audit a deployment runs before committing
    to a delay."""
    from web_graph_spark.operators.graph_algos import _hex16
    from web_graph_spark.streaming import watermark_audit

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts",
        (F.unix_micros(F.col("ts").cast("timestamp"))
         + (_hex16(F.col("event_id").cast("string")) % 7200)
         * 1_000_000).alias("arrival_us"))
    return (watermark_audit(ev, delay_s=1800)
            .select(F.col("batch_id").cast("long").alias("batch_id"),
                    F.col("wm_us").cast("long").alias("wm_us"),
                    "n_total", "n_late", "late_digest"))


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score rate-anomaly flags per event type
    (functions/stats.py:trailing_anomaly E93) — the alerting pass a
    crawl/ingest monitor runs over its hourly counters (reference
    analog: the queue-length log line, cmd/link-processor/main.go).
    The float test |c−mean| > z·stddev is decided in EXACT integer
    arithmetic ((n·c−s1)² > z²·(n·s2−s1²)) over a trailing RANGE
    frame that EXCLUDES the current hour, so DuckDB re-derives every
    flag bit-identically from its own native interval frame."""
    from web_graph_spark.functions.stats import trailing_anomaly

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = trailing_anomaly(ev, "event_type", "ts", hours=24, z=2,
                           min_prev=6)
    return out.select("event_type", "hr", "n_events", "n_prev",
                      "dev_sq", "thresh_sq",
                      F.col("anomaly").cast("int").alias("anomaly"))


def _stress_oracle_sql(horizon: int = 6) -> str:
    """Unrolled fixed-horizon stress-centrality oracle — forward BFS
    σ levels (NOT EXISTS against all earlier levels), the
    shortest-path DAG, backward path-count levels P deepest-first,
    then Σ σ·P.  All integers; every level CTE MATERIALIZED (the
    k-truss/k-center lesson: DuckDB re-evaluates inlined chains
    exponentially)."""
    parts = ["""
, e AS MATERIALIZED (
  SELECT DISTINCT src_doc_id AS a, tgt_doc_id AS b
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
),
f0 AS MATERIALIZED (
  SELECT DISTINCT doc_id AS s, doc_id AS v, 0 AS d,
         CAST(1 AS BIGINT) AS sig
  FROM web_pages WHERE doc_id % 97 = 0
)"""]
    for lv in range(1, horizon + 1):
        seen = " AND ".join(
            f"NOT EXISTS (SELECT 1 FROM f{j} x "
            f"WHERE x.s = f.s AND x.v = e.b)"
            for j in range(lv))
        parts.append(f"""
, f{lv} AS MATERIALIZED (
  SELECT f.s, e.b AS v, {lv} AS d, CAST(sum(f.sig) AS BIGINT) AS sig
  FROM f{lv - 1} f JOIN e ON e.a = f.v
  WHERE {seen}
  GROUP BY 1, 2
)""")

    union = " UNION ALL ".join(f"SELECT * FROM f{j}"
                               for j in range(horizon + 1))
    parts.append(f"""
, fall AS MATERIALIZED ({union}),
dag AS MATERIALIZED (
  SELECT a1.s, a1.v AS v, a2.v AS w, a1.d
  FROM fall a1 JOIN e ON e.a = a1.v
  JOIN fall a2 ON a2.s = a1.s AND a2.v = e.b AND a2.d = a1.d + 1
)""")
    for lv in range(horizon - 1, -1, -1):
        if lv == horizon - 1:
            parts.append(f"""
, p{lv} AS MATERIALIZED (
  SELECT s, v, CAST(count(*) AS BIGINT) AS p
  FROM dag WHERE d = {lv} GROUP BY 1, 2
)""")
        else:
            parts.append(f"""
, p{lv} AS MATERIALIZED (
  SELECT dag.s, dag.v,
         CAST(sum(1 + coalesce(pp.p, 0)) AS BIGINT) AS p
  FROM dag LEFT JOIN p{lv + 1} pp
    ON pp.s = dag.s AND pp.v = dag.w
  WHERE dag.d = {lv} GROUP BY 1, 2
)""")
    punion = " UNION ALL ".join(f"SELECT * FROM p{j}"
                                for j in range(horizon))
    parts.append(f"""
, pall AS MATERIALIZED ({punion})
SELECT f.v AS doc_id,
       CAST(count(DISTINCT f.s) AS BIGINT) AS n_sources,
       CAST(sum(f.sig * coalesce(p.p, 0)) AS BIGINT) AS stress
FROM fall f LEFT JOIN pall p ON p.s = f.s AND p.v = f.v
WHERE f.v <> f.s
GROUP BY 1""")
    return "".join(parts)


def q_graph_stress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-horizon stress centrality from the BFS seed set
    (operators/graph_algos.py:stress_centrality E122, Shimbel'53 /
    the integer Brandes variant): shortest paths from any seed
    passing through each vertex, truncated at 6 hops — the
    betweenness-family number with NO rational δ accumulation, so
    both engines agree bit-for-bit (σ·P path counting over the BFS
    DAG).  Forward levels reuse the bfs_depths physical shape; the
    backward pass is one uniform-key join per level.  Oracle:
    fully-unrolled MATERIALIZED level CTEs."""
    from web_graph_spark.operators.graph_algos import stress_centrality

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    seeds = (webgen.pages_df(spark, sf_dir)
             .filter(F.col("doc_id") % 97 == 0).select("doc_id"))
    return stress_centrality(e, seeds, horizon=6)


def _widest_oracle_sql(rounds: int = 8) -> str:
    """Unrolled max-min Bellman-Ford oracle for q_graph_widest —
    full relaxation per round (equivalent to the Spark side's
    improved-only frontier at equal round counts), every round
    MATERIALIZED."""
    parts = ["""
, e AS MATERIALIZED (
  SELECT src_doc_id AS a, tgt_doc_id AS b,
         max((k % 9) + 1) AS w
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
  GROUP BY 1, 2
),
c0 AS MATERIALIZED (
  SELECT DISTINCT doc_id AS v,
         CAST(4611686018427387904 AS BIGINT) AS c
  FROM web_pages WHERE doc_id % 97 = 0
)"""]
    for r in range(1, rounds + 1):
        parts.append(f"""
, c{r} AS MATERIALIZED (
  SELECT v, max(c) AS c FROM (
    SELECT v, c FROM c{r - 1}
    UNION ALL
    SELECT e.b AS v, least(p.c, e.w) AS c
    FROM c{r - 1} p JOIN e ON e.a = p.v
  ) GROUP BY 1
)""")
    parts.append(f"""
SELECT v AS doc_id, CAST(c AS BIGINT) AS cap FROM c{rounds}
WHERE v NOT IN (SELECT v FROM c0)""")
    return "".join(parts)


def q_graph_widest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Widest / bottleneck path from the seed set (operators/
    graph_algos.py:widest_paths E123): max over routes of the
    minimum edge capacity (w = k%9+1) — the max-min semiring twin of
    the weighted SSSP (E104), on the same frontier Bellman-Ford
    skeleton and the same 8-round truncation contract, showing the
    skeleton is semiring-generic.  Oracle: unrolled MATERIALIZED
    full-relaxation rounds (equivalent at equal round counts)."""
    from web_graph_spark.operators.graph_algos import widest_paths

    l = webgen.links_full_df(spark, sf_dir).filter(F.col("k") % 4 != 0)
    e = l.select("src_doc_id", "tgt_doc_id",
                 ((F.col("k") % 9) + 1).alias("w"))
    seeds = (webgen.pages_df(spark, sf_dir)
             .filter(F.col("doc_id") % 97 == 0).select("doc_id"))
    return widest_paths(e, seeds, rounds=8)


def q_events_interval_coalesce(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Interval coalescing (functions/stats.py:coalesce_intervals
    E120): per-user activity spans (start = event time, duration =
    floor(value·3600) s) merged into maximal covered islands —
    touching spans merge, strict gaps split, a short span can bridge
    two long ones (coverage semantics, not pairwise overlap).  One
    user-keyed sort carries both windows; the oracle replays the
    running-max rule with its own windows."""
    from web_graph_spark.functions.stats import coalesce_intervals

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (F.unix_micros(F.col("ts").cast("timestamp"))
         + F.floor(F.col("value") * 3600).cast("long") * 1_000_000)
        .alias("e"))
    return coalesce_intervals(ev, "user_id")


def q_events_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of spend across users (functions/stats.py:
    gini_concentration E121) in exact ppm integers — computed over
    the weight-VALUE histogram (equal weights occupy contiguous rank
    blocks), so no global row_number ever touches the key dim.  The
    oracle uses the genuinely different textbook rank formula
    (row_number over keys) — equality proves the tie-block algebra."""
    from web_graph_spark.functions.stats import gini_concentration

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return gini_concentration(
        ev, "user_id", F.floor(F.col("value") * 100).cast("long"))


def q_events_quantiles_unbounded(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """Exact quantiles over an UNBOUNDED value domain (functions/
    stats.py:exact_quantiles_unbounded E119) — distributed
    quickselect by iterative histogram refinement, ≤6 rounds for the
    full 64-bit domain, never a sort.  The value spreads events onto
    a ~2·10^13 domain (floor(value·10^9)·1000 + event_id%1000) where
    the bounded-histogram tier (E74) is structurally impossible.
    Same discrete-lower-quantile definition as E74; the oracle ranks
    with its own window."""
    from web_graph_spark.functions.stats import exact_quantiles_unbounded

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = (F.floor(F.col("value") * 1_000_000_000).cast("long") * 1000
         + F.col("event_id") % 1000)
    return exact_quantiles_unbounded(ev, "event_type", v)


def q_crawl_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log application (operators/merge.py:apply_cdc_log E118,
    the MERGE INTO primitive): a hash-derived change log — up to 3
    sequenced entries per page mixing upserts and deletes, plus
    inserts of previously-unseen keys — applied to the page base
    table, last-writer-wins by sequence.  One struct-max hash agg
    (no windows, no joins; map-side partials absorb hot keys);
    deletes drop at the end so delete-then-reinsert resolves by
    order.  The oracle replays with arg_max."""
    from web_graph_spark.operators.graph_algos import _hex16
    from web_graph_spark.operators.merge import apply_cdc_log

    p = (webgen.pages_df(spark, sf_dir)
         .select("doc_id", "check_id").distinct())
    base = p.select(
        F.col("check_id").alias("id"),
        F.md5(F.concat(F.col("check_id"), F.lit("v0")))
        .alias("payload"))
    kk = p.select("doc_id", "check_id",
                  F.explode(F.sequence(F.lit(0), F.lit(2))).alias("k"))
    ks = F.col("k").cast("string")
    ke = F.concat(F.lit("e:"), F.col("check_id"), F.lit(":"), ks)
    ko = F.concat(F.lit("o:"), F.col("check_id"), F.lit(":"), ks)
    log = (kk.where(_hex16(ke) % 4 != 0)
           .select(F.col("check_id").alias("id"),
                   (F.col("doc_id") * 3 + F.col("k")).cast("long")
                   .alias("seq"),
                   F.when(_hex16(ko) % 7 == 0, F.lit("D"))
                   .otherwise(F.lit("U")).alias("op"),
                   F.md5(F.concat(F.col("check_id"), F.lit(":"), ks))
                   .alias("payload")))
    fresh = (p.where(F.col("doc_id") % 10 == 0)
             .select(F.concat(F.lit("new:"), F.col("check_id"))
                     .alias("id"),
                     (F.col("doc_id") * 3 + 1).cast("long")
                     .alias("seq"),
                     F.lit("U").alias("op"),
                     F.md5(F.concat(F.lit("new:"), F.col("check_id")))
                     .alias("payload")))
    return apply_cdc_log(base, log.unionByName(fresh))


def q_dedup_blocking_quality(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Blocking-scheme evaluation (functions/dedup.py:
    blocking_quality E131, Christen TKDE'12) of the E96
    sorted-neighborhood URL blocking: reduction ratio (comparisons
    avoided, closed-form from block sizes — no pair
    materialization), pair completeness and pair quality vs the
    exhaustive within-host Levenshtein truth tier — the audit that
    says whether window=3 is a safe comparison budget.  All exact
    ppm integers; the oracle replays block-size algebra, the window
    pairing and the exhaustive tier."""
    from web_graph_spark.functions.dedup import blocking_quality

    p = webgen.pages_df(spark, sf_dir).select("doc_id", "host", "path")
    return blocking_quality(p, "host", "path", "doc_id",
                            window=3, max_dist=2)


def q_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per (event_type, day) (functions/
    stats.py:time_weighted_avg E128, the TimescaleDB time_weight
    LOCF shape): each sample holds until the next, so the mean
    weights by HOLD TIME, not sampling density — exact integer
    µs×cents arithmetic, one lead window per group.  Oracle replays
    the step integral with its own window."""
    from web_graph_spark.functions.stats import time_weighted_avg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "ts",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.floor(F.col("value") * 100).cast("long").alias("v_c"))
    return time_weighted_avg(ev, ["event_type", "day"], "ts",
                             F.col("v_c"))


def q_events_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (functions/stats.py:relational_division
    E129, Codd's ÷): the users active on EVERY day of the launch
    week (2024-01-01..07) — the FOR-ALL query joins can't express
    without the double-negation plan.  Divisor is a broadcast
    7-row dim; nothing fact-sized is nested-looped.  The oracle is
    the genuinely different NOT EXISTS(… NOT EXISTS …) form."""
    from web_graph_spark.functions.stats import relational_division

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day"))
    week = spark.range(1).select(F.explode(F.sequence(
        F.to_date(F.lit("2024-01-01")),
        F.to_date(F.lit("2024-01-07")))).alias("day"))
    return relational_division(ev, "user_id", "day", week)


def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the undirected admissible link graph
    (operators/graph_algos.py:degree_assortativity E130, Newman
    2002): does the web graph wire hubs to hubs or hubs to leaves?
    Emitted as covariance sign + r² in ppm — exact decimal(38,0)
    moment algebra, no square roots to drift between engines."""
    from web_graph_spark.operators.graph_algos import degree_assortativity

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    return degree_assortativity(e)


def q_events_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS F2 / self-join-size sketch on the event user key
    (functions/stats.py:ams_f2 E127, Alon–Matias–Szegedy STOC'96):
    64 linear ±1-sign counters, median-of-means in exact integers —
    the join-size estimate a planner wants before shuffling on a
    key (F2 ≫ n ⟹ salt it).  The reduce side sees 64 rows whatever
    the input; the exact Σf² certifies alongside.  Oracle replays
    signs, counters, group means and the lower median."""
    from web_graph_spark.functions.stats import ams_f2

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ams_f2(ev, F.col("user_id"))


def q_orders_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals (functions/stats.py:
    benford_audit E126): leading-digit distribution vs the Benford
    expectation (fixed ppm literals, no runtime logs) with the χ²
    contribution per digit in exact ppm integers — the data-quality
    screen a numeric feed runs on ingest.  TPC-H-style uniform
    prices FAIL the test loudly (huge chi_ppm) — which is the audit
    working; the oracle replays digits, expectations and every
    squared deviation in HUGEINT."""
    from web_graph_spark.functions.stats import benford_audit

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return benford_audit(o, F.floor(F.col("o_totalprice") * 100))


def q_corpus_compaction_plan(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Small-files compaction plan (operators/layout.py:
    plan_compaction E125): the document manifest (one row per doc:
    lang partition, n_chars size) packed into ≈2000-char rewrite
    groups by deterministic largest-first greedy fill — one
    per-partition prefix-sum window over the MANIFEST, no driver
    loop.  Group membership certified by an id-sorted digest; the
    oracle replays the same fill order and boundary rule."""
    from web_graph_spark.operators.layout import plan_compaction

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return plan_compaction(docs.select("lang", "doc_id", "n_chars"),
                           "lang", "doc_id", "n_chars", 2000)


def q_corpus_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline over the corpus (functions/stats.py:
    skyline2d E117, Börzsönyi ICDE'01): the documents not dominated
    on (length, lexical diversity) — every optimal trade-off point
    between the two quality axes, no weighting chosen in advance.
    x = token count, y = type-token ratio in ppm (exact integer
    division).  Spark computes it with NO global sort (x-grain dim +
    running max over the value-range-bounded dim); the oracle is the
    genuinely independent quadratic NOT-EXISTS dominance check."""
    from web_graph_spark.functions.stats import skyline2d

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.expr("size(array_distinct(split(text, ' '))) * 1000000 "
               "div size(split(text, ' '))").cast("long")
        .alias("ttr_ppm"))
    return skyline2d(feats, "n_tokens", "ttr_ppm")


def q_corpus_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM document scoring with interpolated unigram backoff
    (functions/text.py:bigram_lm_scores E116) — the KenLM-grade
    upgrade of the unigram perplexity gate (E60): fluency requires
    plausible token TRANSITIONS, so a scramble of frequent words no
    longer scores well.  Per-bigram likelihood is ONE exact
    decimal(38,0) division (no float logs); the oracle replays
    model counts and every division in HUGEINT."""
    from web_graph_spark.functions.text import bigram_lm_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bigram_lm_scores(docs)


def q_corpus_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (functions/text.py:
    kneser_ney_scores E176) — the production LM smoothing: backoff
    mass goes to CONTINUATION counts (distinct predecessors), not raw
    frequency, with absolute discount 3/4; one exact decimal(38,0)
    division per bigram, all model dims derived from one bigram-count
    agg.  The oracle replays counts and the discount algebra in
    HUGEINT."""
    from web_graph_spark.functions.text import kneser_ney_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return kneser_ney_scores(docs)


def q_events_stream_join_audit(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Stream-stream interval-join audit (streaming.py:
    stream_join_audit E115): clicks ⋈ purchases per user within 4 h,
    replayed under Structured Streaming's watermark semantics with a
    hash-derived 0–6 h ingest skew, hourly triggers and a 30-min
    delay.  Per trigger: exact join-state occupancy of each side
    (the capacity bill of the chosen delay), emitted pairs, and the
    pairs LOST because one side arrived too late — with the 6 h skew
    ≫ 30 min delay, ~72% of true joins are lost, which is exactly
    the number a deployment needs to see before picking the delay.
    All integer µs; the oracle replays watermark, retention
    thresholds, occupancy deltas and the lost-pair digests."""
    from web_graph_spark.operators.graph_algos import _hex16
    from web_graph_spark.streaming import stream_join_audit

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "ts",
        (F.unix_micros(F.col("ts").cast("timestamp"))
         + (_hex16(F.col("event_id").cast("string")) % 21600)
         * 1_000_000).alias("arrival_us"))
    return stream_join_audit(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        window_s=14_400, delay_s=1800)


def q_crawl_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 snapshot compaction (operators/recrawl.py:scd2_history
    E114): four derived crawl snapshots of the page corpus — presence
    and content version both hash-driven per (page, snap), so pages
    appear, change, vanish and RE-appear — compacted to the Kimball
    type-2 history a warehouse keeps instead of S full snapshots:
    one row per maximal stable run, absence gaps close intervals,
    ``is_current`` marks runs reaching snapshot 3.  One page-keyed
    window + one agg; output ∝ change volume.  The oracle replays
    the gaps-and-islands rule with its own lag windows."""
    from web_graph_spark.operators.graph_algos import _hex16
    from web_graph_spark.operators.recrawl import scd2_history

    p = webgen.pages_df(spark, sf_dir).select("check_id").distinct()
    snaps = p.select(
        "check_id",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("snap"))
    s_str = F.col("snap").cast("string")
    present = _hex16(F.concat(F.lit("p:"), F.col("check_id"),
                              F.lit(":"), s_str)) % 8 != 0
    ver = (_hex16(F.concat(F.lit("v:"), F.col("check_id"),
                           F.lit(":"), s_str)) % 3).cast("string")
    obs = (snaps.where(present)
           .select("check_id", "snap",
                   F.md5(F.concat(F.col("check_id"), F.lit(":v"),
                                  ver)).alias("digest")))
    return scd2_history(obs, id_col="check_id", current_snap=3)


def q_dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (functions/dedup.py:cdc_chunks
    E113, the LBFS/restic storage-dedup primitive): every document
    split at content-derived boundaries (hex16(md5(16-char window))
    % 64 == 0, final position always a boundary), then chunk
    identities grouped corpus-wide — the duplicated groups are the
    bytes a chunk store would write once.  Boundaries move with the
    CONTENT, so an insert re-chunks only its local region (the
    shift-resilience pin in tests); the oracle replays the window
    probe, span assembly and grouping position-for-position."""
    from web_graph_spark.functions.dedup import cdc_chunks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ch = cdc_chunks(docs)
    return ch.groupBy("chunk_md5").agg(
        F.min("chunk_len").cast("long").alias("chunk_len"),
        F.count(F.lit(1)).alias("n_occ"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("doc_id").alias("first_doc"))


def q_sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta-sketch set operations over the distinct-customer
    audiences of each order priority (functions/stats.py:kmv_overlap
    E112): per priority pair, estimate |A|, |B|, |A ∩ B|, |A ∪ B|
    from 256-value sketches — the audience-overlap question HLL
    (E91) structurally cannot answer.  Every estimate is exact
    integer arithmetic ((k−1)·2^48 div h_(k)) over the shared hex48
    hash, so the SQL oracle rebuilds sketch, theta and every
    division bit-for-bit; the true distinct/overlap counts ride
    alongside as certification."""
    from web_graph_spark.functions.stats import kmv_overlap

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return kmv_overlap(o, "o_orderpriority",
                       F.col("o_custkey").cast("string"), k=256)


def q_orders_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity battery (operators/tablediff.py:fk_audit
    E197) over the relational star: every FK edge a downstream join
    relies on, audited for NULL keys / orphans / duplicate parents —
    the lake-side replacement for the constraint engine the reference
    delegates to Postgres (linkstorage.go:434-476).  The sixth edge
    audits against a deliberately halved supplier dim (the broken-
    replica drill) so both verdict polarities are exercised.  Oracle
    replays each edge with scalar subqueries."""
    from web_graph_spark.operators.tablediff import fk_audit

    rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")  # noqa: E731
    li, orders, cust = rd("lineitem"), rd("orders"), rd("customer")
    nation, supp, part = rd("nation"), rd("supplier"), rd("part")
    edges = [
        ("lineitem.l_orderkey->orders", li, "l_orderkey",
         orders, "o_orderkey"),
        ("orders.o_custkey->customer", orders, "o_custkey",
         cust, "c_custkey"),
        ("customer.c_nationkey->nation", cust, "c_nationkey",
         nation, "n_nationkey"),
        ("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey"),
        ("lineitem.l_suppkey->supplier", li, "l_suppkey",
         supp, "s_suppkey"),
        ("lineitem.l_suppkey->supplier_halved", li, "l_suppkey",
         supp.filter(F.col("s_suppkey") % 2 == 0), "s_suppkey"),
    ]
    return fk_audit(edges)


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (agg pushdown + codegen)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.floor(F.sum("l_quantity")).cast("long").alias("sum_qty"),
                 F.floor(F.sum("l_extendedprice") * 100).cast("long")
                  .alias("sum_base_c"),
                 F.floor(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))) * 100)
                  .cast("long").alias("sum_disc_c"),
                 F.count("*").alias("count_order")))


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping priority: BUILDING-segment customers
    (a selective dim — BROADCAST onto orders), orders placed before /
    lines shipped after the cutoff, revenue per order in cents
    floored PER LINE before the integer sum (a float Σ then ×100 is
    aggregation-order-dependent; Q1's coarse totals tolerate it,
    a top-10 ranking cannot), global top-10 by revenue with
    orderkey tie-break — a TakeOrdered map-side heap, never a
    global sort."""
    cutoff = "1998-01-01"
    c = (spark.read.parquet(f"{sf_dir}/customer.parquet")
         .filter(F.col("c_mktsegment") == "BUILDING")
         .select("c_custkey"))
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .filter(F.col("o_orderdate") < F.lit(cutoff))
         .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .filter(F.col("l_shipdate") > F.lit(cutoff))
          .select("l_orderkey",
                  F.floor(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 100)
                  .cast("long").alias("rev_c")))
    j = (o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
         .join(li, o["o_orderkey"] == li["l_orderkey"])
         .groupBy("o_orderkey", "o_orderdate")
         .agg(F.sum("rev_c").cast("long").alias("revenue_c")))
    return (j.orderBy(F.desc("revenue_c"), "o_orderkey").limit(10)
            .select("o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("o_orderdate"), "revenue_c"))


def q_topk_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per customer (WindowGroupLimit top-k)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey"))
    return (o.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("o_custkey", "rank", "o_orderkey",
                    F.floor(F.col("o_totalprice") * 100).cast("long")
                     .alias("price_c")))


def q_events_qdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q-digest mergeable quantile sketch per event type
    (functions/stats.py:qdigest_build E132, Shrivastava et al.
    SenSys'04): p50/p95/p99 of the centi-unit event value read off a
    bounded node table (thr = ⌊n/256⌋, 16-bit universe) built by one
    fact-sized histogram agg + a dim-sized bottom-up compression
    fold — the sketch a 10^6-group×hourly latency dashboard stores
    and rolls up where per-window exact histograms cannot be kept.
    The exact quantiles certify alongside (rank error ≤ 16·thr —
    the paper's bound, pinned in tests); n_nodes shows the
    compression (≈5× at this scale).  Oracle replays the fold
    stage-for-stage as 16 unrolled MATERIALIZED CTE levels."""
    from web_graph_spark.functions.stats import (
        QD_B, QD_K, exact_quantiles, qdigest_build, qdigest_quantiles)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    val = F.floor(F.col("value") * 100)
    lim = (1 << QD_B) - 1
    clamped = F.greatest(F.least(val.cast("long"), F.lit(lim)), F.lit(0))
    est = qdigest_quantiles(qdigest_build(ev, "event_type", val),
                            "event_type")
    ex = (exact_quantiles(ev, "event_type", clamped)
          .select("event_type", F.col("p50").alias("p50_exact"),
                  F.col("p95").alias("p95_exact"),
                  F.col("p99").alias("p99_exact")))
    return (est.join(ex, "event_type")
            .withColumn("thr", F.expr(f"n_rows div {QD_K}"))
            .select("event_type", "n_rows", "thr", "n_nodes",
                    "p50_est", "p95_est", "p99_est",
                    "p50_exact", "p95_exact", "p99_exact"))


def _qdigest_unrolled_sql(k: int = 256, b: int = 16) -> str:
    """The DuckDB half of E132: the q-digest compression fold of
    functions/stats.py:_qd_compress unrolled to one MATERIALIZED CTE
    stage per level (the graph_stress oracle discipline), plus the
    exact-quantile certification read off the same level-0 histogram."""
    lim = (1 << b) - 1
    parts = [f"""WITH v AS (
  SELECT event_type AS g,
         LEAST(GREATEST(CAST(floor(value * 100) AS BIGINT), 0),
               {lim}) AS b
  FROM events),
c0 AS MATERIALIZED (
  SELECT g, b, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1, 2),
n AS MATERIALIZED (
  SELECT g, sum(c) AS n, sum(c) // {k} AS thr FROM c0 GROUP BY 1)"""]
    keeps = []
    for lv in range(b):
        parts.append(f""",
d{lv} AS MATERIALIZED (
  SELECT g, b // 2 AS p, sum(c) AS ct FROM c{lv} GROUP BY 1, 2),
k{lv} AS (
  SELECT c{lv}.g, (c{lv}.b + 1) * {1 << lv} - 1 AS hi,
         {lv} AS level, c{lv}.c AS c
  FROM c{lv} JOIN d{lv} ON c{lv}.g = d{lv}.g AND c{lv}.b // 2 = d{lv}.p
  JOIN n ON n.g = c{lv}.g WHERE d{lv}.ct > n.thr),
c{lv + 1} AS MATERIALIZED (
  SELECT d{lv}.g, d{lv}.p AS b, d{lv}.ct AS c
  FROM d{lv} JOIN n ON n.g = d{lv}.g WHERE d{lv}.ct <= n.thr)""")
        keeps.append(f"SELECT g, hi, level, c FROM k{lv}")
    keeps.append(f"SELECT g, (b + 1) * {1 << b} - 1 AS hi, "
                 f"{b} AS level, c FROM c{b}")
    sk = " UNION ALL ".join(keeps)
    qsel = ", ".join(
        f"min(CASE WHEN cum >= ({q} * nn + 99) // 100 THEN hi END) "
        f"AS p{q}_est" for q in (50, 95, 99))
    esel = ", ".join(
        f"min(CASE WHEN cum >= ({q} * nn + 99) // 100 THEN v END) "
        f"AS p{q}_exact" for q in (50, 95, 99))
    parts.append(f""",
sk AS ({sk}),
scum AS (
  SELECT g, hi, c,
         sum(c) OVER (PARTITION BY g ORDER BY hi, level
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY g) AS nn
  FROM sk),
est AS (
  SELECT g, max(nn) AS n_rows, count(*) AS n_nodes, {qsel}
  FROM scum GROUP BY g),
ecum AS (
  SELECT g, b AS v,
         sum(c) OVER (PARTITION BY g ORDER BY b
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY g) AS nn
  FROM c0),
ex AS (SELECT g, {esel} FROM ecum GROUP BY g)
SELECT est.g AS event_type,
       CAST(est.n_rows AS BIGINT) AS n_rows,
       CAST(est.n_rows // {k} AS BIGINT) AS thr,
       CAST(est.n_nodes AS BIGINT) AS n_nodes,
       CAST(p50_est AS BIGINT) AS p50_est,
       CAST(p95_est AS BIGINT) AS p95_est,
       CAST(p99_est AS BIGINT) AS p99_est,
       CAST(p50_exact AS BIGINT) AS p50_exact,
       CAST(p95_exact AS BIGINT) AS p95_exact,
       CAST(p99_exact AS BIGINT) AS p99_exact
FROM est JOIN ex ON est.g = ex.g""")
    return "".join(parts)


def _merkle_snapshot_b(d: DataFrame) -> DataFrame:
    """The constructed divergent snapshot the Merkle diff localizes:
    documents minus doc_id%97==3 (deletes), text suffixed for
    doc_id%101==7 (changes), re-keyed copies for doc_id%89==11
    (inserts) — deterministic in both engines."""
    changed = (F.when(F.col("doc_id") % 101 == 7,
                      F.concat(F.col("text"), F.lit(" v2")))
               .otherwise(F.col("text")))
    return (d.filter(F.col("doc_id") % 97 != 3)
            .select("doc_id", changed.alias("text"))
            .unionByName(
                d.filter(F.col("doc_id") % 89 == 11)
                .select((F.col("doc_id") + 10000).alias("doc_id"),
                        "text")))


def q_corpus_merkle_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle range-digest snapshot diff (operators/tablediff.py
    E134, AdHash incremental-hash variant — Bellare & Micciancio
    EUROCRYPT'97; Cassandra/Dynamo anti-entropy): classify every row
    divergence between the documents table and a constructed
    deleted/changed/inserted snapshot by drilling ONLY into leaf key
    ranges whose order-independent digest sums disagree — the repair
    primitive that certifies two 100 TB replicas equal by exchanging
    one root row, and localizes corruption in O(diverged ranges)
    instead of a full-table shuffle.  Oracle is the genuinely
    different brute-force full-outer classified diff — equality
    proves the Merkle restriction lossless."""
    from web_graph_spark.operators.tablediff import merkle_diff_rows

    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .select("doc_id", "text"))
    return merkle_diff_rows(d, _merkle_snapshot_b(d),
                            F.col("doc_id"), F.col("text"), width=16)


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecasting-revenue-change: the pure scan-predicate
    aggregate beside Q1's group-agg and Q3's join — every filter
    (ship-year, discount band, quantity cap) must reach the parquet
    scan as a pushed predicate, so the whole query is one codegen'd
    scan + a 1-row partial-aggregated sum.  Revenue in cents floored
    PER LINE (the Q3 discipline: float Σ then ×100 would be
    aggregation-order-dependent)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sel = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
    return (sel.select(F.floor(F.col("l_extendedprice")
                               * F.col("l_discount") * 100)
                       .cast("long").alias("rev_c"))
            .agg(F.sum("rev_c").cast("long").alias("revenue_c"),
                 F.count(F.lit(1)).cast("long").alias("n_lines")))


def q_docs_asset_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-asset reuse audit over the interleaved span docs: every
    ``.png`` media_ref grouped by exact ref string — how many
    documents embed the asset, how often, and the hot-asset flag
    (n_docs ≥ 3).  The fetch-each-asset-ONCE planning input of a
    multimodal pipeline: hot assets go to a shared fetch/decode cache
    tier, singletons inline with their document.  One explode + one
    uniform-key agg (ref strings hash-spread; a genuinely hot CDN
    asset is exactly the AQE-skew-split case).  Oracle re-derives the
    refs from the link relation the spans were built from."""
    web = build_span_web(spark, sf_dir)
    refs = (web.select("page_id", F.explode("spans").alias("s"))
            .select("page_id", F.col("s.media_ref").alias("media_ref"))
            .filter(F.col("media_ref").rlike(r"\.png$")))
    return (refs.groupBy("media_ref")
            .agg(F.countDistinct("page_id").cast("long").alias("n_docs"),
                 F.count(F.lit(1)).cast("long").alias("n_refs"))
            .select("media_ref",
                    F.regexp_extract("media_ref", "^https://([^/]+)/", 1)
                    .alias("asset_host"),
                    "n_docs", "n_refs",
                    (F.col("n_docs") >= 3).alias("is_hot")))


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile battery (operators/tablediff.py:table_profile
    E233): per documents column the row/NULL/exact-distinct counts and
    native-typed min/max — the Deequ-style snapshot profile run before
    anyone queries a new drop.  ONE scan computes every column's stats
    in a single aggregate row (map-side partials, 1-row shuffle state),
    unpivoted in-row; no per-column re-scan."""
    from web_graph_spark.operators.tablediff import table_profile

    return table_profile(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        ["doc_id", "text", "lang", "source", "n_chars"])


def q_corpus_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf head audit (functions/text.py:zipf_head E234): the top-50
    tokens with rank, frequency, corpus share, and the Zipf constant
    f·r/N in floor ppm — flat C across ranks ≈ Zipf-compliant natural
    text; a C cliff at low ranks is the boilerplate/template
    signature, the cheap corpus-level screen beside E168's per-doc
    repetition scores.  One explode scan + one uniform token agg +
    a LIMIT-50 head; rank window on the bounded head only."""
    from web_graph_spark.functions.text import zipf_head

    return zipf_head(spark.read.parquet(
        f"{sf_dir}/documents.parquet"), "text", 50)


def q_events_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type (functions/stats.py:
    mann_kendall E237): S = Σ sign(x_j − x_i) over day-ordered daily
    counts, Kendall's tau in floor-toward-zero ppm, trend verdict at
    ±0.2 — the distribution-free is-this-drifting screen run before
    trusting any forecast.  Pair enumeration on the bounded DAY dim
    only (per-type self-join), never the event stream."""
    from web_graph_spark.functions.stats import mann_kendall

    return mann_kendall(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer ACF of the per-type hourly series (functions/
    stats.py:autocorrelation E238) at lags 1/2/3/24 — diurnal vs
    bursty vs Poisson-ish, read off r_k = Σc_t·c_{t+k}/Σc_t² with
    c_t = n·x_t − S (mean-centering multiplied through by n; the n²
    cancels) on the DENSE shared hour grid.  All windows/folds on the
    calendar-sized dim, partitioned by type."""
    from web_graph_spark.functions.stats import autocorrelation

    return autocorrelation(
        spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_graph_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral radius of the undirected host graph by exact-integer
    power iteration (operators/graph_algos.py:spectral_radius E240):
    per round w = A·v, renormalize by max (floor), Rayleigh quotient
    in ppm — λ_max, the epidemic-threshold / robustness constant.
    The pagerank shape: one uniform-key join + one vertex agg + a
    1-row max dim per round; oracle unrolls the identical rounds."""
    from web_graph_spark.operators.graph_algos import spectral_radius

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    p = webgen.pages_df(spark, sf_dir).select("doc_id", "host")
    he = (e.join(p.select(F.col("doc_id").alias("src_doc_id"),
                          F.col("host").alias("src_host")),
                 "src_doc_id")
          .join(p.select(F.col("doc_id").alias("tgt_doc_id"),
                         F.col("host").alias("tgt_host")),
                "tgt_doc_id")
          .select("src_host", "tgt_host").distinct())
    return spectral_radius(he, rounds=4)


def q_text_filter_agreement(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Cohen's kappa between two quality labelers (functions/stats.py:
    cohen_kappa E239) — the composite quality_score gate (≥ 2000,
    E11's scorer) vs the Gopher hard-filter verdict (E81's gates),
    both over the SAME injected corpus the gopher query exercises:
    beyond-chance agreement of the two filters a curation pipeline
    would otherwise arbitrate silently.  One join + one aggregate
    row; every count exact."""
    from web_graph_spark.functions.stats import cohen_kappa
    from web_graph_spark.functions.text import gopher_rules, with_quality

    docs = _gopher_injected(spark, sf_dir)
    a = (with_quality(docs)
         .select("doc_id", (F.col("quality_score") >= 2000).alias("a")))
    b = gopher_rules(docs).select("doc_id", F.col("passes").alias("b"))
    return cohen_kappa(a.join(b, "doc_id"), "a", "b")


def _spectral_unrolled_sql(rounds: int = 4) -> str:
    """Oracle for q_graph_spectral: the identical power-iteration
    rounds unrolled as MATERIALIZED CTEs (renormalization floors and
    Rayleigh quotients mirrored 1:1 on HUGEINT)."""
    parts = ["""
, he AS MATERIALIZED (
  SELECT DISTINCT ps.host AS s, pt.host AS t
  FROM (SELECT DISTINCT src_doc_id, tgt_doc_id
        FROM web_links_full WHERE k % 4 <> 0) e
  JOIN web_pages ps ON ps.doc_id = e.src_doc_id
  JOIN web_pages pt ON pt.doc_id = e.tgt_doc_id),
und AS MATERIALIZED (
  -- explicit DISTINCT: MATERIALIZED inside WITH RECURSIVE silently
  -- degrades bare UNION to UNION ALL in DuckDB
  SELECT DISTINCT s, t FROM (
    SELECT s, t FROM he UNION ALL SELECT t, s FROM he) u),
verts AS MATERIALIZED (SELECT DISTINCT s AS v FROM und),
v0 AS MATERIALIZED (
  SELECT v, CAST(1000000 AS HUGEINT) AS x FROM verts)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
w{r} AS MATERIALIZED (
  SELECT u.s AS v, sum(p.x) AS w
  FROM und u JOIN v{r - 1} p ON p.v = u.t
  GROUP BY 1),
wf{r} AS MATERIALIZED (
  SELECT verts.v, coalesce(w{r}.w, 0) AS w
  FROM verts LEFT JOIN w{r} ON w{r}.v = verts.v),
ray{r} AS (
  SELECT CAST({r} AS BIGINT) AS round,
         CAST(sum(CASE WHEN wf.w > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_active,
         CAST(CASE WHEN sum(CAST(p.x AS HUGEINT) * p.x) <> 0 THEN
                sum(wf.w * p.x) * 1000000
                  // sum(CAST(p.x AS HUGEINT) * p.x)
              END AS BIGINT) AS lambda_ppm
  FROM wf{r} wf JOIN v{r - 1} p USING (v)),
mx{r} AS (SELECT max(w) AS mx FROM wf{r}),
v{r} AS MATERIALIZED (
  SELECT wf.v,
         CASE WHEN mx.mx > 0 THEN wf.w * 1000000 // mx.mx
              ELSE 0 END AS x
  FROM wf{r} wf, mx{r} mx)""")
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM ray{r}" for r in range(1, rounds + 1))
    return _oracle_recursive("".join(parts) + "\n" + union)


def _filter_agreement_sql() -> str:
    """Oracle for q_text_filter_agreement: quality_score ≥ 2000 and
    the full gopher verdict over the SAME injection, folded through
    the identical kappa algebra."""
    from web_graph_spark.functions.text import (count_sql, gopher_sql,
                                                stopword_count_sql)

    inj = """
  SELECT doc_id, text
    || CASE WHEN doc_id % 9 = 0 THEN chr(10) || '- alpha' || chr(10)
         || '- beta' || chr(10) || '- gamma' ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'to be continued...'
         || chr(10) || 'more soon...' ELSE '' END
    || CASE WHEN doc_id % 17 = 0 THEN ' ### ## # ...' ELSE '' END
    || CASE WHEN doc_id % 23 = 0
         THEN ' 123 456 789 101 112 131 415 161 718 192' ELSE '' END
    AS text
  FROM documents"""
    n_tok = count_sql("text", r"\S+")
    n_punct = count_sql("text", "[.,;:!?]")
    n_digit = count_sql("text", "[0-9]")
    quality = f"""
  SELECT doc_id,
         CAST(greatest(
             least({n_tok}, 200) * 20
             + floor(({stopword_count_sql('text')}) * 10000.0
                     / greatest({n_tok}, 1))
             - floor({n_punct} * 10000.0 / greatest(length(text), 1))
             - floor({n_digit} * 10000.0 / greatest(length(text), 1)),
             0) AS BIGINT) >= 2000 AS a
  FROM inj"""
    gop = gopher_sql(table="inj")
    return f"""
WITH inj AS ({inj}),
q AS ({quality}),
g AS (SELECT doc_id, passes AS b FROM ({gop}) _g),
j AS (SELECT q.a, g.b FROM q JOIN g USING (doc_id)),
cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
              AS BIGINT) AS n00,
         CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
              AS BIGINT) AS n01,
         CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
              AS BIGINT) AS n10,
         CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END)
              AS BIGINT) AS n11
  FROM j),
pp AS (
  SELECT *,
         CAST((n00 + n11) * 1000000 // n AS BIGINT) AS po_ppm,
         CAST((CAST(n10 + n11 AS HUGEINT) * (n01 + n11)
               + CAST(n00 + n01 AS HUGEINT) * (n00 + n10)) * 1000000
              // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm
  FROM cells)
SELECT n, n00, n01, n10, n11, po_ppm, pe_ppm,
       CAST(CASE WHEN pe_ppm < 1000000 THEN
              (po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm)
            END AS BIGINT) AS kappa_ppm
FROM pp"""


def q_corpus_encoding_plan(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Dictionary-vs-plain encoding chooser (operators/layout.py:
    encoding_plan E241): per documents column the exact plain cost,
    dictionary cost (distinct bytes + ⌈log₂ n_distinct⌉-bit codes),
    verdict, and floor-ppm savings — the parquet writer's layout
    decision priced before a 100 TB rewrite.  ONE melt scan → one
    (col, value) agg → one |cols|-key fold."""
    from web_graph_spark.operators.layout import encoding_plan

    return encoding_plan(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        ["doc_id", "text", "lang", "source", "n_chars"])


def q_corpus_filter_funnel(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Curation-funnel attrition audit: the dup-injected corpus
    through the staged pipeline ingest → lang=en → quality ≥ 2000 →
    case-normalized exact dedup (keep = min doc_id per
    md5(lower(text)) among quality survivors), reporting surviving
    docs AND tokens per stage with floor-ppm retention vs the
    previous stage and vs ingest — the table a data-curation review
    reads first (which stage ate the corpus?).  One scan + one
    dedup-key agg; the stage fold is a 4-row dim."""
    from web_graph_spark.functions.text import with_quality

    dd = _docs_with_dups(spark, sf_dir)
    lang = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("orig_id"), "lang")
    d = (dd.withColumn("orig_id", F.col("doc_id") % 100000)
         .join(lang, "orig_id"))
    q = (with_quality(d)
         .select("doc_id", "lang", "n_tokens", "quality_score",
                 F.md5(F.lower("text")).alias("key"))
         .withColumn("f1", F.col("lang") == "en")
         .withColumn("f2", F.col("f1")
                     & (F.col("quality_score") >= 2000)))
    keep = (q.filter("f2").groupBy("key")
            .agg(F.min("doc_id").alias("kid")))
    flags = (q.join(keep, "key", "left")
             .withColumn("f3", F.col("f2")
                         & (F.col("doc_id") == F.col("kid"))))
    st = (flags.select(F.explode(F.array(
        F.struct(F.lit(0).cast("long").alias("stage"),
                 F.lit("ingest").alias("stage_name"),
                 F.lit(True).alias("keep")),
        F.struct(F.lit(1).cast("long").alias("stage"),
                 F.lit("lang_en").alias("stage_name"),
                 F.col("f1").alias("keep")),
        F.struct(F.lit(2).cast("long").alias("stage"),
                 F.lit("quality").alias("stage_name"),
                 F.col("f2").alias("keep")),
        F.struct(F.lit(3).cast("long").alias("stage"),
                 F.lit("dedup").alias("stage_name"),
                 F.coalesce(F.col("f3"), F.lit(False)).alias("keep"))
    )).alias("s"), F.col("n_tokens"))
        .filter(F.col("s.keep"))
        .groupBy(F.col("s.stage").alias("stage"),
                 F.col("s.stage_name").alias("stage_name"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.sum("n_tokens").cast("long").alias("n_tokens")))
    w = Window.orderBy("stage")
    first = Window.orderBy("stage").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (st
            .withColumn("prev_docs", F.lag("n_docs").over(w))
            .withColumn("prev_toks", F.lag("n_tokens").over(w))
            .withColumn("docs0", F.first("n_docs").over(first))
            .withColumn("toks0", F.first("n_tokens").over(first))
            .select("stage", "stage_name", "n_docs", "n_tokens",
                    F.expr("CASE WHEN prev_docs > 0 THEN "
                           "n_docs * 1000000 div prev_docs END")
                    .cast("long").alias("kept_docs_ppm"),
                    F.expr("CASE WHEN toks0 > 0 THEN "
                           "n_tokens * 1000000 div toks0 END")
                    .cast("long").alias("kept_tokens_vs_start_ppm")))


def q_embed_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-triplet mining (functions/similarity.py:triplet_mining
    E242): per sampled anchor (vec_id % 97 == 0) the hardest
    positive, hardest negative, µ-floored margin, and the hard flag —
    the batch-hard miner of a metric-learning pipeline in the
    ann_cosine broadcast shape (anchors are the mining batch dim;
    one corpus scan, two rank-1 window cuts)."""
    from web_graph_spark.functions.similarity import triplet_mining

    emb = _emb(spark, sf_dir)
    anchors = emb.filter(F.col("vec_id") % 97 == 0)
    return triplet_mining(emb, anchors)


def q_media_audio_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gain-invariant audio near-dup grouping (functions/media.py:
    audio_fingerprint E243) over REAL 16-bit PCM WAV bytes: per doc a
    closed-form waveform (period p = 40 + h%30, gain g = 20 +
    (h div 32)%8, n = 700 + (h div 256)%500 samples, 100-sample
    silence alternation), plus a RE-LEVELLED copy (gain g+3 mod
    range, same waveform) for every doc_id % 7 == 0 — the planted
    ground truth.  The energy-delta fingerprint is gain-invariant,
    so every copy collides with its original and the dup groups fall
    out of one fp agg; Python only decodes the WAV container (the
    media_vad discipline) and DuckDB replays energies from the
    formula, never parsing a byte."""
    import io
    import struct
    import wave as wavmod
    from typing import Iterator

    import pandas as pd

    from web_graph_spark.functions.media import audio_fingerprint
    from web_graph_spark.operators.graph_algos import _hex16

    hx = _hex16(F.concat(F.lit("fp:"), F.col("doc_id").cast("string")))
    base = (_docs(spark, sf_dir)
            .select("doc_id", hx.cast("long").alias("h"))
            .select("doc_id",
                    F.expr("20 + (h div 32) % 8").cast("long").alias("g"),
                    F.expr("40 + h % 30").cast("long").alias("p"),
                    F.expr("700 + (h div 256) % 500").cast("long")
                    .alias("n")))
    orig = base.select(
        F.concat(F.lit("m-"), F.col("doc_id").cast("string"))
        .alias("media_id"), "g", "p", "n")
    copies = (base.filter(F.col("doc_id") % 7 == 0)
              .select(F.concat(F.lit("c-"), F.col("doc_id").cast("string"))
                      .alias("media_id"),
                      F.expr("20 + ((g - 20) + 3) % 8").cast("long")
                      .alias("g"), "p", "n"))
    par = orig.unionByName(copies)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raws = []
            for g, p, n in zip(pdf["g"], pdf["p"], pdf["n"]):
                g, p, n = int(g), int(p), int(n)
                buf = io.BytesIO()
                with wavmod.open(buf, "wb") as wv:
                    wv.setnchannels(1)
                    wv.setsampwidth(2)
                    wv.setframerate(8000)
                    wv.writeframes(b"".join(
                        struct.pack(
                            "<h",
                            0 if (i // 100) % 2 == 1
                            else (i % p - p // 2) * g)
                        for i in range(n)))
                raws.append(buf.getvalue())
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "media": raws})

    media = par.mapInPandas(synth,
                            schema="media_id string, media binary")
    fp = audio_fingerprint(media)
    grp = fp.groupBy("fp").agg(F.count(F.lit(1)).cast("long")
                               .alias("n_same_fp"))
    return (fp.join(grp, "fp")
            .select("media_id", "n_frames", "fp_md5", "n_same_fp",
                    (F.col("n_same_fp") > 1).alias("is_dup")))


def _filter_funnel_sql() -> str:
    """Oracle for q_corpus_filter_funnel: the identical staged flags
    over the dup-injected corpus, stage aggregates via UNION ALL,
    retention off a 4-row window."""
    from web_graph_spark.functions.text import (count_sql,
                                                stopword_count_sql)

    n_tok = count_sql("text", r"\S+")
    n_punct = count_sql("text", "[.,;:!?]")
    n_digit = count_sql("text", "[0-9]")
    qs = f"""greatest(
        least({n_tok}, 200) * 20
        + floor(({stopword_count_sql('text')}) * 10000.0
                / greatest({n_tok}, 1))
        - floor({n_punct} * 10000.0 / greatest(length(text), 1))
        - floor({n_digit} * 10000.0 / greatest(length(text), 1)),
        0)"""
    return f"""
WITH dd AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, upper(text) FROM documents
  WHERE doc_id % 50 = 0
  UNION ALL
  SELECT doc_id + 200000, text || ' zz qq ww' FROM documents
  WHERE doc_id % 50 = 1),
d AS (
  SELECT dd.doc_id, dd.text, b.lang
  FROM dd JOIN documents b ON b.doc_id = dd.doc_id % 100000),
q AS (
  SELECT doc_id, lang,
         CAST({n_tok} AS BIGINT) AS n_tokens,
         CAST({qs} AS BIGINT) AS qs,
         md5(lower(text)) AS key
  FROM d),
fl AS (
  SELECT *, (lang = 'en') AS f1,
         (lang = 'en') AND qs >= 2000 AS f2
  FROM q),
keep AS (
  SELECT key, min(doc_id) AS kid FROM fl WHERE f2 GROUP BY 1),
f3 AS (
  SELECT fl.*, coalesce(fl.f2 AND fl.doc_id = k.kid, FALSE) AS f3
  FROM fl LEFT JOIN keep k USING (key)),
st AS (
  SELECT 0 AS stage, 'ingest' AS stage_name,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM f3
  UNION ALL
  SELECT 1, 'lang_en', count(*), sum(n_tokens) FROM f3 WHERE f1
  UNION ALL
  SELECT 2, 'quality', count(*), sum(n_tokens) FROM f3 WHERE f2
  UNION ALL
  SELECT 3, 'dedup', count(*), sum(n_tokens) FROM f3 WHERE f3.f3),
lg AS (
  SELECT *,
         lag(n_docs) OVER (ORDER BY stage) AS prev_docs,
         first_value(n_tokens) OVER (ORDER BY stage) AS toks0
  FROM st)
SELECT CAST(stage AS BIGINT) AS stage, stage_name, n_docs, n_tokens,
       CAST(CASE WHEN prev_docs > 0 THEN
              n_docs * 1000000 // prev_docs END AS BIGINT)
         AS kept_docs_ppm,
       CAST(CASE WHEN toks0 > 0 THEN
              n_tokens * 1000000 // toks0 END AS BIGINT)
         AS kept_tokens_vs_start_ppm
FROM lg"""


def _audio_dup_sql() -> str:
    """Oracle for q_media_audio_dup: closed-form frame energies (the
    media_vad discipline — DuckDB never parses a byte), delta bits
    via lead, fingerprint string_agg, dup groups."""
    h = _hex16_sql("'fp:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH par0 AS (
  SELECT doc_id,
         20 + ({h} // 32) % 8 AS g,
         40 + {h} % 30 AS p,
         700 + ({h} // 256) % 500 AS n
  FROM documents),
par AS (
  SELECT 'm-' || CAST(doc_id AS VARCHAR) AS media_id, g, p, n
  FROM par0
  UNION ALL
  SELECT 'c-' || CAST(doc_id AS VARCHAR),
         20 + ((g - 20) + 3) % 8, p, n
  FROM par0 WHERE doc_id % 7 = 0),
fr AS (
  SELECT media_id, g, p, u.f AS f
  FROM par, UNNEST(generate_series(0, n // 80 - 1)) AS u(f)),
sm AS (
  SELECT media_id, f,
         CASE WHEN (u2.i // 100) % 2 = 1 THEN 0
              ELSE (u2.i % p - p // 2) * g END AS s
  FROM fr, UNNEST(generate_series(f * 80, f * 80 + 79)) AS u2(i)),
en AS (
  SELECT media_id, f, sum(s * s) AS e FROM sm GROUP BY 1, 2),
bits AS (
  SELECT media_id, f, e,
         lead(e) OVER (PARTITION BY media_id ORDER BY f) AS e2
  FROM en),
fp AS (
  SELECT media_id,
         CAST(count(*) AS BIGINT) AS n_frames,
         coalesce(string_agg(CASE WHEN e2 > e THEN '1' ELSE '0' END,
                             '' ORDER BY f)
                  FILTER (WHERE e2 IS NOT NULL), '') AS fp
  FROM bits GROUP BY 1),
grp AS (
  SELECT fp, CAST(count(*) AS BIGINT) AS n_same_fp
  FROM fp GROUP BY 1)
SELECT f.media_id, f.n_frames, md5(f.fp) AS fp_md5, g.n_same_fp,
       g.n_same_fp > 1 AS is_dup
FROM fp f JOIN grp g USING (fp)"""


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped order-priority check — the EXISTS semi-join
    shape beside Q1/Q3/Q6 (our lineitem carries no commit/receipt
    dates, so 'late' = a line shipped > 60 days after the order
    date): orders in 1997-H1 with at least one late line, counted
    per priority.  The semi-join keeps the orders side
    duplicate-free by construction (no distinct, no post-join
    dedup); both date predicates push to the scans."""
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .filter((F.col("o_orderdate") >= F.lit("1997-01-01"))
                 & (F.col("o_orderdate") < F.lit("1997-07-01")))
         .select("o_orderkey", "o_orderdate", "o_orderpriority"))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .select("l_orderkey", "l_shipdate"))
    late = o.join(
        li, (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"]
           + F.expr("interval 60 days")), "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders")))


def q_docs_span_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-sequence integrity audit over the interleaved docs: a
    deterministic shard-loss injection drops every span with
    (offset + length(media_ref)) % 5 == 0, then per document the
    survivor count, offset range, implied missing-span count
    ((max−min+1) − n), and the loss verdict (gaps inside the range
    OR a lost head, offsets being 1-dense by construction) — the
    per-row guard the span-sequence-equality invariant needs once
    real shards can go missing.  Entirely in-row (filter +
    array_min/max over the spans array — no explode, no shuffle);
    documents with no surviving spans keep NULL verdicts (genuinely
    link-less pages are indistinguishable without an expected
    count, and say so)."""
    web = build_span_web(spark, sf_dir)
    kept = F.expr(
        "filter(spans, s -> (s.offset + length(s.media_ref)) % 5 != 0)")
    d = web.select(F.md5(F.concat("host", "path")).alias("check_id"),
                   kept.alias("__k"))
    offs = F.expr("transform(__k, s -> s.offset)")
    return (d.select(
        "check_id",
        F.size("__k").cast("long").alias("n_spans"),
        F.array_min(offs).cast("long").alias("span_min"),
        F.array_max(offs).cast("long").alias("span_max"))
        .withColumn("n_missing",
                    F.expr("CASE WHEN n_spans > 0 THEN "
                           "span_max - span_min + 1 - n_spans END")
                    .cast("long"))
        .withColumn("has_loss",
                    F.expr("CASE WHEN n_spans > 0 THEN "
                           "n_missing > 0 OR span_min > 1 END")))


def q_events_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch audit (functions/stats.py:count_min_audit
    E245, Cormode-Muthukrishnan): the 4×256 sketch over per-user
    event counts, estimates vs exact truth for the top-10 users with
    the ε-bound verdict — the mergeable heavy-hitter counter priced
    at audit scale.  Sketch built from the exact key dim by
    linearity; shared md5/hex16 hashing bit-identical in DuckDB."""
    from web_graph_spark.functions.stats import count_min_audit

    return count_min_audit(
        spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_embed_mips_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIP-vs-cosine ranking-bias audit: the embeddings are
    deterministically re-scaled (factor 1 + (vec_id % 7)·5%) to give
    norms spread, then each probe's top-5 by INNER PRODUCT is diffed
    against its top-5 by cosine — overlap@5, both winners, and the
    winning-MIP vector's scale factor, which exposes the norm bias
    (MIP retrieval favors long vectors; cosine is scale-invariant).
    The go/no-go table for serving dot-product indexes over
    unnormalized embeddings.  Both rankings on floored ppm + id
    tie-break; one corpus scan, broadcast probe dim."""
    from web_graph_spark.functions.similarity import cosine, dot

    aug = _emb(spark, sf_dir).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE) * "
               "((100 + (vec_id % 7) * 5) / 100.0))").alias("v"))
    q = (aug.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("v").alias("q_vec")))
    j = (aug.crossJoin(F.broadcast(q))
         .filter(F.col("vec_id") != F.col("q_id"))
         .withColumn("dot_ppm",
                     F.floor(dot(F.col("v"), F.col("q_vec"))
                             * 1000000).cast("long"))
         .withColumn("cos_ppm",
                     F.floor(cosine(F.col("v"), F.col("q_vec"))
                             * 1000000).cast("long")))
    wm = Window.partitionBy("q_id").orderBy(F.desc("dot_ppm"), "vec_id")
    wc = Window.partitionBy("q_id").orderBy(F.desc("cos_ppm"), "vec_id")
    r = (j.withColumn("rm", F.row_number().over(wm))
         .withColumn("rc", F.row_number().over(wc)))
    ov = (r.filter((F.col("rm") <= 5) & (F.col("rc") <= 5))
          .groupBy("q_id")
          .agg(F.count(F.lit(1)).cast("long").alias("overlap_at_5")))
    tm = (r.filter(F.col("rm") == 1)
          .select("q_id", F.col("vec_id").alias("top_mip_id")))
    tc = (r.filter(F.col("rc") == 1)
          .select("q_id", F.col("vec_id").alias("top_cos_id")))
    return (tm.join(tc, "q_id")
            .join(ov, "q_id", "left")
            .select("q_id",
                    F.coalesce("overlap_at_5", F.lit(0)).cast("long")
                    .alias("overlap_at_5"),
                    "top_mip_id", "top_cos_id",
                    (F.col("top_mip_id") == F.col("top_cos_id"))
                    .alias("same_top"),
                    F.expr("100 + (top_mip_id % 7) * 5").cast("long")
                    .alias("top_mip_scale_pct")))


_JL_K, _JL_D = 16, 64


def _jl_signs() -> list[list[int]]:
    """±1 Rademacher projection matrix, DERIVED (md5 of 'jl:i:j', the
    mojibake/lexicon shared-constant discipline) — the same table
    feeds the Spark plan and the generated oracle SQL, so both
    engines project with literally identical coefficients."""
    import hashlib

    return [[1 if int(hashlib.md5(f"jl:{i}:{jx}".encode())
                      .hexdigest()[:4], 16) % 2 == 0 else -1
             for jx in range(_JL_D)] for i in range(_JL_K)]


def q_embed_jl_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit: project the 64-d
    embeddings to 16-d with a derived ±1 Rademacher matrix (E[‖y‖²]
    = k·‖x‖² — no normalization, the k factor divides out in the
    ratio) and report, for every sampled pair, the squared-distance
    ratio d²₁₆/(16·d²₆₄) in floor ppm with the ±50% verdict — the
    measurement that licenses running the E176/E177/E185 compression
    tiers at reduced dimension.  Distances via the dot-product
    identity (‖a‖² + ‖b‖² − 2a·b, identical operation order in both
    engines); two sampled vector dims cross-joined (broadcast) — the
    corpus pays one scan computing 16 dots per sampled vector."""
    from web_graph_spark.functions.similarity import dot

    signs = _jl_signs()
    base = _emb(spark, sf_dir).select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        .alias("v"))
    proj = F.array(*[
        dot(F.col("v"), F.array(*[F.lit(float(s)) for s in row]))
        for row in signs])
    sa = (base.filter(F.col("vec_id") % 31 == 0)
          .select(F.col("vec_id").alias("a_id"),
                  F.col("v").alias("av"), proj.alias("ay")))
    sb = (base.filter(F.col("vec_id") % 37 == 0)
          .select(F.col("vec_id").alias("b_id"),
                  F.col("v").alias("bv"), proj.alias("by_")))
    p = (sa.crossJoin(F.broadcast(sb))
         .filter(F.col("a_id") < F.col("b_id")))
    d64 = (dot(F.col("av"), F.col("av"))
           + dot(F.col("bv"), F.col("bv"))
           - 2 * dot(F.col("av"), F.col("bv")))
    d16 = (dot(F.col("ay"), F.col("ay"))
           + dot(F.col("by_"), F.col("by_"))
           - 2 * dot(F.col("ay"), F.col("by_")))
    out = p.select(
        "a_id", "b_id",
        F.floor(d64 * 1000000.0).cast("long").alias("d64_ppm"),
        F.floor(d16 * 1000000.0).cast("long").alias("d16_ppm"),
        F.when(d64 > 0,
               F.floor(d16 * 1000000.0 / (16.0 * d64))).cast("long")
        .alias("ratio_ppm"))
    return out.withColumn(
        "within_half",
        F.expr("CASE WHEN ratio_ppm IS NOT NULL THEN "
               "abs(ratio_ppm - 1000000) <= 500000 END"))


def q_orders_basket_rules(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Association-rule mining over order baskets (the classic
    support/confidence/lift table, Agrawal-Srikant): brand pairs
    co-purchased in one order, with conf(a→b) and lift in floor ppm
    (decimal(38,0) products — supp·N overflows BIGINT at 10^10
    orders), positively-associated verdict at lift > 1.  Items
    coarsened to p_brand so supports are meaningful at audit scale.
    One part-dim join, one (order, brand) distinct, one pair
    self-join on the order key, bounded |brands|² rule dim."""
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .select("l_orderkey", "l_partkey"))
    pt = (spark.read.parquet(f"{sf_dir}/part.parquet")
          .select(F.col("p_partkey").alias("l_partkey"), "p_brand"))
    ob = (li.join(pt, "l_partkey")
          .select(F.col("l_orderkey").alias("o"),
                  F.col("p_brand").alias("brand"))
          .distinct())
    n = ob.select("o").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"))
    per = ob.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"))
    pairs = (ob.join(ob.select(F.col("o"),
                               F.col("brand").alias("brand_b")), "o")
             .filter(F.col("brand") < F.col("brand_b"))
             .groupBy(F.col("brand").alias("brand_a"), "brand_b")
             .agg(F.count(F.lit(1)).cast("long").alias("n_both")))
    return (pairs
            .join(per.select(F.col("brand").alias("brand_a"),
                             F.col("n_b").alias("n_a")), "brand_a")
            .join(per.select(F.col("brand").alias("brand_b"),
                             F.col("n_b").alias("n_b")), "brand_b")
            .crossJoin(F.broadcast(n))
            .select("brand_a", "brand_b", "n_both", "n_a", "n_b",
                    "n_orders",
                    F.expr("n_both * 1000000 div n_a").cast("long")
                    .alias("conf_ppm"),
                    F.expr("CAST(CAST(n_both AS DECIMAL(38,0)) "
                           "* n_orders * 1000000 div "
                           "(CAST(n_a AS DECIMAL(38,0)) * n_b) "
                           "AS BIGINT)").alias("lift_ppm"))
            .withColumn("positive",
                        F.col("lift_ppm") > 1_000_000))


def q_events_interarrival(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Per-user inter-arrival exact quantiles by event type: the
    think-time distribution behind E238's burstiness — delta to the
    user's previous event (ONE user-key shuffle, the sessionize
    window), then exact p50/p95/p99 seconds per the CURRENT event's
    type via the E74 bounded-histogram quantile fold."""
    from web_graph_spark.functions.stats import exact_quantiles

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = (ev.select("user_id", "event_id", "ts", "event_type")
         .withColumn("prev", F.lag("ts").over(w))
         .filter(F.col("prev").isNotNull()))
    # floor ONCE on the microsecond delta (floor(a)-floor(b) !=
    # floor(a-b) when ts carries sub-second parts)
    delta_s = F.expr("(unix_micros(CAST(ts AS TIMESTAMP)) - "
                     "unix_micros(CAST(prev AS TIMESTAMP))) "
                     "div 1000000")
    return exact_quantiles(d, "event_type", delta_s)


def q_orders_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto) curve by customer decile — the
    80/20 read: per-customer revenue in cents, deciles assigned off
    the cumulative customer count over the revenue-VALUE histogram
    (the E121 gini discipline — ties occupy one block, a block joins
    the decile of its first member; no global row_number over the
    customer dim), then per decile the customer count, revenue,
    share, and cumulative share in floor ppm."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rev = (o.groupBy("o_custkey")
           .agg(F.sum(F.floor(F.col("o_totalprice") * 100))
                .cast("long").alias("r")))
    hist = rev.groupBy("r").agg(
        F.count(F.lit(1)).cast("long").alias("nc"))
    wv = (Window.orderBy(F.desc("r"))
          .rowsBetween(Window.unboundedPreceding, -1))
    tot = hist.agg(F.sum("nc").cast("long").alias("n_custs"),
                   F.sum(F.col("r") * F.col("nc")).cast("long")
                   .alias("r_total"))
    dec = (hist
           .withColumn("cum_before",
                       F.coalesce(F.sum("nc").over(wv), F.lit(0)))
           .crossJoin(F.broadcast(tot))
           .withColumn("decile",
                       F.expr("cum_before * 10 div n_custs")
                       .cast("long")))
    per = (dec.groupBy("decile")
           .agg(F.sum("nc").cast("long").alias("n_custs_d"),
                F.sum(F.col("r") * F.col("nc")).cast("long")
                .alias("revenue_c"),
                F.max("r_total").alias("r_total")))
    wd = (Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, 0))
    return (per
            .withColumn("share_ppm",
                        F.expr("revenue_c * 1000000 div r_total")
                        .cast("long"))
            .withColumn("cum_share_ppm",
                        (F.sum(F.expr("revenue_c * 1000000 div "
                                      "r_total")).over(wd))
                        .cast("long"))
            .select("decile", F.col("n_custs_d").alias("n_custs"),
                    "revenue_c", "share_ppm", "cum_share_ppm"))


def _jl_sql() -> str:
    """Oracle for q_embed_jl_audit — identical literal sign arrays."""
    signs = _jl_signs()

    def arr(row):
        return ("[" + ", ".join(f"{s}.0" for s in row)
                + "]::DOUBLE[]")

    proj = ("[" + ", ".join(
        f"list_dot_product(v, {arr(row)})" for row in signs) + "]")
    return f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sa AS (
  SELECT vec_id AS a_id, v AS av, {proj} AS ay
  FROM base WHERE vec_id % 31 = 0),
sb AS (
  SELECT vec_id AS b_id, v AS bv, {proj} AS y_b
  FROM base WHERE vec_id % 37 = 0),
p AS (
  SELECT a.a_id, b.b_id,
         list_dot_product(a.av, a.av)
           + list_dot_product(b.bv, b.bv)
           - 2 * list_dot_product(a.av, b.bv) AS d64,
         list_dot_product(a.ay, a.ay)
           + list_dot_product(b.y_b, b.y_b)
           - 2 * list_dot_product(a.ay, b.y_b) AS d16
  FROM sa a, sb b WHERE a.a_id < b.b_id)
SELECT a_id, b_id,
       CAST(floor(d64 * 1000000.0) AS BIGINT) AS d64_ppm,
       CAST(floor(d16 * 1000000.0) AS BIGINT) AS d16_ppm,
       CAST(CASE WHEN d64 > 0 THEN
              floor(d16 * 1000000.0 / (16.0 * d64)) END AS BIGINT)
         AS ratio_ppm,
       CASE WHEN d64 > 0 THEN
            abs(CAST(floor(d16 * 1000000.0 / (16.0 * d64))
                     AS BIGINT) - 1000000) <= 500000 END
         AS within_half
FROM p"""


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item loss report: customers ranked
    by the revenue of their RETURNED lines ('R' flag) on 1997-H2
    orders, top-20 with nation join — the fourth TPC-H shape
    (scan-agg, join, predicate-scan, semi-join, now the classic
    join-agg-topk report).  Revenue in cents floored per line; the
    nation dim broadcasts; top-20 is a TakeOrdered map-side heap."""
    c = (spark.read.parquet(f"{sf_dir}/customer.parquet")
         .select("c_custkey", "c_name", "c_nationkey"))
    na = (spark.read.parquet(f"{sf_dir}/nation.parquet")
          .select(F.col("n_nationkey").alias("c_nationkey"),
                  "n_name"))
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .filter((F.col("o_orderdate") >= F.lit("1997-07-01"))
                 & (F.col("o_orderdate") < F.lit("1998-01-01")))
         .select("o_orderkey", "o_custkey"))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .filter(F.col("l_returnflag") == "R")
          .select("l_orderkey",
                  F.floor(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 100)
                  .cast("long").alias("rev_c")))
    j = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
         .groupBy("o_custkey")
         .agg(F.sum("rev_c").cast("long").alias("lost_c")))
    return (j.join(c, j["o_custkey"] == c["c_custkey"])
            .join(F.broadcast(na), "c_nationkey")
            .orderBy(F.desc("lost_c"), "c_custkey").limit(20)
            .select("c_custkey", "c_name", "n_name", "lost_c"))


def q_events_conversion_lag(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Time-to-convert quantiles: per user the earliest view and the
    earliest purchase at-or-after it (the E82 funnel semantics),
    then exact p50/p95/p99 conversion lag in seconds over all
    converting users — the latency read the funnel's COUNT columns
    don't give.  One user-key agg for first-view, one conditional
    min for the qualifying purchase, single-floored microsecond
    deltas through the E74 histogram fold."""
    from web_graph_spark.functions.stats import exact_quantiles

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t_view")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("user_id", "ts")
         .join(v, "user_id")
         .filter(F.col("ts") >= F.col("t_view"))
         .groupBy("user_id")
         .agg(F.min("ts").alias("t_purch"), F.min("t_view")
              .alias("t_view")))
    lag_s = F.expr("(unix_micros(CAST(t_purch AS TIMESTAMP)) - "
                   "unix_micros(CAST(t_view AS TIMESTAMP))) "
                   "div 1000000")
    out = exact_quantiles(
        p.withColumn("g", F.lit("all")), "g", lag_s)
    return out.select(F.col("n_rows").alias("n_converted"),
                      "p50", "p95", "p99")


def q_events_anomaly_mad(spark: SparkSession, sf_dir: str
                         ) -> DataFrame:
    """Median-absolute-deviation anomaly summary per event type —
    the ROBUST tier beside E93's trailing z-score (a mean/stddev
    monitor is itself dragged by the outliers it hunts; the
    med ± k·MAD fence is not): exact median of the hourly counts,
    exact MAD, hours outside med ± 3·MAD, and the peak robust z in
    floor ppm (|x−med|·10⁶ div max(MAD, 1)).  Two bounded
    value-histogram quantile folds (E74 machinery) — the hourly dim
    never leaves its type partitioning."""
    from web_graph_spark.functions.stats import exact_quantiles

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hc = (ev.groupBy(F.col("event_type").alias("g"),
                     F.date_trunc("hour", "ts").alias("h"))
          .agg(F.count(F.lit(1)).cast("long").alias("x")))
    med = (exact_quantiles(hc, "g", F.col("x"), qs=(50,))
           .select(F.col("g"), F.col("p50").alias("med")))
    dev = (hc.join(med, "g")
           .withColumn("ad", F.abs(F.col("x") - F.col("med"))))
    mad = (exact_quantiles(dev, "g", F.col("ad"), qs=(50,))
           .select(F.col("g"), F.col("p50").alias("mad")))
    j = dev.join(mad, "g")
    return (j.groupBy("g")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hours"),
                 F.max("med").alias("med"), F.max("mad").alias("mad"),
                 F.sum((F.col("ad") > 3 * F.col("mad"))
                       .cast("long")).cast("long").alias("n_flagged"),
                 F.max(F.expr("ad * 1000000 div greatest(mad, 1)"))
                 .cast("long").alias("max_robust_z_ppm"))
            .select(F.col("g").alias("event_type"), "n_hours", "med",
                    "mad", "n_flagged", "max_robust_z_ppm"))


def q_graph_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality on the directed host graph in exact integer
    ppm — the walk-counting centrality between degree (k=1) and the
    eigenvector limit (E240): katz(v) = Σ_t α^t · (#walks of length
    t into v), α = 1/5 rational, per round one floor division
    (c_{t+1}(v) = Σ_{u→v} c_t(u) div 5 — OPIC-style remainder policy,
    deterministic in any engine), 4 rounds from c₀ = 10⁶.  The
    pagerank scale shape: per round one in-edge join + one vertex
    agg.  Oracle unrolls the identical rounds."""
    he = (webgen.links_full_df(spark, sf_dir)
          .filter(F.col("k") % 4 != 0)
          .select("src_doc_id", "tgt_doc_id").distinct()
          .join(webgen.pages_df(spark, sf_dir)
                .select(F.col("doc_id").alias("src_doc_id"),
                        F.col("host").alias("src_host")),
                "src_doc_id")
          .join(webgen.pages_df(spark, sf_dir)
                .select(F.col("doc_id").alias("tgt_doc_id"),
                        F.col("host").alias("tgt_host")),
                "tgt_doc_id")
          .select(F.col("src_host").alias("s"),
                  F.col("tgt_host").alias("t")).distinct()
          .localCheckpoint())
    verts = (he.select(F.col("s").alias("v"))
             .unionByName(he.select(F.col("t").alias("v")))
             .distinct().localCheckpoint())
    c = verts.select("v", F.lit(1_000_000).cast("long").alias("c"))
    katz = verts.select("v", F.lit(0).cast("long").alias("k"))
    for _ in range(4):
        c = (he.join(c.select(F.col("v").alias("s"),
                              F.col("c").alias("cs")), "s")
             .groupBy(F.col("t").alias("v"))
             .agg(F.expr("sum(cs) div 5").cast("long").alias("c"))
             .join(verts, "v", "right")
             .select("v", F.coalesce("c", F.lit(0)).cast("long")
                     .alias("c"))
             .localCheckpoint())
        katz = (katz.join(c, "v")
                .select("v", (F.col("k") + F.col("c")).cast("long")
                        .alias("k")))
    return katz.select(F.col("v").alias("host"),
                       F.col("k").alias("katz_ppm"))


def _katz_unrolled_sql(rounds: int = 4) -> str:
    """Oracle for q_graph_katz: the identical rounds unrolled —
    same α = 1/5 floor-per-aggregate, same in-edge derivation."""
    parts = ["""
, he AS MATERIALIZED (
  SELECT DISTINCT ps.host AS s, pt.host AS t
  FROM (SELECT DISTINCT src_doc_id, tgt_doc_id
        FROM web_links_full WHERE k % 4 <> 0) e
  JOIN web_pages ps ON ps.doc_id = e.src_doc_id
  JOIN web_pages pt ON pt.doc_id = e.tgt_doc_id),
verts AS MATERIALIZED (
  SELECT DISTINCT v FROM (
    SELECT s AS v FROM he UNION ALL SELECT t FROM he) u),
c0 AS MATERIALIZED (
  SELECT v, CAST(1000000 AS BIGINT) AS c FROM verts)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
c{r} AS MATERIALIZED (
  SELECT verts.v, coalesce(x.c, 0) AS c
  FROM verts LEFT JOIN (
    SELECT he.t AS v, sum(p.c) // 5 AS c
    FROM he JOIN c{r - 1} p ON p.v = he.s
    GROUP BY 1) x ON x.v = verts.v)""")
    total = " + ".join(f"c{r}.c" for r in range(1, rounds + 1))
    joins = "".join(f"\nJOIN c{r} ON c{r}.v = verts.v"
                    for r in range(1, rounds + 1))
    return _oracle_recursive("".join(parts) + f"""
SELECT verts.v AS host, CAST({total} AS BIGINT) AS katz_ppm
FROM verts{joins}""")


def q_events_chi2_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test of event_type × hour-of-day in
    exact integers — the PROPER test statistic behind E217's
    seasonality profile and E222's dispersion: per cell
    (O·N − rt·ct)²·1000 div (N·rt·ct) (all products on decimal(38,0);
    χ² emitted in milli units, floored per cell), summed per type so
    the table shows WHICH type carries the dependence.  Zero cells
    enter via the dense |types|×24 grid (their O·N−rt·ct term is the
    whole expectation).  One fact scan → three bounded aggs + a dim
    cross; magnitudes bounded for N ≤ ~10^9 events per audit window
    (the documented window discipline — shard larger streams by
    day)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    o = (ev.groupBy(F.col("event_type").alias("t"),
                    F.hour("ts").alias("h"))
         .agg(F.count(F.lit(1)).cast("long").alias("o")))
    rt = o.groupBy("t").agg(F.sum("o").cast("long").alias("rt"))
    ct = o.groupBy("h").agg(F.sum("o").cast("long").alias("ct"))
    n = o.agg(F.sum("o").cast("long").alias("n"))
    dense = (rt.crossJoin(ct)
             .join(o, ["t", "h"], "left")
             .select("t", "h", "rt", "ct",
                     F.coalesce("o", F.lit(0)).cast("long").alias("o"))
             .crossJoin(F.broadcast(n)))
    cell = F.expr(
        "CAST((CAST(o AS DECIMAL(38,0)) * n - CAST(rt AS DECIMAL(38,0))"
        " * ct) * (CAST(o AS DECIMAL(38,0)) * n - "
        "CAST(rt AS DECIMAL(38,0)) * ct) * 1000 div "
        "(CAST(n AS DECIMAL(38,0)) * rt * ct) AS BIGINT)")
    return (dense.withColumn("c", cell)
            .groupBy(F.col("t").alias("event_type"))
            .agg(F.max("rt").alias("n_events"),
                 F.count(F.lit(1)).cast("long").alias("n_cells"),
                 F.sum("c").cast("long").alias("chi2_milli")))


def q_crawl_shard_rebalance(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Shard-rebalance move-candidate plan — the ACTION table on top
    of E-crawl_shard_skew's measurement: hosts hash to 4 shards
    (hex16 % 4, the E-host_assign recipe); for every host in an
    overloaded shard (load > target = total div 4), the plan prices
    moving it to the globally least-loaded shard (1-row dim; ties by
    shard id) and keeps only moves that strictly reduce
    |from−target| + |to−target| — the greedy step a frontier
    rebalancer executes between waves.  One host agg + one shard agg
    + bounded dims end to end."""
    from web_graph_spark.operators.graph_algos import _hex16

    hosts = (webgen.pages_df(spark, sf_dir)
             .groupBy("host")
             .agg(F.count(F.lit(1)).cast("long").alias("n_pages"))
             .withColumn("shard", (_hex16(F.col("host")) % 4)
                         .cast("long")))
    loads = (hosts.groupBy("shard")
             .agg(F.sum("n_pages").cast("long").alias("load")))
    tot = loads.agg(F.sum("load").cast("long").alias("total"))
    tgt = (loads.crossJoin(F.broadcast(tot))
           .withColumn("target", F.expr("total div 4").cast("long")))
    under = (tgt.orderBy("load", "shard").limit(1)
             .select(F.col("shard").alias("to_shard"),
                     F.col("load").alias("to_load")))
    cand = (hosts
            .join(tgt.select("shard", "load", "target"), "shard")
            .filter(F.col("load") > F.col("target"))
            .crossJoin(F.broadcast(under))
            .filter(F.col("shard") != F.col("to_shard")))
    improves = F.expr(
        "abs(load - n_pages - target) + abs(to_load + n_pages - target)"
        " < abs(load - target) + abs(to_load - target)")
    return (cand.filter(improves)
            .select("host", "n_pages",
                    F.col("shard").alias("from_shard"),
                    F.col("load").alias("from_load"),
                    "to_shard", "to_load",
                    (F.col("load") - F.col("n_pages")).cast("long")
                    .alias("new_from_load"),
                    (F.col("to_load") + F.col("n_pages")).cast("long")
                    .alias("new_to_load")))


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local-supplier volume: revenue per ASIA nation where
    the supplying and ordering nations COINCIDE — the classic
    snowflake join (region→nation→customer→orders→lineitem→supplier)
    with the co-nation equi-predicate.  All three dims (region,
    nation, supplier) broadcast; the only shuffles are
    orders⋈lineitem on orderkey and the final nation agg (25 groups).
    Revenue in cents floored per line (the Q3 discipline) so the sum
    is aggregation-order-free at any parallelism."""
    na = (spark.read.parquet(f"{sf_dir}/nation.parquet")
          .join(F.broadcast(
              spark.read.parquet(f"{sf_dir}/region.parquet")
              .filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
          .select("n_nationkey", "n_name"))
    c = (spark.read.parquet(f"{sf_dir}/customer.parquet")
         .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
         .select("c_custkey", "c_nationkey", "n_name"))
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .filter((F.col("o_orderdate") >= F.lit("1996-01-01"))
                 & (F.col("o_orderdate") < F.lit("1998-01-01")))
         .select("o_orderkey", "o_custkey"))
    s = (spark.read.parquet(f"{sf_dir}/supplier.parquet")
         .select("s_suppkey", "s_nationkey"))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .select("l_orderkey", "l_suppkey",
                  F.floor(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 100)
                  .cast("long").alias("rev_c")))
    return (o.join(c, o["o_custkey"] == c["c_custkey"])
            .join(li, o["o_orderkey"] == li["l_orderkey"])
            .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
            .filter(F.col("s_nationkey") == F.col("c_nationkey"))
            .groupBy("n_name")
            .agg(F.sum("rev_c").cast("long").alias("revenue_c"),
                 F.count(F.lit(1)).cast("long").alias("n_lines")))


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping between two trading nations: revenue
    by (supplier nation, customer nation, ship year) for the ordered
    pairs (NATION_1→NATION_2) and (NATION_2→NATION_1).  The two
    nation-filtered dims (supplier, customer) shrink to ~1/25 each
    and broadcast; lineitem⋈orders on orderkey is the single big
    shuffle; the 2×|years| group-by is a bounded dim.  Cents floored
    per line keeps the 3-key sums exact under any partitioning."""
    n1, n2 = "NATION_1", "NATION_2"
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    s = (spark.read.parquet(f"{sf_dir}/supplier.parquet")
         .join(F.broadcast(na.filter(F.col("n_name").isin(n1, n2))),
               F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    c = (spark.read.parquet(f"{sf_dir}/customer.parquet")
         .join(F.broadcast(na.filter(F.col("n_name").isin(n1, n2))),
               F.col("c_nationkey") == F.col("n_nationkey"))
         .select("c_custkey", F.col("n_name").alias("cust_nation")))
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .join(c, F.col("o_custkey") == F.col("c_custkey"))
         .select("o_orderkey", "cust_nation"))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
          .select("l_orderkey", "supp_nation",
                  F.year("l_shipdate").cast("long").alias("ship_year"),
                  F.floor(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 100)
                  .cast("long").alias("rev_c")))
    return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .filter(((F.col("supp_nation") == n1)
                     & (F.col("cust_nation") == n2))
                    | ((F.col("supp_nation") == n2)
                       & (F.col("cust_nation") == n1)))
            .groupBy("supp_nation", "cust_nation", "ship_year")
            .agg(F.sum("rev_c").cast("long").alias("revenue_c"),
                 F.count(F.lit(1)).cast("long").alias("n_lines")))


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promo-revenue share for one ship month: PROMO-type
    line revenue over all line revenue, emitted as exact cents plus
    the share in basis points via decimal(38,0) division (a float
    ratio would hash-drift; at 10^12-cent revenue the ×10000 product
    also needs the wide type, the chi2/rich-club overflow
    discipline).  part is a broadcast dim; one conditional agg over
    the month's lines — no second scan for the denominator."""
    p = (spark.read.parquet(f"{sf_dir}/part.parquet")
         .select("p_partkey", "p_type"))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .filter((F.col("l_shipdate") >= F.lit("1997-03-01"))
                  & (F.col("l_shipdate") < F.lit("1997-04-01")))
          .select("l_partkey",
                  F.floor(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 100)
                  .cast("long").alias("rev_c")))
    agg = (li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
           .agg(F.sum(F.when(F.col("p_type") == "PROMO",
                             F.col("rev_c")).otherwise(F.lit(0)))
                .cast("long").alias("promo_c"),
                F.sum("rev_c").cast("long").alias("total_c"),
                F.count(F.lit(1)).cast("long").alias("n_lines")))
    return agg.withColumn(
        "promo_bp",
        F.expr("CAST(CAST(promo_c AS DECIMAL(38,0)) * 10000"
               " div total_c AS BIGINT)"))


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume customers: orders whose total line
    quantity exceeds 300 units, with customer name and the order's
    quantity/revenue totals.  The orderkey agg is the only
    fact-sized shuffle; the >300 filter drops it to a handful of
    rows BEFORE the customer join, so that join broadcasts the
    surviving orders, never the 1.5e9-row customer dim.  Quantities
    are integral in the dataset — summed as centi-units
    (floor(q*100)) so a fractional-quantity future stays exact."""
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .select("o_orderkey", "o_custkey", "o_orderdate"))
    c = (spark.read.parquet(f"{sf_dir}/customer.parquet")
         .select("c_custkey", "c_name"))
    big = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
           .groupBy("l_orderkey")
           .agg(F.sum(F.floor(F.col("l_quantity") * 100).cast("long"))
                .cast("long").alias("qty_centi"),
                F.sum(F.floor(F.col("l_extendedprice") * 100)
                      .cast("long")).cast("long").alias("gross_c"))
           .filter(F.col("qty_centi") > 300 * 100))
    return (o.join(big, o["o_orderkey"] == big["l_orderkey"])
            .join(c, o["o_custkey"] == c["c_custkey"])
            .select("c_custkey", "c_name", "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("o_orderdate"),
                    "qty_centi", "gross_c"))


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer-distribution histogram: how many customers
    placed exactly k non-urgent orders, including the zero-order
    tail via the customer left join (the spec's comment-pattern
    exclusion is re-expressed over this schema as excluding
    1-URGENT orders; /root/testdata has no o_comment).  Two
    aggregations, both shrinking: orders→per-customer counts
    (|customers| rows), counts→histogram (≤ max-k rows).  The
    second agg is dim-sized, so the whole report is one fact-scan
    shuffle no matter the corpus size."""
    c = (spark.read.parquet(f"{sf_dir}/customer.parquet")
         .select("c_custkey"))
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .filter(F.col("o_orderpriority") != "1-URGENT")
         .select("o_custkey"))
    per = (c.join(o, c["c_custkey"] == o["o_custkey"], "left")
           .groupBy("c_custkey")
           .agg(F.sum(F.when(F.col("o_custkey").isNull(), 0)
                      .otherwise(1)).cast("long").alias("c_count")))
    return (per.groupBy("c_count")
            .agg(F.count(F.lit(1)).cast("long").alias("custdist")))


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier(s): per-supplier revenue for one ship
    quarter, keeping every supplier tied at the max (the spec's
    correlated = (SELECT max(..)) — expressed as a rank() window
    over an UNPARTITIONED ordering of the ALREADY-AGGREGATED
    supplier table, |suppliers| rows, not the fact table; the
    single-partition window the WindowExec warning flags is a
    100-row dim here).  Revenue cents floored per line; supplier
    dim broadcast onto the one-row result."""
    s = (spark.read.parquet(f"{sf_dir}/supplier.parquet")
         .select("s_suppkey", "s_name"))
    rev = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
           .filter((F.col("l_shipdate") >= F.lit("1997-01-01"))
                   & (F.col("l_shipdate") < F.lit("1997-04-01")))
           .groupBy("l_suppkey")
           .agg(F.sum(F.floor(F.col("l_extendedprice")
                              * (1 - F.col("l_discount")) * 100)
                      .cast("long")).cast("long").alias("total_rev_c")))
    w = Window.orderBy(F.desc("total_rev_c"))
    return (rev.withColumn("rnk", F.rank().over(w))
            .filter(F.col("rnk") == 1)
            .join(F.broadcast(s), rev["l_suppkey"] == s["s_suppkey"])
            .select(F.col("l_suppkey").alias("s_suppkey"), "s_name",
                    "total_rev_c"))


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity revenue leak: lines of Brand#1 parts
    whose quantity falls below 20% of that part's average quantity,
    and the yearly-revenue figure the spec divides by 7.  The
    20%-of-avg predicate is division-free exact-integer:
    q < 0.2·(Σq/n)  ⇔  5·q·n < Σq, all in centi-units — no float
    avg, no per-engine rounding rule to reconcile.  part is a
    broadcast dim; the per-part avg agg shrinks to |parts| rows
    (itself broadcastable) before the re-join."""
    p = (spark.read.parquet(f"{sf_dir}/part.parquet")
         .filter(F.col("p_brand") == "Brand#1")
         .select("p_partkey"))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
          .select("l_partkey",
                  F.floor(F.col("l_quantity") * 100).cast("long")
                  .alias("qty_centi"),
                  F.floor(F.col("l_extendedprice") * 100).cast("long")
                  .alias("price_c")))
    avg = (li.groupBy(F.col("l_partkey").alias("pk"))
           .agg(F.sum("qty_centi").cast("long").alias("qty_sum"),
                F.count(F.lit(1)).cast("long").alias("n")))
    small = (li.join(F.broadcast(avg), li["l_partkey"] == avg["pk"])
             .filter(F.col("qty_centi") * 5 * F.col("n")
                     < F.col("qty_sum")))
    return (small.agg(
        F.count(F.lit(1)).cast("long").alias("n_small_lines"),
        F.coalesce(F.sum("price_c"), F.lit(0)).cast("long")
        .alias("revenue_c"))
        .withColumn("avg_yearly_c",
                    F.expr("revenue_c div 7").cast("long")))


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 global-sales-opportunity: customers with
    above-average positive account balance and NO order since
    2000-01-01, counted per nation (the spec's phone-prefix country
    is re-expressed as the nation dim — /root/testdata has no
    c_phone — and its never-ordered test as order-lapsed, since this
    generator gives every customer at least one lifetime order).
    The positive-balance average is ONE scalar (exact cents:
    Σbal div n, both integers) broadcast into the filter; the lapsed
    test is a left-anti join against the date-pruned orders custkey
    projection — the frontier seen-check shape, so it scales
    identically (shuffle on custkey, AQE-skew safe)."""
    c = (spark.read.parquet(f"{sf_dir}/customer.parquet")
         .select("c_custkey", "c_nationkey",
                 F.floor(F.col("c_acctbal") * 100).cast("long")
                 .alias("bal_c")))
    pos = c.filter(F.col("bal_c") > 0)
    avg = pos.agg(F.expr("CAST(CAST(sum(bal_c) AS DECIMAL(38,0))"
                         " div count(*) AS BIGINT)").alias("avg_c"))
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
         .select("o_custkey"))
    na = (spark.read.parquet(f"{sf_dir}/nation.parquet")
          .select(F.col("n_nationkey").alias("c_nationkey"), "n_name"))
    idle = (pos.crossJoin(F.broadcast(avg))
            .filter(F.col("bal_c") > F.col("avg_c"))
            .join(o, pos["c_custkey"] == o["o_custkey"], "left_anti"))
    return (idle.join(F.broadcast(na), "c_nationkey")
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).cast("long").alias("numcust"),
                 F.sum("bal_c").cast("long").alias("totacctbal_c")))


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: of the STANDARD-type revenue
    sold into ASIA-region customers, the share supplied by NATION_3,
    per order year.  Share emitted in basis points via decimal(38,0)
    integer division (the Q14 discipline) over per-line-floored
    cents, so numerator and denominator come from ONE conditional
    agg — no second scan, no float ratio.  part / supplier / nation
    / region all broadcast; lineitem⋈orders on orderkey is the only
    fact shuffle."""
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    asia = (na.join(F.broadcast(
        spark.read.parquet(f"{sf_dir}/region.parquet")
        .filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("cnk")))
    c = (spark.read.parquet(f"{sf_dir}/customer.parquet")
         .join(F.broadcast(asia), F.col("c_nationkey") == F.col("cnk"))
         .select("c_custkey"))
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .join(c.hint("broadcast"), F.col("o_custkey") == F.col("c_custkey"))
         .select("o_orderkey",
                 F.year("o_orderdate").cast("long").alias("o_year")))
    p = (spark.read.parquet(f"{sf_dir}/part.parquet")
         .filter(F.col("p_type") == "STANDARD").select("p_partkey"))
    s = (spark.read.parquet(f"{sf_dir}/supplier.parquet")
         .join(F.broadcast(na.filter(F.col("n_name") == "NATION_3")),
               F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey"))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
          .select("l_orderkey", "l_suppkey",
                  F.floor(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 100)
                  .cast("long").alias("rev_c")))
    nat = F.when(F.col("s_suppkey").isNotNull(), F.col("rev_c")) \
           .otherwise(F.lit(0))
    agg = (li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"],
                   "left")
           .join(o, F.col("l_orderkey") == o["o_orderkey"])
           .groupBy("o_year")
           .agg(F.sum(nat).cast("long").alias("nation_rev_c"),
                F.sum("rev_c").cast("long").alias("total_rev_c")))
    return agg.withColumn(
        "mkt_share_bp",
        F.expr("CAST(CAST(nation_rev_c AS DECIMAL(38,0)) * 10000"
               " div total_rev_c AS BIGINT)"))


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped product profit by supplier nation and year
    over 'widget' parts.  This schema carries no partsupp, so the
    spec's ps_supplycost is re-expressed as the part's retail price:
    profit_c = Σ floor(extprice·(1−disc)·100) − retail_c·qty, with
    retail_c = floor(p_retailprice·100) and qty integral — every
    term a bigint, the product routed through decimal(38,0) so a
    10^10-line group cannot overflow.  part and the
    supplier→nation dim broadcast; the orderkey join carries only
    (rev, cost) longs."""
    na = (spark.read.parquet(f"{sf_dir}/nation.parquet")
          .select("n_nationkey", "n_name"))
    s = (spark.read.parquet(f"{sf_dir}/supplier.parquet")
         .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", F.col("n_name").alias("nation")))
    p = (spark.read.parquet(f"{sf_dir}/part.parquet")
         .filter(F.col("p_name").endswith("widget"))
         .select("p_partkey",
                 F.floor(F.col("p_retailprice") * 100).cast("long")
                 .alias("retail_c")))
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .select("o_orderkey",
                 F.year("o_orderdate").cast("long").alias("o_year")))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
          .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
          .select("l_orderkey", "nation",
                  F.floor(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 100)
                  .cast("long").alias("rev_c"),
                  F.expr("CAST(CAST(retail_c AS DECIMAL(38,0))"
                         " * CAST(floor(l_quantity) AS BIGINT)"
                         " AS BIGINT)").alias("cost_c")))
    return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("nation", "o_year")
            .agg((F.sum("rev_c") - F.sum("cost_c")).cast("long")
                 .alias("profit_c"),
                 F.count(F.lit(1)).cast("long").alias("n_lines")))


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier diversity: how many DISTINCT
    suppliers have shipped each (brand, type, size-band) of
    non-Brand#5 mid-size parts — the spec's partsupp relation
    re-expressed over the lineitem supply evidence (this schema has
    no partsupp; a line IS a supplier×part incidence).  part
    broadcasts onto the fact scan; count(DISTINCT) shuffles on the
    3-part group key — bounded by |brands|×|types|×|bands|, with the
    distinct expansion capped by |suppliers| per group."""
    p = (spark.read.parquet(f"{sf_dir}/part.parquet")
         .filter((F.col("p_brand") != "Brand#5")
                 & F.col("p_size").between(10, 30))
         .select("p_partkey", "p_brand", "p_type",
                 F.expr("p_size div 10").cast("long").alias("size_band")))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .select("l_partkey", "l_suppkey"))
    return (li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
            .groupBy("p_brand", "p_type", "size_band")
            .agg(F.countDistinct("l_suppkey").cast("long")
                 .alias("supplier_cnt"),
                 F.countDistinct("l_partkey").cast("long")
                 .alias("part_cnt")))


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 three-branch OR revenue: discounted revenue from
    lines matching any of three (brand, size-range, quantity-range)
    baskets (the spec's container/shipmode legs are re-expressed
    over p_size — this schema carries neither).  One broadcast-join
    plus ONE disjunctive filter — Catalyst keeps the OR as a single
    predicate pass, no union-of-three-scans; revenue cents floored
    per line; one global agg row out."""
    p = (spark.read.parquet(f"{sf_dir}/part.parquet")
         .select("p_partkey", "p_brand", "p_size"))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .select("l_partkey", "l_quantity",
                  F.floor(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 100)
                  .cast("long").alias("rev_c")))
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    m = (((F.col("p_brand") == "Brand#12")
          & F.col("p_size").between(1, 5)
          & F.col("l_quantity").between(1, 11))
         | ((F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20))
         | ((F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)))
    return (j.filter(m)
            .agg(F.count(F.lit(1)).cast("long").alias("n_lines"),
                 F.coalesce(F.sum("rev_c"), F.lit(0)).cast("long")
                 .alias("revenue_c")))


def q_graph_edge_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-quality audit of the host-hash sharding the frontier
    actually uses (E-host_assign's hex16 % 4): the shard×shard edge
    matrix of admissible links, each cell's share in basis points,
    and the is_cut flag — Σ cut cells is the fraction of the link
    graph that crosses executors, i.e. the shuffle volume a
    shard-local edge store would pay per wave.  The audit itself is
    one fact scan + a 16-row agg + a broadcast 1-row total; at
    10^10 edges the same plan holds because the matrix is bounded by
    n_shards², never by |edges|."""
    from web_graph_spark.operators.graph_algos import _hex16

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select((_hex16(F.col("src_host")) % 4).cast("long")
                 .alias("from_shard"),
                 (_hex16(F.col("tgt_host")) % 4).cast("long")
                 .alias("to_shard")))
    cells = (e.groupBy("from_shard", "to_shard")
             .agg(F.count(F.lit(1)).cast("long").alias("n_edges")))
    tot = cells.agg(F.sum("n_edges").cast("long").alias("total"))
    return (cells.crossJoin(F.broadcast(tot))
            .select("from_shard", "to_shard", "n_edges",
                    (F.col("from_shard") != F.col("to_shard"))
                    .alias("is_cut"),
                    F.expr("CAST(CAST(n_edges AS DECIMAL(38,0)) * 10000"
                           " div total AS BIGINT)").alias("share_bp")))


def q_orders_cohort_retention(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Customer cohort-retention matrix: cohort = calendar month of a
    customer's FIRST order; cell (cohort, m) = distinct customers of
    that cohort active m months later, plus retention in basis
    points against the cohort's size.  Month arithmetic is
    year·12+month integers on both engines (no datediff dialect to
    reconcile).  Two shrinking aggs — orders→(customer, month)
    distinct pairs, then first-order min — and the matrix is bounded
    by |months|², so only the first agg ever sees the fact table."""
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .select("o_custkey",
                 (F.year("o_orderdate") * 12
                  + F.month("o_orderdate")).cast("long").alias("m")))
    cm = o.distinct()
    first = (cm.groupBy("o_custkey")
             .agg(F.min("m").cast("long").alias("cohort_m")))
    size = (first.groupBy("cohort_m")
            .agg(F.countDistinct("o_custkey").cast("long")
                 .alias("cohort_size")))
    act = (cm.join(first, "o_custkey")
           .groupBy("cohort_m",
                    (F.col("m") - F.col("cohort_m")).cast("long")
                    .alias("months_since"))
           .agg(F.countDistinct("o_custkey").cast("long")
                .alias("n_active")))
    return (act.join(F.broadcast(size), "cohort_m")
            .select(F.concat(
                F.lpad(F.expr("CAST((cohort_m - 1) div 12 AS STRING)"),
                       4, "0"),
                F.lit("-"),
                F.lpad(F.expr("CAST((cohort_m - 1) % 12 + 1 AS STRING)"),
                       2, "0")).alias("cohort"),
                "months_since", "n_active", "cohort_size",
                F.expr("CAST(CAST(n_active AS DECIMAL(38,0)) * 10000"
                       " div cohort_size AS BIGINT)")
                .alias("retained_bp")))


def q_embed_reciprocal_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal k-nearest-neighbor pairs (k=3): vectors that are IN
    EACH OTHER'S top-3 by cosine — the mutual-NN criterion dedup and
    cluster-seeding pipelines prefer over one-sided thresholds
    because it self-normalizes hub vectors (a hub is top-3 OF many
    but reciprocates few).  Exact tier shown here certifies the
    bucketed-LSH scale path (similarity.py) exactly as
    embed_near_dup_pairs does; ranks come off one window over the
    µ-rounded sims, the mutuality test is a self-join of the k-NN
    edge list on the reversed key — O(N·k), not O(N²), after the
    rank cut."""
    from web_graph_spark.functions.similarity import cosine

    emb = _emb(spark, sf_dir)
    q = emb.select(F.col("vec_id").alias("q_id"),
                   F.col("embedding").alias("q_vec"))
    sims = (emb.crossJoin(F.broadcast(q))
            .filter(F.col("vec_id") != F.col("q_id"))
            .withColumn("sim_ppm",
                        F.floor(cosine(F.col("embedding"),
                                       F.col("q_vec"))
                                * 1000000).cast("long")))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim_ppm"),
                                           F.col("vec_id"))
    knn = (sims.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= 3)
           .select("q_id", "vec_id", "sim_ppm", "rank"))
    a = knn.select(F.col("q_id").alias("id_a"),
                   F.col("vec_id").alias("id_b"),
                   "sim_ppm", F.col("rank").alias("rank_ab"))
    b = knn.select(F.col("q_id").alias("id_b"),
                   F.col("vec_id").alias("id_a"),
                   F.col("rank").alias("rank_ba"))
    return (a.join(b, ["id_a", "id_b"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sim_ppm",
                    F.col("rank_ab").cast("long").alias("rank_ab"),
                    F.col("rank_ba").cast("long").alias("rank_ba")))


def q_events_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type trigrams across per-user sessions: each user's
    stream ordered by (ts, event_id), two leads build the
    3-step pattern, global count per trigram, top-20 with the
    lexicographic tie-break — the path-mining read behind funnel
    DISCOVERY (events_funnel checks a KNOWN order; this surfaces the
    orders worth checking).  The window partitions by user (no
    global sort); the trigram agg is bounded by |types|³; top-20 is
    a TakeOrdered heap."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (ev.select("user_id", "ts", "event_id", "event_type")
         .withColumn("t2", F.lead("event_type", 1).over(w))
         .withColumn("t3", F.lead("event_type", 2).over(w))
         .filter(F.col("t3").isNotNull()))
    return (t.groupBy(F.col("event_type").alias("step1"),
                      F.col("t2").alias("step2"),
                      F.col("t3").alias("step3"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.countDistinct("user_id").cast("long")
                 .alias("n_users"))
            .orderBy(F.desc("n"), "step1", "step2", "step3")
            .limit(20))


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped minimum-cost supplier: for each size-25 part,
    the EUROPE-region supplier(s) achieving the minimum observed unit
    price (ps_supplycost has no partsupp here; unit cost is the
    shipped evidence floor(extprice/qty·100), the same
    float-division-then-floor both engines compute bit-identically).
    The correlated `= (SELECT min …)` is a rank-over-partition with
    ties kept — one window over the already-aggregated
    (part, supplier) table, never the fact scan.  supplier/nation/
    region broadcast; lineitem shuffles once on partkey."""
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    eur = (na.join(F.broadcast(
        spark.read.parquet(f"{sf_dir}/region.parquet")
        .filter(F.col("r_name") == "EUROPE")),
        F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name"))
    s = (spark.read.parquet(f"{sf_dir}/supplier.parquet")
         .join(F.broadcast(eur), F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", "s_name", "n_name"))
    p = (spark.read.parquet(f"{sf_dir}/part.parquet")
         .filter(F.col("p_size") == 25)
         .select("p_partkey", "p_type"))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
          .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
          .withColumn("unit_centi",
                      F.floor(F.col("l_extendedprice")
                              / F.col("l_quantity") * 100)
                      .cast("long")))
    ps = (li.groupBy("p_partkey", "p_type", "s_suppkey", "s_name",
                     "n_name")
          .agg(F.min("unit_centi").cast("long").alias("unit_centi")))
    w = Window.partitionBy("p_partkey").orderBy("unit_centi")
    return (ps.withColumn("rnk", F.rank().over(w))
            .filter(F.col("rnk") == 1)
            .select("p_partkey", "p_type", "s_suppkey", "s_name",
                    "n_name", "unit_centi"))


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped important stock: parts whose shipped value
    exceeds 4/3 of the MEAN part's shipped value (partsupp's stock
    value is re-expressed as the lineitem supply evidence; the
    spec's absolute 0.01%/SF bar — itself scale-dependent by design
    — is re-based to the mean so the query stays selective at every
    SF).  The global (total, n_parts) pair is ONE broadcast scalar
    row; the comparison is division-free decimal(38,0):
    3·value_c·n_parts > 4·total_c  ⇔  share > (4/3)/n_parts — no
    fraction rounding rule crosses engines.  Both aggs shrink:
    fact→|parts|, |parts|→1."""
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .select("l_partkey",
                  F.floor(F.col("l_extendedprice") * 100).cast("long")
                  .alias("val_c")))
    per = (li.groupBy("l_partkey")
           .agg(F.sum("val_c").cast("long").alias("value_c"),
                F.count(F.lit(1)).cast("long").alias("n_lines")))
    tot = per.agg(F.sum("value_c").cast("long").alias("total_c"),
                  F.count(F.lit(1)).cast("long").alias("n_parts"))
    return (per.crossJoin(F.broadcast(tot))
            .filter(F.expr("CAST(value_c AS DECIMAL(38,0)) * 3"
                           " * n_parts"
                           " > CAST(total_c AS DECIMAL(38,0)) * 4"))
            .select(F.col("l_partkey").alias("p_partkey"),
                    "value_c", "n_lines",
                    F.expr("CAST(CAST(value_c AS DECIMAL(38,0))"
                           " * 100000 div total_c AS BIGINT)")
                    .alias("share_ppcm")))


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped shipping-delay audit: per ship year, how many
    LATE lines (shipped > 90 days after the order date — this schema
    has no commit/receipt dates) belong to critical-priority orders
    (1-URGENT/2-HIGH) vs the rest — the spec's priority split kept
    verbatim, its shipmode axis re-expressed as the lateness year.
    orders carries only (key, date, priority) into the one fact
    join; the output is bounded by |years|."""
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .select("o_orderkey", "o_orderdate",
                 F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
                 .alias("is_high")))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .select("l_orderkey", "l_shipdate"))
    late = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .filter(F.col("l_shipdate")
                    > F.date_add(F.col("o_orderdate"), 90)))
    return (late.groupBy(F.year("l_shipdate").cast("long")
                         .alias("ship_year"))
            .agg(F.sum(F.when(F.col("is_high"), 1).otherwise(0))
                 .cast("long").alias("high_line_count"),
                 F.sum(F.when(F.col("is_high"), 0).otherwise(1))
                 .cast("long").alias("low_line_count")))


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped concentrated supplier: suppliers shipping
    more than 3× their FAIR SHARE of a red part's quantity (fair =
    1/n_suppliers-of-that-part; the spec's excess-stock test over
    partsupp availqty is re-expressed as shipped-share concentration,
    and the bar is fair-share-relative so it stays selective at
    every SF — an absolute 50% bar empties as supplier counts
    grow).  Division-free centi-units: sup_qty·n_supp > 3·part_qty.
    Output one row per supplier with how many red parts they
    concentrate.  Shuffle only on (part, supplier) then part; both
    aggs shrink."""
    p = (spark.read.parquet(f"{sf_dir}/part.parquet")
         .filter(F.col("p_name").startswith("red"))
         .select("p_partkey"))
    s = (spark.read.parquet(f"{sf_dir}/supplier.parquet")
         .select("s_suppkey", "s_name"))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
          .select("l_partkey", "l_suppkey",
                  F.floor(F.col("l_quantity") * 100).cast("long")
                  .alias("qty_centi")))
    ps = (li.groupBy("l_partkey", "l_suppkey")
          .agg(F.sum("qty_centi").cast("long").alias("sup_qty")))
    pt = (ps.groupBy(F.col("l_partkey").alias("pk"))
          .agg(F.sum("sup_qty").cast("long").alias("part_qty"),
               F.count(F.lit(1)).cast("long").alias("n_supp")))
    dom = (ps.join(F.broadcast(pt), ps["l_partkey"] == pt["pk"])
           .filter(F.expr("CAST(sup_qty AS DECIMAL(38,0)) * n_supp"
                          " > CAST(part_qty AS DECIMAL(38,0)) * 3")))
    return (dom.groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).cast("long").alias("n_parts_dominated"),
                 F.sum("sup_qty").cast("long").alias("qty_centi"))
            .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
            .select("s_suppkey", "s_name", "n_parts_dominated",
                    "qty_centi"))


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped sole-blame supplier: on orders served by ≥2
    suppliers, count per supplier the orders where THEY shipped late
    (> 90 days after order date — the schema's receiptdate stand-in,
    the Q12 rule) and NO other supplier did — the spec's
    exists/not-exists pair collapsed into one (order, supplier) agg
    + one order-level agg: n_supp ≥ 2 ∧ n_late_supp = 1 ∧ this
    supplier is the late one.  No correlated subqueries survive —
    both sides are shrinking group-bys on orderkey, the join back is
    on the already-small blamed-orders set."""
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .select("o_orderkey", "o_orderdate"))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .select("l_orderkey", "l_suppkey", "l_shipdate"))
    osup = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("l_orderkey", "l_suppkey")
            .agg(F.max((F.col("l_shipdate")
                        > F.date_add(F.col("o_orderdate"), 90))
                       .cast("int")).alias("was_late")))
    per_o = (osup.groupBy(F.col("l_orderkey").alias("ok"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_supp"),
                  F.sum("was_late").cast("long").alias("n_late_supp")))
    blamed = (osup.filter(F.col("was_late") == 1)
              .join(per_o, (osup["l_orderkey"] == per_o["ok"])
                    & (per_o["n_supp"] >= 2)
                    & (per_o["n_late_supp"] == 1)))
    s = (spark.read.parquet(f"{sf_dir}/supplier.parquet")
         .select("s_suppkey", "s_name"))
    return (blamed.groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
            .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
            .orderBy(F.desc("numwait"), "s_suppkey").limit(20)
            .select("s_suppkey", "s_name", "numwait"))


def q_docs_span_transitions(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Modality transition matrix over the interleaved span docs:
    counts of text→text / text→media / media→text / media→media
    adjacencies in offset order within each document, with corpus
    share in basis points — the first-order-Markov summary of the
    interleaving that docs_interleave_runs profiles per-document
    (packing policies key on it: a media→media-heavy corpus packs
    galleries, a high-alternation one packs captioned figures).
    Window partitioned BY DOCUMENT (never global), matrix bounded at
    4 rows, share from a broadcast 1-row total."""
    l = (webgen.links_full_df(spark, sf_dir)
         .select("src_doc_id", "k",
                 F.when(F.col("href").endswith(".png"), "media")
                 .otherwise("text").alias("kind")))
    w = Window.partitionBy("src_doc_id").orderBy("k")
    t = (l.withColumn("next_kind", F.lead("kind").over(w))
         .filter(F.col("next_kind").isNotNull()))
    cells = (t.groupBy(F.col("kind").alias("from_kind"),
                       F.col("next_kind").alias("to_kind"))
             .agg(F.count(F.lit(1)).cast("long").alias("n")))
    tot = cells.agg(F.sum("n").cast("long").alias("total"))
    return (cells.crossJoin(F.broadcast(tot))
            .select("from_kind", "to_kind", "n",
                    F.expr("CAST(CAST(n AS DECIMAL(38,0)) * 10000"
                           " div total AS BIGINT)").alias("share_bp")))


def q_crawl_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL template mining: collapse digit runs in link paths to '#'
    and count per (host, template) — the structural read crawler
    schedulers use to spot calendar traps, pagination families, and
    asset farms BEFORE per-URL heuristics fire (a template with 10^6
    instances and 3 distinct targets is a trap; one with distinct ≈
    instances is a real corpus).  Pure JVM regexp ([0-9]+ means the
    same in Java and RE2 — the bitext \\s lesson applied
    proactively); one fact agg bounded by |templates| ≪ |urls|;
    distinct-target count rides the same shuffle."""
    l = (webgen.links_full_df(spark, sf_dir)
         .select("src_host", "tgt_doc_id",
                 F.regexp_replace(
                     F.regexp_extract("href", r"^(?:https://[^/]+)?(/[^?#]*)",
                                      1),
                     "[0-9]+", "#").alias("template")))
    return (l.filter(F.col("template") != "")
            .groupBy("src_host", "template")
            .agg(F.count(F.lit(1)).cast("long").alias("n_links"),
                 F.countDistinct("tgt_doc_id").cast("long")
                 .alias("n_targets"))
            .withColumn("fanout_bp",
                        F.expr("CAST(CAST(n_targets AS DECIMAL(38,0))"
                               " * 10000 div n_links AS BIGINT)")))


def q_graph_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact in-degree Gini of the admissible link graph — the
    link-economy inequality number behind the degree-mixing curve
    (G→0 egalitarian, G→1 hub-dominated; the single scalar that says
    whether PageRank mass and crawl budgets concentrate).  Computed
    from the DEGREE-CLASS histogram (zero-in-degree pages included
    via the vertex total), grouped-data identity
    Σᵢ i·xᵢ = Σ_k v_k·(c_k·N_{k−1} + c_k(c_k+1)/2) on decimal(38,0),
    G_ppm = (2·S1 − (n+1)·S)·10⁶ div (n·S) — so the only window runs
    over the degree-class dim (bounded by max degree), never the
    vertex stream; every term integer, both engines bit-equal."""
    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id").distinct())
    indeg = (e.groupBy("tgt_doc_id")
             .agg(F.count(F.lit(1)).cast("long").alias("deg")))
    classes = (indeg.groupBy("deg")
               .agg(F.count(F.lit(1)).cast("long").alias("c")))
    n_all = (webgen.pages_df(spark, sf_dir)
             .agg(F.count(F.lit(1)).cast("long").alias("n_all")))
    zero = (classes.agg(F.sum("c").cast("long").alias("n_with"))
            .crossJoin(F.broadcast(n_all))
            .select(F.lit(0).cast("long").alias("deg"),
                    (F.col("n_all") - F.col("n_with")).cast("long")
                    .alias("c")))
    cl = classes.unionByName(zero).filter(F.col("c") > 0)
    w = (Window.orderBy("deg")
         .rowsBetween(Window.unboundedPreceding, -1))
    g = (cl.withColumn("n_before",
                       F.coalesce(F.sum("c").over(w), F.lit(0))
                       .cast("long"))
         .agg(F.sum(F.expr(
             "CAST(deg AS DECIMAL(38,0)) * (c * CAST(n_before AS"
             " DECIMAL(38,0)) + CAST(c AS DECIMAL(38,0)) * (c + 1)"
             " div 2)")).alias("s1"),
             F.sum(F.expr("CAST(deg AS DECIMAL(38,0)) * c"))
             .alias("s"),
             F.sum("c").cast("long").alias("n")))
    return g.select(
        "n", F.col("s").cast("long").alias("total_indeg"),
        F.expr("CAST((2 * s1 - (n + 1) * s) * 1000000"
               " div (CAST(n AS DECIMAL(38,0)) * s) AS BIGINT)")
        .alias("gini_ppm"))


def q_orders_supplier_latency(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Per-supplier delivery performance: lines shipped, late lines
    (> 90 days after order date — the Q12/Q21 rule), the late rate
    in basis points (decimal division), and the revenue carried by
    late lines — the continuous score behind Q21's binary
    sole-blame count (a supplier can be 40% late yet never the SOLE
    late party on a multi-supplier order; this table catches them).
    One orderkey fact join + one supplier-keyed agg; supplier name
    broadcast onto the |suppliers|-bounded result."""
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .select("o_orderkey", "o_orderdate"))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .select("l_orderkey", "l_suppkey", "l_shipdate",
                  F.floor(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 100)
                  .cast("long").alias("rev_c")))
    j = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
         .withColumn("late", (F.col("l_shipdate")
                              > F.date_add(F.col("o_orderdate"), 90))
                     .cast("long")))
    per = (j.groupBy("l_suppkey")
           .agg(F.count(F.lit(1)).cast("long").alias("n_lines"),
                F.sum("late").cast("long").alias("n_late"),
                F.sum(F.col("late") * F.col("rev_c")).cast("long")
                .alias("late_rev_c")))
    s = (spark.read.parquet(f"{sf_dir}/supplier.parquet")
         .select("s_suppkey", "s_name"))
    return (per.join(F.broadcast(s),
                     per["l_suppkey"] == s["s_suppkey"])
            .select("s_suppkey", "s_name", "n_lines", "n_late",
                    F.expr("CAST(CAST(n_late AS DECIMAL(38,0))"
                           " * 10000 div n_lines AS BIGINT)")
                    .alias("late_bp"), "late_rev_c"))


def q_orders_rolling_revenue(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Trailing-7-day revenue per order day, GAP-SAFE: each day's
    revenue is EXPANDED to the 7 calendar days it contributes to
    (an explode over literal offsets 0..6 → plain equi-join on day),
    so a calendar gap shrinks n_days_present instead of silently
    widening a row-based frame to older days — the orders_mom_growth
    honesty rule — AND the join stays a broadcast-hash equi-join
    (a day−6…day range predicate would compile to a nested-loop).
    Exact cents; everything after the first agg is the bounded
    |days| dim, never the order stream."""
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .select(F.to_date("o_orderdate").alias("d"),
                 F.floor(F.col("o_totalprice") * 100).cast("long")
                 .alias("price_c")))
    daily = (o.groupBy("d")
             .agg(F.sum("price_c").cast("long").alias("rev_c"),
                  F.count(F.lit(1)).cast("long").alias("n_orders")))
    contrib = (daily.select(
        F.explode(F.expr("sequence(0, 6)")).alias("off"),
        F.col("d").alias("src_d"), F.col("rev_c").alias("rev2"))
        .select(F.expr("date_add(src_d, off)").alias("d"), "rev2"))
    return (daily.join(contrib.hint("broadcast"), "d")
            .groupBy("d")
            .agg(F.min("rev_c").cast("long").alias("rev_c"),
                 F.min("n_orders").cast("long").alias("n_orders"),
                 F.sum("rev2").cast("long").alias("rev_7d_c"),
                 F.count(F.lit(1)).cast("long").alias("n_days_present"))
            .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                    "rev_c", "n_orders", "rev_7d_c", "n_days_present"))


def q_embed_binary_hamming(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Binary sign-hash retrieval: each vector's first 63 dims pack
    into one BIGINT (bit i = dim i+1 > 0; 63 bits so the code stays
    positive under BOTH engines' two's-complement shifts), and top-5
    per query is ranked by popcount Hamming distance —
    bit_count(xor) — with vec_id tie-break.  The 32×-memory /
    popcount-speed tier production vector stores run UNDER PQ (a
    64-bit code per vector ships 10^10 vectors in 80 GB); the E6
    exact-cosine tier stays the recall yardstick.  Everything is
    integer codegen; the code column becomes the 10^10-scale sort/
    cluster key (bucket by high bits = Hamming-ball locality)."""
    code = sum((F.when(F.element_at(F.col("embedding"), i + 1) > 0,
                       F.lit(1).cast("long") * (1 << i))
                .otherwise(F.lit(0).cast("long"))
                for i in range(63)), F.lit(0).cast("long"))
    emb = _emb(spark, sf_dir).select("vec_id", code.alias("code"))
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("code").alias("q_code")))
    j = (emb.crossJoin(F.broadcast(q))
         .filter(F.col("vec_id") != F.col("q_id"))
         .withColumn("hamming",
                     F.bit_count(F.col("code").bitwiseXOR(
                         F.col("q_code"))).cast("long")))
    w = Window.partitionBy("q_id").orderBy("hamming", "vec_id")
    return (j.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("q_id", F.col("rank").cast("long").alias("rank"),
                    "vec_id", "hamming"))


def q_crawl_depth_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-by-crawl-depth profile: BFS depth from the seed set
    (the E-bfs_depths distances) joined to each page's integer
    quality score, averaged per depth with unreached pages as their
    own bucket (depth −1) — the measurement behind depth-aware
    frontier scheduling (if quality decays with depth, an OPIC/
    quality-prioritized frontier beats FIFO; if it doesn't, FIFO's
    simplicity wins — this table decides).  Depth table is
    |pages|-keyed, quality a codegen projection; one join + a
    |depths|-bounded agg."""
    from web_graph_spark.functions.text import with_quality
    from web_graph_spark.operators.graph_algos import bfs_depths

    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select("src_doc_id", "tgt_doc_id"))
    seeds = (webgen.pages_df(spark, sf_dir)
             .filter(F.col("doc_id") % 97 == 0).select("doc_id"))
    d = bfs_depths(e, seeds)
    q = (with_quality(spark.read.parquet(f"{sf_dir}/documents.parquet"))
         .select("doc_id", F.col("quality_score").alias("quality")))
    return (q.join(d, "doc_id", "left")
            .groupBy(F.coalesce("depth", F.lit(-1)).cast("long")
                     .alias("depth"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_pages"),
                 F.expr("CAST(CAST(sum(quality) AS DECIMAL(38,0))"
                        " div count(*) AS BIGINT)")
                 .alias("avg_quality"),
                 F.min("quality").cast("long").alias("min_quality"),
                 F.max("quality").cast("long").alias("max_quality")))


def q_events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value accrual: users cohorted by first-event
    day, each cohort's cumulative event value (exact cents) at age
    0, 1, 2… days — the money-weighted companion to
    events_retention's activity counts (retention says WHO returns;
    this says what returning is WORTH).  Value lands on the
    (cohort, age) grid with one user-key join; the running total is
    a window over the bounded cohort×age dim (the degree-mixing
    cumulative discipline)."""
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select("user_id", F.to_date("ts").alias("d"),
                  F.floor(F.col("value") * 100).cast("long")
                  .alias("v_c")))
    first = ev.groupBy("user_id").agg(F.min("d").alias("c0"))
    cell = (ev.join(first, "user_id")
            .groupBy(F.col("c0").alias("cohort_day"),
                     F.datediff("d", "c0").cast("long").alias("age"))
            .agg(F.sum("v_c").cast("long").alias("value_c"),
                 F.countDistinct("user_id").cast("long")
                 .alias("n_active")))
    w = (Window.partitionBy("cohort_day").orderBy("age")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (cell.withColumn("cum_value_c",
                            F.sum("value_c").over(w).cast("long"))
            .select(F.date_format("cohort_day", "yyyy-MM-dd")
                    .alias("cohort"), "age", "n_active", "value_c",
                    "cum_value_c"))


def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram over the E18 clustering —
    the corpus-level summary the keep-list query's per-doc rows
    don't give: per cluster size, how many clusters, how many docs,
    and how many the keep-list drops (size − 1 each).  Singleton
    clusters stay in the table (they ARE the dedup-survivor mass).
    Same pair graph + large-star/small-star CC as dedup_clusters;
    the histogram is a second |clusters|-bounded agg on top."""
    from web_graph_spark.functions.dedup import jaccard_pairs
    from web_graph_spark.operators.graph_algos import connected_components

    corpus = _jaccard_corpus(spark, sf_dir)
    pairs = jaccard_pairs(corpus, threshold=0.5, n=3)
    comp = connected_components(corpus.select("doc_id"), pairs,
                                id_col="doc_id", src="id_a", dst="id_b")
    sizes = (comp.groupBy("component")
             .agg(F.count(F.lit(1)).cast("long").alias("cluster_size")))
    return (sizes.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
            .withColumn("n_docs",
                        (F.col("cluster_size") * F.col("n_clusters"))
                        .cast("long"))
            .withColumn("n_dropped",
                        ((F.col("cluster_size") - 1)
                         * F.col("n_clusters")).cast("long")))


def q_crawl_fairness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jain fairness index, exact to the ppm, of (a) the raw per-host
    page distribution and (b) the per-shard load after the
    E-host_assign hex16 % 4 sharding — J = (Σx)²·10⁶ div (n·Σx²) on
    decimal(38,0), the scheduling-fairness number that quantifies
    what shard_skew/edge_cut show structurally (J = 1e6 is perfectly
    even; J = 1e6/n is one-host-takes-all).  Hash sharding should
    pull J far toward 1e6 on this skewed host law (h00 ≈ 30% of
    pages) — the table shows by exactly how much.  Two bounded aggs
    per row; nothing bigger than |hosts| is ever held."""
    from web_graph_spark.operators.graph_algos import _hex16

    hosts = (webgen.pages_df(spark, sf_dir)
             .groupBy("host")
             .agg(F.count(F.lit(1)).cast("long").alias("x")))
    shards = (hosts.withColumn("shard", (_hex16(F.col("host")) % 4)
                               .cast("long"))
              .groupBy("shard")
              .agg(F.sum("x").cast("long").alias("x")))
    jain = ("CAST(CAST(sum(x) AS DECIMAL(38,0)) * sum(x) * 1000000"
            " div (count(*) * sum(CAST(x AS DECIMAL(38,0)) * x))"
            " AS BIGINT)")
    a = hosts.agg(F.lit("host_pages").alias("level"),
                  F.count(F.lit(1)).cast("long").alias("n"),
                  F.sum("x").cast("long").alias("total"),
                  F.expr(jain).alias("jain_ppm"))
    b = shards.agg(F.lit("shard_load").alias("level"),
                   F.count(F.lit(1)).cast("long").alias("n"),
                   F.sum("x").cast("long").alias("total"),
                   F.expr(jain).alias("jain_ppm"))
    return a.unionAll(b)


def q_crawl_seen_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seen-set capacity plan: for the corpus's distinct admissible
    URL count and each target false-positive rate, the bloom-tier
    bits/key, hash count, total bytes, and per-slab bytes at the
    32-slab layout — the sizing table an operator reads BEFORE
    choosing an fpp at 10^10 keys (IncrementalBloomSeen sizes its
    slabs by the same formulas).  The Bloom constants
    m/n = −ln p/ln²2 and k = (m/n)·ln 2 enter as exact integer
    literals per fpp row (the Benford fixed-literal discipline — no
    runtime logs): bits/key in milli-bits is the CEILING of
    1000·(−ln p)/ln²2 (9585.06, 14377.59, 19170.12 → 9586, 14378,
    19171) and k rounds to NEAREST ((m/n)·ln 2 = 6.64, 9.97, 13.29 →
    7, 10, 13), so the whole table is integer arithmetic off ONE
    distinct-count scan."""
    fpp = spark.createDataFrame(
        [("1e-2", 9586, 7), ("1e-3", 14378, 10), ("1e-4", 19171, 13)],
        "fpp string, bits_per_key_milli long, k_hashes long")
    n = (_links_canon(spark, sf_dir)
         .filter(F.col("admissible"))
         .agg(F.countDistinct("check_id").cast("long")
              .alias("n_keys")))
    return (F.broadcast(n).crossJoin(fpp)
            .withColumn("m_bits",
                        F.expr("CAST(CAST(n_keys AS DECIMAL(38,0))"
                               " * bits_per_key_milli div 1000"
                               " AS BIGINT)"))
            .withColumn("total_bytes",
                        F.expr("m_bits div 8").cast("long"))
            .withColumn("slab_bytes",
                        F.expr("m_bits div 8 div 32").cast("long"))
            .select("fpp", "n_keys", "bits_per_key_milli", "k_hashes",
                    "m_bits", "total_bytes", "slab_bytes"))


def q_orders_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration Herfindahl index per part brand, exact
    to the ppm: HHI = Σ share_i² over each brand's supplier shipped
    quantities, computed division-free as
    Σ qty_i²·10⁶ div (Σqty)² on decimal(38,0) — the
    market-concentration read (HHI > 0.25 ≈ DOJ 'highly
    concentrated') beside tpch_q20's per-part dominance flag.  Two
    shrinking aggs (fact→(brand, supplier)→brand); the squared sum
    never leaves the JVM."""
    p = (spark.read.parquet(f"{sf_dir}/part.parquet")
         .select("p_partkey", "p_brand"))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
          .select("p_brand", "l_suppkey",
                  F.floor(F.col("l_quantity") * 100).cast("long")
                  .alias("qty_centi")))
    bs = (li.groupBy("p_brand", "l_suppkey")
          .agg(F.sum("qty_centi").cast("long").alias("q")))
    return (bs.groupBy("p_brand")
            .agg(F.count(F.lit(1)).cast("long").alias("n_suppliers"),
                 F.sum("q").cast("long").alias("total_centi"),
                 F.expr("CAST(sum(CAST(q AS DECIMAL(38,0)) * q)"
                        " * 1000000 div (CAST(sum(q) AS DECIMAL(38,0))"
                        " * sum(q)) AS BIGINT)").alias("hhi_ppm")))


def q_events_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-user accrual curve: per day the count of users whose FIRST
    event falls on that day, plus the cumulative total — the
    acquisition read DAU (events_active_users) cannot give because
    it re-counts returners.  First-seen = one user-key min; the daily
    agg is |days|-bounded; the running total is a window over the
    DAY DIM (the degree-mixing cumulative discipline — never the
    event stream)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    first = (ev.groupBy("user_id")
             .agg(F.min(F.to_date("ts")).alias("d")))
    daily = (first.groupBy("d")
             .agg(F.count(F.lit(1)).cast("long").alias("new_users")))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (daily
            .withColumn("cum_users",
                        F.sum("new_users").over(w).cast("long"))
            .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                    "new_users", "cum_users"))


def q_graph_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-hop out-reach per page: |{w : v→u→w, w ≠ v}| plus the
    1-hop out-degree — the exact companion E94's HyperBall
    ESTIMATES at 3 hops (the same exact-beside-sketch pairing as
    events_hll_distinct / events_quantiles).  One self-join of the
    deduped edge list on the middle vertex + one distinct count per
    source; the fan-out is Σ d_in(u)·d_out(u), the quantity the
    docstring's skew warning is about — at 10^10 edges a hub u
    explodes the join, which is WHY the sketch tier exists; run the
    exact tier on degree-capped or sampled slices there.  Top-50 by
    reach with id tie-break keeps the contract row bounded."""
    e = (webgen.links_full_df(spark, sf_dir)
         .filter(F.col("k") % 4 != 0)
         .select(F.col("src_doc_id").alias("u"),
                 F.col("tgt_doc_id").alias("v"))
         .filter(F.col("u") != F.col("v"))
         .distinct())
    e2 = e.select(F.col("u").alias("mid"), F.col("v").alias("w"))
    two = (e.join(e2, e["v"] == e2["mid"])
           .filter(F.col("w") != F.col("u"))
           .groupBy("u")
           .agg(F.countDistinct("w").cast("long").alias("reach_2")))
    deg = (e.groupBy("u")
           .agg(F.countDistinct("v").cast("long").alias("out_deg")))
    return (deg.join(two, "u", "left")
            .select(F.col("u").alias("doc_id"), "out_deg",
                    F.coalesce("reach_2", F.lit(0)).cast("long")
                    .alias("reach_2"))
            .orderBy(F.desc("reach_2"), "doc_id").limit(50))


def q_orders_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue trend: per calendar month the exact
    cent revenue, order count, and growth vs the previous month in
    basis points (decimal(38,0) division; NULL for the first month
    and after any gap — a gap month is absent, so lag() would
    silently compare across it; the join on m−1 keeps the NULL
    honest).  The fact scan aggregates straight to the |months| dim;
    everything after is dim-sized."""
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .select((F.year("o_orderdate") * 12
                  + F.month("o_orderdate")).cast("long").alias("m"),
                 F.floor(F.col("o_totalprice") * 100).cast("long")
                 .alias("price_c")))
    per = (o.groupBy("m")
           .agg(F.sum("price_c").cast("long").alias("revenue_c"),
                F.count(F.lit(1)).cast("long").alias("n_orders")))
    prev = per.select((F.col("m") + 1).alias("m"),
                      F.col("revenue_c").alias("prev_c"))
    return (per.join(prev, "m", "left")
            .select(F.concat(
                F.lpad(F.expr("CAST((m - 1) div 12 AS STRING)"), 4, "0"),
                F.lit("-"),
                F.lpad(F.expr("CAST((m - 1) % 12 + 1 AS STRING)"), 2,
                       "0")).alias("month"),
                "revenue_c", "n_orders",
                F.expr("CAST((CAST(revenue_c AS DECIMAL(38,0))"
                       " - prev_c) * 10000 div prev_c AS BIGINT)")
                .alias("growth_bp")))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "crawl_canonicalize": q_crawl_canonicalize,
        "crawl_admission_stats": q_crawl_admission_stats,
        "crawl_seen_antijoin": q_crawl_seen_antijoin,
        "crawl_bloom_fpp": q_crawl_bloom_fpp,
        "crawl_canonical_cluster": q_crawl_canonical_cluster,
        "crawl_frontier_wave": q_crawl_frontier_wave,
        "crawl_media_frontier": q_crawl_media_frontier,
        "docs_span_digest": q_docs_span_digest,
        "docs_mm_pack": q_docs_mm_pack,
        "docs_span_align": q_docs_span_align,
        "docs_interleave_runs": q_docs_interleave_runs,
        "docs_mm_pack_sweep": q_docs_mm_pack_sweep,
        "crawl_warc_export": q_crawl_warc_export,
        "crawl_wet_export": q_crawl_wet_export,
        "crawl_cdx_index": q_crawl_cdx_index,
        "crawl_warc_revisit": q_crawl_warc_revisit,
        "crawl_sitemap_discover": q_crawl_sitemap_discover,
        "crawl_host_assign": q_crawl_host_assign,
        "crawl_trap_stats": q_crawl_trap_stats,
        "crawl_domain_group": q_crawl_domain_group,
        "crawl_robots_parse": q_crawl_robots_parse,
        "crawl_sitemap_ingest": q_crawl_sitemap_ingest,
        "crawl_sitemap_coverage": q_crawl_sitemap_coverage,
        "crawl_robots_wildcard": q_crawl_robots_wildcard,
        "crawl_robots_purge": q_crawl_robots_purge,
        "crawl_shard_skew": q_crawl_shard_skew,
        "crawl_fair_share": q_crawl_fair_share,
        "crawl_ip_budget": q_crawl_ip_budget,
        "crawl_byte_budget": q_crawl_byte_budget,
        "crawl_join_plan": q_crawl_join_plan,
        "crawl_host_scorecard": q_crawl_host_scorecard,
        "crawl_wfq_order": q_crawl_wfq_order,
        "crawl_connection_plan": q_crawl_connection_plan,
        "crawl_dns_cache": q_crawl_dns_cache,
        "crawl_revalidation": q_crawl_revalidation,
        "crawl_drain_plan": q_crawl_drain_plan,
        "graph_lang_matrix": q_graph_lang_matrix,
        "crawl_robots_eval": q_crawl_robots_eval,
        "crawl_budget_derive": q_crawl_budget_derive,
        "crawl_budget_allocate": q_crawl_budget_allocate,
        "crawl_politeness_schedule": q_crawl_politeness_schedule,
        "crawl_wave_cap": q_crawl_wave_cap,
        "crawl_recrawl_schedule": q_crawl_recrawl_schedule,
        "crawl_backoff_budget": q_crawl_backoff_budget,
        "crawl_snapshot_delta": q_crawl_snapshot_delta,
        "crawl_redirect_resolve": q_crawl_redirect_resolve,
        "crawl_priority_rank": q_crawl_priority_rank,
        "graph_links_from": q_graph_links_from,
        "graph_links_to": q_graph_links_to,
        "graph_page_composite": q_graph_page_composite,
        "graph_counts": q_graph_counts,
        "graph_degrees": q_graph_degrees,
        "graph_pages_for_host": q_graph_pages_for_host,
        "graph_host_graph": q_graph_host_graph,
        "graph_reciprocity": q_graph_reciprocity,
        "graph_anchor_text": q_graph_anchor_text,
        "graph_cocitation": q_graph_cocitation,
        "graph_link_predict": q_graph_link_predict,
        "graph_components": q_graph_components,
        "graph_triangles": q_graph_triangles,
        "graph_bfs_depths": q_graph_bfs_depths,
        "graph_diameter": q_graph_diameter,
        "graph_degree_mixing": q_graph_degree_mixing,
        "graph_motifs": q_graph_motifs,
        "graph_host_simrank": q_graph_host_simrank,
        "graph_pagerank": q_graph_pagerank,
        "graph_hits": q_graph_hits,
        "graph_scc": q_graph_scc,
        "graph_bowtie": q_graph_bowtie,
        "graph_label_prop": q_graph_label_prop,
        "graph_modularity": q_graph_modularity,
        "graph_ppr": q_graph_ppr,
        "graph_trustrank": q_graph_trustrank,
        "graph_conductance": q_graph_conductance,
        "graph_cc_incremental": q_graph_cc_incremental,
        "graph_robustness": q_graph_robustness,
        "crawl_reach_curve": q_crawl_reach_curve,
        "graph_opic": q_graph_opic,
        "graph_salsa": q_graph_salsa,
        "graph_kcore": q_graph_kcore,
        "graph_densest": q_graph_densest,
        "graph_random_walks": q_graph_random_walks,
        "graph_hyperball": q_graph_hyperball,
        "graph_harmonic": q_graph_harmonic,
        "graph_neighborhood": q_graph_neighborhood,
        "graph_ktruss": q_graph_ktruss,
        "crawl_zorder_key": q_crawl_zorder_key,
        "crawl_front_coding": q_crawl_front_coding,
        "graph_sssp": q_graph_sssp,
        "text_token_stats": q_text_token_stats,
        "text_quality": q_text_quality,
        "text_readability": q_text_readability,
        "text_script_mix": q_text_script_mix,
        "text_textrank": q_text_textrank,
        "corpus_source_reputation": q_corpus_source_reputation,
        "text_lang_id": q_text_lang_id,
        "text_repetition": q_text_repetition,
        "text_fingerprint": q_text_fingerprint,
        "text_winnowing": q_text_winnowing,
        "text_lang_confusion": q_text_lang_confusion,
        "text_code_detect": q_text_code_detect,
        "text_lexicon_filter": q_text_lexicon_filter,
        "text_bitext_candidates": q_text_bitext_candidates,
        "text_mojibake": q_text_mojibake,
        "text_search_topk": q_text_search_topk,
        "text_bm25_topk": q_text_bm25_topk,
        "text_retrieval_eval": q_text_retrieval_eval,
        "text_gopher_rules": q_text_gopher_rules,
        "text_filter_calibration": q_text_filter_calibration,
        "text_quality_auc": q_text_quality_auc,
        "text_hashed_classifier": q_text_hashed_classifier,
        "text_keyphrases": q_text_keyphrases,
        "text_inverted_index": q_text_inverted_index,
        "text_phrase_search": q_text_phrase_search,
        "text_cooccurrence": q_text_cooccurrence,
        "text_doc_similarity": q_text_doc_similarity,
        "text_pii_scrub": q_text_pii_scrub,
        "text_boilerplate": q_text_boilerplate,
        "corpus_curate": q_corpus_curate,
        "corpus_sample_mix": q_corpus_sample_mix,
        "corpus_stratified_sample": q_corpus_stratified_sample,
        "corpus_lang_mix": q_corpus_lang_mix,
        "corpus_importance": q_corpus_importance,
        "corpus_perplexity": q_corpus_perplexity,
        "corpus_epoch_plan": q_corpus_epoch_plan,
        "corpus_fertility": q_corpus_fertility,
        "corpus_pps_sample": q_corpus_pps_sample,
        "corpus_bpe_merges": q_corpus_bpe_merges,
        "corpus_bpe_encode": q_corpus_bpe_encode,
        "corpus_shuffle_shards": q_corpus_shuffle_shards,
        "corpus_decontaminate": q_corpus_decontaminate,
        "corpus_line_dedup": q_corpus_line_dedup,
        "corpus_span_dedup": q_corpus_span_dedup,
        "corpus_holdout_split": q_corpus_holdout_split,
        "corpus_pack_sequences": q_corpus_pack_sequences,
        "corpus_packing_sweep": q_corpus_packing_sweep,
        "corpus_chunk_overlap": q_corpus_chunk_overlap,
        "dedup_exact_groups": q_dedup_exact_groups,
        "dedup_savings": q_dedup_savings,
        "dedup_source_overlap": q_dedup_source_overlap,
        "dedup_mix_shift": q_dedup_mix_shift,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "corpus_novelty": q_corpus_novelty,
        "corpus_heaps": q_corpus_heaps,
        "dedup_prefix_jaccard": q_dedup_prefix_jaccard,
        "dedup_containment": q_dedup_containment,
        "dedup_clusters": q_dedup_clusters,
        "dedup_url_params": q_dedup_url_params,
        "dedup_mirror_hosts": q_dedup_mirror_hosts,
        "dedup_url_editdist": q_dedup_url_editdist,
        "dedup_minhash": q_dedup_minhash,
        "dedup_lsh_curve": q_dedup_lsh_curve,
        "dedup_minhash_incremental": q_dedup_minhash_incremental,
        "dedup_simhash": q_dedup_simhash,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_filtered_topk": q_ann_filtered_topk,
        "embed_sq8_recall": q_embed_sq8_recall,
        "ann_recall_audit": q_ann_recall_audit,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_pq_topk": q_ann_pq_topk,
        "ann_ivfpq_topk": q_ann_ivfpq_topk,
        "ann_ivfpq_index_topk": q_ann_ivfpq_index_topk,
        "ann_ivf_trained_topk": q_ann_ivf_trained_topk,
        "embed_near_dup_pairs": q_embed_near_dup_pairs,
        "embed_semdedup": q_embed_semdedup,
        "embed_kmeans": q_embed_kmeans,
        "embed_kcenter": q_embed_kcenter,
        "media_features": q_media_features,
        "media_decode": q_media_decode,
        "media_dedup": q_media_dedup,
        "media_phash": q_media_phash,
        "media_frames": q_media_frames,
        "media_resize": q_media_resize,
        "media_aphash": q_media_aphash,
        "media_vad": q_media_vad,
        "events_sessionize": q_events_sessionize,
        "events_asof_join": q_events_asof_join,
        "events_quantiles": q_events_quantiles,
        "events_hourly": q_events_hourly,
        "events_seasonal_index": q_events_seasonal_index,
        "events_dispersion": q_events_dispersion,
        "events_active_users": q_events_active_users,
        "events_markov_stationary": q_events_markov_stationary,
        "events_heavy_hitters": q_events_heavy_hitters,
        "events_range_join": q_events_range_join,
        "events_rollup": q_events_rollup,
        "events_hll_distinct": q_events_hll_distinct,
        "events_hll_merge": q_events_hll_merge,
        "sketch_kmv_overlap": q_sketch_kmv_overlap,
        "dedup_cdc_chunks": q_dedup_cdc_chunks,
        "crawl_scd2_history": q_crawl_scd2_history,
        "events_stream_join_audit": q_events_stream_join_audit,
        "corpus_bigram_lm": q_corpus_bigram_lm,
        "corpus_kneser_ney": q_corpus_kneser_ney,
        "corpus_skyline": q_corpus_skyline,
        "crawl_cdc_apply": q_crawl_cdc_apply,
        "events_quantiles_unbounded": q_events_quantiles_unbounded,
        "events_interval_coalesce": q_events_interval_coalesce,
        "events_gini": q_events_gini,
        "graph_stress": q_graph_stress,
        "graph_widest": q_graph_widest,
        "events_hll_sliding": q_events_hll_sliding,
        "corpus_compaction_plan": q_corpus_compaction_plan,
        "orders_benford": q_orders_benford,
        "events_ams_f2": q_events_ams_f2,
        "events_twap": q_events_twap,
        "dedup_blocking_quality": q_dedup_blocking_quality,
        "events_division": q_events_division,
        "graph_assortativity": q_graph_assortativity,
        "events_sliding_window": q_events_sliding_window,
        "events_watermark_audit": q_events_watermark_audit,
        "events_anomaly": q_events_anomaly,
        "events_funnel": q_events_funnel,
        "events_attribution": q_events_attribution,
        "events_transitions": q_events_transitions,
        "events_conformance": q_events_conformance,
        "events_disorder": q_events_disorder,
        "events_cep_pattern": q_events_cep_pattern,
        "events_abtest": q_events_abtest,
        "events_outages": q_events_outages,
        "events_rfm": q_events_rfm,
        "events_retention": q_events_retention,
        "events_qdigest": q_events_qdigest,
        "corpus_merkle_diff": q_corpus_merkle_diff,
        "graph_mis": q_graph_mis,
        "graph_tiers": q_graph_tiers,
        "graph_gap_audit": q_graph_gap_audit,
        "crawl_slot_assign": q_crawl_slot_assign,
        "crawl_aimd_budgets": q_crawl_aimd_budgets,
        "events_decay_score": q_events_decay_score,
        "events_holt_forecast": q_events_holt_forecast,
        "events_cusum": q_events_cusum,
        "events_bot_regularity": q_events_bot_regularity,
        "crawl_delay_compliance": q_crawl_delay_compliance,
        "crawl_slo_burn": q_crawl_slo_burn,
        "text_vocab_drift": q_text_vocab_drift,
        "text_rrf_topk": q_text_rrf_topk,
        "embed_matryoshka": q_embed_matryoshka,
        "embed_quantize": q_embed_quantize,
        "embed_outliers": q_embed_outliers,
        "embed_cluster_eval": q_embed_cluster_eval,
        "embed_pca": q_embed_pca,
        "embed_label_margin": q_embed_label_margin,
        "media_sniff": q_media_sniff,
        "corpus_zonemap_audit": q_corpus_zonemap_audit,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q6": q_tpch_q6,
        "docs_asset_reuse": q_docs_asset_reuse,
        "corpus_profile": q_corpus_profile,
        "corpus_zipf": q_corpus_zipf,
        "events_mann_kendall": q_events_mann_kendall,
        "events_autocorr": q_events_autocorr,
        "graph_spectral": q_graph_spectral,
        "text_filter_agreement": q_text_filter_agreement,
        "corpus_encoding_plan": q_corpus_encoding_plan,
        "corpus_filter_funnel": q_corpus_filter_funnel,
        "embed_triplets": q_embed_triplets,
        "media_audio_dup": q_media_audio_dup,
        "tpch_q4": q_tpch_q4,
        "docs_span_gaps": q_docs_span_gaps,
        "events_count_min": q_events_count_min,
        "embed_mips_bias": q_embed_mips_bias,
        "embed_jl_audit": q_embed_jl_audit,
        "orders_basket_rules": q_orders_basket_rules,
        "events_interarrival": q_events_interarrival,
        "orders_pareto": q_orders_pareto,
        "tpch_q10": q_tpch_q10,
        "events_conversion_lag": q_events_conversion_lag,
        "events_anomaly_mad": q_events_anomaly_mad,
        "graph_katz": q_graph_katz,
        "events_chi2_hour": q_events_chi2_hour,
        "crawl_shard_rebalance": q_crawl_shard_rebalance,
        "orders_fk_audit": q_orders_fk_audit,
        "graph_edge_cut": q_graph_edge_cut,
        "docs_span_transitions": q_docs_span_transitions,
        "crawl_url_templates": q_crawl_url_templates,
        "graph_two_hop": q_graph_two_hop,
        "orders_mom_growth": q_orders_mom_growth,
        "orders_hhi": q_orders_hhi,
        "crawl_seen_sizing": q_crawl_seen_sizing,
        "dedup_cluster_sizes": q_dedup_cluster_sizes,
        "crawl_depth_quality": q_crawl_depth_quality,
        "embed_binary_hamming": q_embed_binary_hamming,
        "orders_rolling_revenue": q_orders_rolling_revenue,
        "orders_supplier_latency": q_orders_supplier_latency,
        "graph_degree_gini": q_graph_degree_gini,
        "events_cohort_ltv": q_events_cohort_ltv,
        "crawl_fairness_index": q_crawl_fairness_index,
        "events_new_users": q_events_new_users,
        "orders_cohort_retention": q_orders_cohort_retention,
        "embed_reciprocal_nn": q_embed_reciprocal_nn,
        "events_trigrams": q_events_trigrams,
        "tpch_q2": q_tpch_q2,
        "tpch_q5": q_tpch_q5,
        "tpch_q7": q_tpch_q7,
        "tpch_q11": q_tpch_q11,
        "tpch_q12": q_tpch_q12,
        "tpch_q20": q_tpch_q20,
        "tpch_q21": q_tpch_q21,
        "tpch_q8": q_tpch_q8,
        "tpch_q9": q_tpch_q9,
        "tpch_q13": q_tpch_q13,
        "tpch_q14": q_tpch_q14,
        "tpch_q15": q_tpch_q15,
        "tpch_q16": q_tpch_q16,
        "tpch_q17": q_tpch_q17,
        "tpch_q18": q_tpch_q18,
        "tpch_q19": q_tpch_q19,
        "tpch_q22": q_tpch_q22,
        "topk_orders_per_cust": q_topk_orders_per_cust,
    }


def _mis_unrolled_sql(rounds: int = 6) -> str:
    """Luby MIS (E135) unrolled to plain SQL — per round: md5-string
    priorities, neighbor-min, vacuous-win for isolated vertices,
    winners + neighborhoods removed; mirrors graph_algos.luby_mis
    exactly."""
    parts = ["""
, e0 AS MATERIALIZED (
  SELECT DISTINCT least(src_doc_id, tgt_doc_id) AS u,
         greatest(src_doc_id, tgt_doc_id) AS v
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
),
v0 AS MATERIALIZED (SELECT DISTINCT doc_id AS id FROM web_pages)"""]
    sels = []
    for r in range(rounds):
        parts.append(f""",
und{r} AS MATERIALIZED (SELECT u AS a, v AS b FROM e{r}
           UNION ALL SELECT v AS a, u AS b FROM e{r}),
p{r} AS MATERIALIZED (SELECT id, md5('{r}:' || CAST(id AS VARCHAR)) AS p
         FROM v{r}),
nm{r} AS MATERIALIZED (SELECT und{r}.a AS id, min(p2.p) AS minp
          FROM und{r} JOIN p{r} p2 ON p2.id = und{r}.b GROUP BY 1),
w{r} AS MATERIALIZED (SELECT p{r}.id FROM p{r} LEFT JOIN nm{r} USING (id)
         WHERE nm{r}.minp IS NULL OR p{r}.p < nm{r}.minp),
rm{r} AS MATERIALIZED (SELECT id FROM w{r}
          UNION
          SELECT und{r}.b AS id FROM und{r}
          JOIN w{r} ON w{r}.id = und{r}.a),
v{r + 1} AS MATERIALIZED (SELECT id FROM v{r}
             WHERE id NOT IN (SELECT id FROM rm{r})),
e{r + 1} AS MATERIALIZED (SELECT u, v FROM e{r}
             WHERE u NOT IN (SELECT id FROM rm{r})
               AND v NOT IN (SELECT id FROM rm{r}))""")
        sels.append(f"SELECT id AS doc_id, {r} AS round FROM w{r}")
    return " ".join(parts) + "\n" + " UNION ALL ".join(sels)


def oracle_sql() -> dict[str, str]:
    canon_path = ("CASE WHEN l.k % 4 = 0 THEN '/img' || CAST(l.tgt_doc_id AS"
                  " VARCHAR) || '.png' ELSE l.tgt_path END")
    return {
        "crawl_canonicalize": _oracle(f"""
SELECT l.src_doc_id, l.k, l.href, l.tgt_host AS host,
       {canon_path} AS path,
       l.k % 4 <> 0 AS admissible,
       md5(l.tgt_host || {canon_path}) AS check_id
FROM web_links_full l"""),
        "crawl_admission_stats": _oracle("""
SELECT tgt_host AS host, k % 4 <> 0 AS admissible, count(*) AS n
FROM web_links_full GROUP BY 1, 2"""),
        "crawl_bloom_fpp": _oracle(_bloom_fpp_sql(
            ((1024, 3), (2048, 5), (4096, 7)))),
        "dedup_lsh_curve": _lsh_curve_sql(),
        "crawl_host_scorecard": _oracle(
            _spam_chain_sql(rounds=4, scale=10 ** 12,
                            flag_ppm=500_000) + f""",
qd AS (
  SELECT doc_id, {_quality_score_sql()} AS quality_score
  FROM documents),
inadm AS (
  SELECT src_host AS host, count(*) AS n_links,
         sum(CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END) AS n_inadm
  FROM web_links_full GROUP BY 1),
per AS (
  SELECT p.host, count(*) AS n_pages,
         sum(q.quality_score) // count(*) AS avg_quality,
         sum(s.spam_mass_ppm) // count(*) AS avg_spam_ppm
  FROM web_pages p
  JOIN spam s ON s.doc_id = p.doc_id
  JOIN qd q ON q.doc_id = p.doc_id
  GROUP BY 1),
sc AS (
  SELECT per.host, CAST(per.n_pages AS BIGINT) AS n_pages,
         CAST(per.avg_quality AS BIGINT) AS avg_quality,
         CAST(per.avg_spam_ppm AS BIGINT) AS avg_spam_ppm,
         CAST(coalesce(i.n_inadm, 0) * 10000
              // greatest(coalesce(i.n_links, 0), 1) AS BIGINT)
             AS inadm_bp
  FROM per LEFT JOIN inadm i ON i.host = per.host)
SELECT host, n_pages, avg_quality, avg_spam_ppm, inadm_bp,
       CAST(avg_quality + (1000000 - avg_spam_ppm) // 200
            - inadm_bp // 2 AS BIGINT) AS score,
       CASE WHEN avg_quality + (1000000 - avg_spam_ppm) // 200
                 - inadm_bp // 2 >= 2050 THEN 'prime'
            WHEN avg_quality + (1000000 - avg_spam_ppm) // 200
                 - inadm_bp // 2 >= 1700 THEN 'watch'
            ELSE 'demote' END AS tier
FROM sc""", seeds=True),
        "crawl_join_plan": _oracle(
            _join_profile_sql("pages.host_tight", "web_pages", "host",
                              broadcast_max=100)
            + "\nUNION ALL" +
            _join_profile_sql(
                "links.tgt_doc_id",
                "(SELECT * FROM web_links_full WHERE k % 4 <> 0)",
                "tgt_doc_id", broadcast_max=100)
            + "\nUNION ALL" +
            _join_profile_sql("pages.host", "web_pages", "host",
                              broadcast_max=10_000)),
        "crawl_canonical_cluster": """
WITH RECURSIVE n_row AS (SELECT count(*) AS n FROM documents),
decl AS (
  SELECT doc_id AS src,
         CASE WHEN doc_id % 9 = 1 AND doc_id >= 1 THEN doc_id - 1
              WHEN doc_id % 9 = 2 AND doc_id >= 2 THEN doc_id - 1
              WHEN doc_id % 100 = 77
                   AND doc_id + 1 < (SELECT n FROM n_row)
                   THEN doc_id + 1
              WHEN doc_id % 100 = 78 THEN doc_id - 1 END AS dst
  FROM documents),
de AS (SELECT src, dst FROM decl WHERE dst IS NOT NULL),
verts AS (SELECT src AS id FROM de UNION SELECT dst FROM de),
und AS (SELECT src AS a, dst AS b FROM de
        UNION SELECT dst AS a, src AS b FROM de),
reach(node, lbl) AS (
  SELECT id, id FROM verts
  UNION
  SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.node
),
comp AS (SELECT node AS doc_id, min(lbl) AS canonical_id
         FROM reach GROUP BY 1),
sz AS (SELECT canonical_id, count(*) AS cluster_size
       FROM comp GROUP BY 1)
SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
       CAST(c.canonical_id AS BIGINT) AS canonical_id,
       CAST(sz.cluster_size AS BIGINT) AS cluster_size,
       EXISTS (SELECT 1 FROM de WHERE de.src = c.doc_id) AS declares,
       EXISTS (SELECT 1 FROM de WHERE de.dst = c.doc_id) AS is_target,
       EXISTS (SELECT 1 FROM de WHERE de.src = c.doc_id)
           AND EXISTS (SELECT 1 FROM de WHERE de.dst = c.doc_id)
           AS conflict
FROM comp c JOIN sz USING (canonical_id)
WHERE sz.cluster_size > 1""",
        "crawl_seen_antijoin": _oracle("""
SELECT DISTINCT tgt_check_id AS check_id, tgt_host AS host,
       tgt_path AS path
FROM web_links_full l
WHERE l.k % 4 <> 0
  AND NOT EXISTS (SELECT 1 FROM web_pages p
                  WHERE p.doc_id % 3 = 0 AND p.check_id = l.tgt_check_id)"""),
        "crawl_frontier_wave": _oracle("""
, first AS (
  SELECT tgt_doc_id, tgt_check_id, min(src_doc_id * 8 + k) AS ord
  FROM web_links_full l
  WHERE src_doc_id IN (SELECT seed_seq FROM web_seeds)
    AND k % 4 <> 0
    AND tgt_doc_id NOT IN (SELECT seed_seq FROM web_seeds)
  GROUP BY tgt_doc_id, tgt_check_id
)
SELECT CAST(row_number() OVER (ORDER BY ord) - 1 AS INTEGER) AS seq,
       tgt_doc_id AS doc_id, tgt_check_id AS check_id
FROM first""", seeds=True),
        "crawl_media_frontier": _oracle("""
, m AS (
  SELECT tgt_host AS host,
         '/img' || CAST(tgt_doc_id AS VARCHAR) || '.png' AS path,
         CAST(count(*) AS BIGINT) AS n_refs,
         CAST(count(DISTINCT src_doc_id) AS BIGINT) AS n_referrers,
         CAST(min(src_doc_id * 8 + k) AS BIGINT) AS first_ref_ord
  FROM web_links_full WHERE k % 4 = 0
  GROUP BY 1, 2
)
SELECT host, path, n_refs, n_referrers, first_ref_ord,
       md5(host || path) AS media_id
FROM m"""),
        "docs_span_digest": _oracle("""
SELECT p.check_id,
       CAST(count(l.k) AS BIGINT) AS n_spans,
       md5(coalesce(string_agg(
             'link' || '|' || l.anchor || '|' || l.href || '|'
                    || CAST(l.k AS VARCHAR),
             chr(31) ORDER BY l.k), '')) AS spans_digest
FROM web_pages p
LEFT JOIN web_links_full l ON l.src_doc_id = p.doc_id
GROUP BY 1"""),
        "docs_mm_pack": _oracle_recursive("""
, sp AS (
  SELECT p.check_id,
         row_number() OVER (PARTITION BY p.check_id
                            ORDER BY l.k) AS i,
         (l.href LIKE '%.png') AS is_media,
         CAST(CASE WHEN l.href LIKE '%.png' THEN 50
                   ELSE strlen(l.anchor) END AS BIGINT) AS c
  FROM web_pages p
  JOIN web_links_full l ON l.src_doc_id = p.doc_id
),
ns AS (SELECT check_id, max(i) AS n FROM sp GROUP BY 1),
fold AS (
  SELECT check_id, 0 AS i, CAST(0 AS BIGINT) AS pos,
         CAST(0 AS BIGINT) AS pad, CAST(0 AS BIGINT) AS media,
         CAST(0 AS BIGINT) AS txt, CAST(0 AS BIGINT) AS oversize
  FROM ns
  UNION ALL
  SELECT f.check_id, f.i + 1,
         f.pos + s.c
           + CASE WHEN s.is_media AND s.c <= 64 AND f.pos % 64 <> 0
                       AND f.pos % 64 + s.c > 64
                  THEN 64 - f.pos % 64 ELSE 0 END,
         f.pad
           + CASE WHEN s.is_media AND s.c <= 64 AND f.pos % 64 <> 0
                       AND f.pos % 64 + s.c > 64
                  THEN 64 - f.pos % 64 ELSE 0 END,
         f.media + CASE WHEN s.is_media THEN s.c ELSE 0 END,
         f.txt + CASE WHEN s.is_media THEN 0 ELSE s.c END,
         f.oversize + CASE WHEN s.is_media AND s.c > 64
                           THEN 1 ELSE 0 END
  FROM fold f
  JOIN sp s ON s.check_id = f.check_id AND s.i = f.i + 1
),
last AS (
  SELECT f.* FROM fold f JOIN ns USING (check_id) WHERE f.i = ns.n
)
SELECT p.check_id AS page_id,
       CAST(coalesce(ns.n, 0) AS BIGINT) AS n_spans,
       coalesce(l.txt, 0) AS text_tokens,
       coalesce(l.media, 0) AS media_tokens,
       coalesce(l.pad, 0) AS pad_tokens,
       coalesce(l.oversize, 0) AS n_oversize,
       coalesce(l.pos, 0) AS total_cost,
       CAST((coalesce(l.pos, 0) + 63) // 64 AS BIGINT) AS n_packs
FROM web_pages p
LEFT JOIN ns ON ns.check_id = p.check_id
LEFT JOIN last l ON l.check_id = p.check_id"""),
        "docs_span_align": _oracle("""
, sp AS (
  SELECT p.check_id, l.k AS off, l.anchor AS text, l.href AS media_ref,
         (l.href LIKE '%.png') AS is_media
  FROM web_pages p
  JOIN web_links_full l ON l.src_doc_id = p.doc_id
),
med AS (SELECT check_id, off, media_ref FROM sp WHERE is_media),
txt AS (SELECT check_id, off, text FROM sp WHERE NOT is_media),
prevj AS (
  SELECT m.check_id, m.off,
         arg_max(t.text, t.off) AS prev_text,
         max(t.off) AS prev_off
  FROM med m
  LEFT JOIN txt t ON t.check_id = m.check_id AND t.off < m.off
  GROUP BY 1, 2
),
nextj AS (
  SELECT m.check_id, m.off,
         arg_min(t.text, t.off) AS next_text,
         min(t.off) AS next_off
  FROM med m
  LEFT JOIN txt t ON t.check_id = m.check_id AND t.off > m.off
  GROUP BY 1, 2
)
SELECT m.check_id AS page_id, m.media_ref,
       CAST(m.off AS BIGINT) AS media_offset,
       p.prev_text, CAST(p.prev_off AS BIGINT) AS prev_offset,
       CAST(m.off - p.prev_off AS BIGINT) AS prev_gap,
       n.next_text, CAST(n.next_off AS BIGINT) AS next_offset,
       CAST(n.next_off - m.off AS BIGINT) AS next_gap
FROM med m
JOIN prevj p ON p.check_id = m.check_id AND p.off = m.off
JOIN nextj n ON n.check_id = m.check_id AND n.off = m.off"""),
        "docs_mm_pack_sweep": _mm_sweep_sql(),
        "docs_interleave_runs": _oracle("""
, sp AS (
  SELECT p.check_id,
         row_number() OVER (PARTITION BY p.check_id
                            ORDER BY l.k) AS i,
         (l.href LIKE '%.png') AS is_media
  FROM web_pages p
  JOIN web_links_full l ON l.src_doc_id = p.doc_id
),
isl AS (
  SELECT check_id, is_media,
         i - row_number() OVER (PARTITION BY check_id, is_media
                                ORDER BY i) AS grp
  FROM sp
),
rl AS (
  SELECT check_id, is_media, grp, count(*) AS len
  FROM isl GROUP BY 1, 2, 3
),
agg AS (
  SELECT check_id,
         CAST(sum(len) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN is_media THEN len ELSE 0 END)
              AS BIGINT) AS n_media,
         CAST(count(*) AS BIGINT) AS n_runs,
         CAST(coalesce(max(CASE WHEN NOT is_media THEN len END), 0)
              AS BIGINT) AS max_text_run,
         CAST(coalesce(max(CASE WHEN is_media THEN len END), 0)
              AS BIGINT) AS max_media_run
  FROM rl GROUP BY 1
)
SELECT p.check_id AS page_id,
       coalesce(a.n_spans, 0) AS n_spans,
       coalesce(a.n_spans, 0) - coalesce(a.n_media, 0) AS n_text,
       coalesce(a.n_media, 0) AS n_media,
       coalesce(a.n_runs, 0) AS n_runs,
       coalesce(a.max_text_run, 0) AS max_text_run,
       coalesce(a.max_media_run, 0) AS max_media_run,
       CASE WHEN coalesce(a.n_spans, 0) >= 2
            THEN (a.n_runs - 1) * 1000000 // (a.n_spans - 1)
       END AS alternation_ppm
FROM web_pages p
LEFT JOIN agg a ON a.check_id = p.check_id"""),
        "crawl_warc_export": _oracle("""
, pay AS (
  SELECT p.check_id, p.url,
         coalesce(string_agg(
           'link' || '|' || l.anchor || '|' || l.href || '|'
                  || CAST(l.k AS VARCHAR),
           chr(10) ORDER BY l.k), '') AS payload
  FROM web_pages p
  LEFT JOIN web_links_full l ON l.src_doc_id = p.doc_id
  GROUP BY 1, 2
)
SELECT check_id, url,
       CAST(strlen(payload) AS BIGINT) AS content_length,
       'md5:' || md5(payload) AS payload_digest,
       md5('WARC/1.1' || chr(13) || chr(10)
           || 'WARC-Type: response' || chr(13) || chr(10)
           || 'WARC-Record-ID: <urn:md5:' || check_id || '>'
           || chr(13) || chr(10)
           || 'WARC-Date: 2026-01-01T00:00:00Z' || chr(13) || chr(10)
           || 'WARC-Target-URI: ' || url || chr(13) || chr(10)
           || 'Content-Type: application/http;msgtype=response'
           || chr(13) || chr(10)
           || 'WARC-Payload-Digest: md5:' || md5(payload)
           || chr(13) || chr(10)
           || 'Content-Length: ' || CAST(strlen(payload) AS VARCHAR)
           || chr(13) || chr(10) || chr(13) || chr(10)
           || payload) AS record_digest
FROM pay"""),
        "crawl_wet_export": _oracle("""
, pay AS (
  SELECT p.check_id, p.url,
         coalesce(string_agg(l.anchor, chr(10) ORDER BY l.k), '')
           AS payload
  FROM web_pages p
  LEFT JOIN web_links_full l ON l.src_doc_id = p.doc_id
  GROUP BY 1, 2
)
SELECT check_id, url,
       CAST(strlen(payload) AS BIGINT) AS content_length,
       'md5:' || md5(payload) AS payload_digest,
       md5('WARC/1.1' || chr(13) || chr(10)
           || 'WARC-Type: conversion' || chr(13) || chr(10)
           || 'WARC-Record-ID: <urn:md5:' || md5(check_id || 'wet')
           || '>' || chr(13) || chr(10)
           || 'WARC-Refers-To: <urn:md5:' || check_id || '>'
           || chr(13) || chr(10)
           || 'WARC-Date: 2026-01-01T00:00:00Z' || chr(13) || chr(10)
           || 'WARC-Target-URI: ' || url || chr(13) || chr(10)
           || 'Content-Type: text/plain' || chr(13) || chr(10)
           || 'WARC-Payload-Digest: md5:' || md5(payload)
           || chr(13) || chr(10)
           || 'Content-Length: ' || CAST(strlen(payload) AS VARCHAR)
           || chr(13) || chr(10) || chr(13) || chr(10)
           || payload) AS record_digest
FROM pay"""),
        "crawl_sitemap_discover": _oracle("""
, h AS (SELECT DISTINCT host FROM web_pages),
hx AS (SELECT host, CAST(substring(host, 2, 2) AS INTEGER) AS i FROM h),
cand AS (
  SELECT host, 'https://' || host || '/sitemap.xml' AS sitemap_url
  FROM hx
  UNION ALL
  SELECT host, 'https://' || host || '/sitemap-index.xml'
  FROM hx WHERE i % 4 = 0
  UNION ALL
  SELECT host, 'https://' || host || '/in-group.xml' FROM hx
)
SELECT DISTINCT host, sitemap_url FROM cand"""),
        "crawl_warc_revisit": _oracle("""
, p AS (SELECT DISTINCT doc_id, check_id FROM web_pages),
base AS (
  SELECT doc_id, check_id,
         CASE WHEN doc_id % 11 = 0
              THEN 'm' || CAST(doc_id // 50 AS VARCHAR)
              ELSE check_id END AS key
  FROM p),
caps AS (
  SELECT check_id, 1 AS snap, md5(key || '|v0') AS payload_digest,
         CAST(strlen(key || '|v0') AS BIGINT) AS content_length
  FROM base WHERE doc_id % 17 <> 3
  UNION ALL
  SELECT check_id, 2,
         md5(key || '|' || CASE WHEN doc_id % 5 = 0
                                THEN 'v1' ELSE 'v0' END),
         CAST(strlen(key || '|' || CASE WHEN doc_id % 5 = 0
                                        THEN 'v1' ELSE 'v0' END)
              AS BIGINT)
  FROM base WHERE doc_id % 13 <> 7),
r AS (SELECT *, row_number() OVER (PARTITION BY payload_digest
                                   ORDER BY snap, check_id) AS rn
      FROM caps),
o AS (SELECT payload_digest, check_id AS o_id, snap AS o_snap
      FROM r WHERE rn = 1)
SELECT r.check_id, CAST(r.snap AS INTEGER) AS snap, r.payload_digest,
       md5(r.check_id || '@' || CAST(r.snap AS VARCHAR)) AS record_id,
       CASE WHEN r.rn = 1 THEN 'response' ELSE 'revisit' END
         AS record_type,
       CASE WHEN r.rn = 1 THEN NULL
            ELSE md5(o.o_id || '@' || CAST(o.o_snap AS VARCHAR)) END
         AS refers_to,
       CASE WHEN r.rn = 1 THEN r.content_length ELSE 0 END
         AS stored_length
FROM r JOIN o USING (payload_digest)"""),
        "crawl_cdx_index": _oracle("""
, pay AS (
  SELECT p.host, p.path, p.url, p.check_id,
         coalesce(string_agg(
           'link' || '|' || l.anchor || '|' || l.href || '|'
                  || CAST(l.k AS VARCHAR),
           chr(10) ORDER BY l.k), '') AS payload
  FROM web_pages p
  LEFT JOIN web_links_full l ON l.src_doc_id = p.doc_id
  GROUP BY 1, 2, 3, 4
),
caps AS (
  SELECT host, path, url, 'text/html' AS mime, check_id AS digest,
         CAST(strlen(payload) AS BIGINT) AS content_length
  FROM pay
  UNION ALL
  SELECT DISTINCT tgt_host AS host,
         '/img' || CAST(tgt_doc_id AS VARCHAR) || '.png' AS path,
         'https://' || tgt_host || '/img' || CAST(tgt_doc_id AS VARCHAR)
             || '.png' AS url,
         'image/png' AS mime,
         md5(tgt_host || '/img' || CAST(tgt_doc_id AS VARCHAR) || '.png')
             AS digest,
         CAST(NULL AS BIGINT) AS content_length
  FROM web_links_full WHERE k % 4 = 0
)
SELECT array_to_string(list_reverse(string_split(host, '.')), ',')
           || ')' || path AS surt,
       url, mime, digest, content_length
FROM caps"""),
        "crawl_host_assign": _oracle(f"""
, h AS (SELECT DISTINCT host FROM web_pages),
w8 AS (
  SELECT host, ws.w,
         {_hex16_sql("host || '#' || CAST(ws.w AS VARCHAR)")} AS weight
  FROM h, (SELECT unnest(generate_series(0, 7)) AS w) ws
),
a8 AS (
  SELECT host, w AS worker8 FROM (
    SELECT host, w, row_number() OVER (
        PARTITION BY host ORDER BY weight DESC, w) AS rn
    FROM w8) WHERE rn = 1
),
w9 AS (
  SELECT host, ws.w,
         {_hex16_sql("host || '#' || CAST(ws.w AS VARCHAR)")} AS weight
  FROM h, (SELECT unnest(generate_series(0, 8)) AS w) ws
),
a9 AS (
  SELECT host, w AS worker9 FROM (
    SELECT host, w, row_number() OVER (
        PARTITION BY host ORDER BY weight DESC, w) AS rn
    FROM w9) WHERE rn = 1
)
SELECT a8.host, CAST(worker8 AS INTEGER) AS worker8,
       CAST(worker9 AS INTEGER) AS worker9,
       worker8 <> worker9 AS moved
FROM a8 JOIN a9 ON a8.host = a9.host"""),
        "crawl_trap_stats": _oracle(f"""
, t AS (
  SELECT DISTINCT tgt_host AS host, {canon_path} AS path
  FROM web_links_full l
),
a AS (
  SELECT host,
         CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
         CAST(count(DISTINCT regexp_replace(path, '[0-9]+', 'N', 'g'))
              AS BIGINT) AS n_templates
  FROM t GROUP BY 1
)
SELECT host, n_paths, n_templates,
       CAST(floor(n_paths * 10000.0 / n_templates) AS BIGINT)
         AS paths_per_template_bp,
       floor(n_paths * 10000.0 / n_templates) >= 500000 AS trap_suspect
FROM a"""),
        "crawl_domain_group": _oracle(f"""
, hosts AS (
  SELECT DISTINCT CASE CAST(doc_id % 7 AS INTEGER)
    WHEN 1 THEN 'www.' || host
    WHEN 2 THEN 'cdn.assets.' || host
    WHEN 3 THEN split_part(host, '.', 1) || '.web.ck'
    WHEN 4 THEN 'www.ck'
    WHEN 5 THEN 'example.test'
    WHEN 6 THEN split_part(host, '.', 1) || '.lan'
    ELSE host END AS h
  FROM web_pages
),
rules(rule, typ) AS (VALUES {", ".join(f"('{r}', {t})"
                                       for r, t in _PSL_RULES)}),
lab AS (SELECT h, string_split(h, '.') AS ls FROM hosts),
cand AS (
  SELECT l.h, len(l.ls) AS L, t.i,
         array_to_string(list_slice(l.ls, t.i, len(l.ls)), '.') AS cand,
         array_to_string(list_slice(l.ls, t.i + 1, len(l.ls)), '.')
           AS parent
  FROM lab l
  JOIN (SELECT unnest(generate_series(1, 8)) AS i) t
    ON t.i <= len(l.ls)
),
m AS (
  SELECT c.h, 0 AS prio, c.L - c.i + 1 AS eff, c.cand AS suffix
  FROM cand c JOIN rules r ON r.typ = 0 AND r.rule = c.cand
  UNION ALL
  SELECT c.h, 0, c.L - c.i + 1, c.cand
  FROM cand c JOIN rules r ON r.typ = 1 AND r.rule = c.parent
  UNION ALL
  SELECT c.h, 1, c.L - c.i, c.parent
  FROM cand c JOIN rules r ON r.typ = 2 AND r.rule = c.cand
),
best AS (
  SELECT h, eff, suffix,
         row_number() OVER (PARTITION BY h
                            ORDER BY prio DESC, eff DESC) AS rn
  FROM m
),
fin AS (
  SELECT l.h, l.ls, len(l.ls) AS L,
         coalesce(b.eff, 1) AS eff,
         coalesce(b.suffix, l.ls[len(l.ls)]) AS suffix
  FROM lab l LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
    ON b.h = l.h
)
SELECT h AS host, suffix AS public_suffix,
       CASE WHEN L > eff
            THEN array_to_string(list_slice(ls, L - eff, L), '.')
            END AS registrable
FROM fin"""),
        "crawl_front_coding": _oracle("""
, paired AS (
  SELECT host AS g, url AS u,
         lag(url) OVER (PARTITION BY host ORDER BY url) AS p
  FROM web_pages),
lcps AS (
  SELECT g, u,
         CASE WHEN p IS NULL THEN 0
              ELSE coalesce(list_max(list_transform(
                     generate_series(1, greatest(least(length(u),
                                                       length(p)), 1)),
                     i -> CASE WHEN substr(u, 1, i) = substr(p, 1, i)
                               THEN i ELSE 0 END)), 0) END AS lcp
  FROM paired)
SELECT g AS host, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(sum(length(u)) AS BIGINT) AS raw_bytes,
       CAST(sum(lcp) AS BIGINT) AS saved_bytes,
       CAST(sum(lcp) * 1000000 // sum(length(u)) AS BIGINT)
           AS saved_ppm,
       CAST((sum(lcp) - count(*)) * 1000000 // sum(length(u))
            AS BIGINT) AS net_saved_1b_ppm
FROM lcps GROUP BY 1"""),
        "crawl_zorder_key": _oracle(f"""
, hx0 AS (SELECT doc_id, md5(host) AS hh, md5(path) AS hp
          FROM web_pages),
d AS (
  SELECT doc_id,
         CAST({_hexchunk_sql(1, 'hh')} AS BIGINT) AS hx,
         CAST({_hexchunk_sql(1, 'hp')} AS BIGINT) AS px
  FROM hx0
)
SELECT doc_id, hx, px,
       CAST({" + ".join(f"(((hx >> {i}) & 1) << {2 * i})"
                        f" + (((px >> {i}) & 1) << {2 * i + 1})"
                        for i in range(16))} AS BIGINT) AS zval
FROM d"""),
        "crawl_robots_parse": _oracle("""
, h AS (
  SELECT DISTINCT host, CAST(substr(host, 2, 2) AS INTEGER) AS i
  FROM web_pages
)
SELECT host, 'disallow' AS rule_type, '/d/' AS path_prefix,
       7 AS crawl_delay
FROM h WHERE i % 3 = 0
UNION ALL
SELECT host, 'disallow', '/d/1' || CAST(i % 10 AS VARCHAR), i % 4
FROM h WHERE i % 3 <> 0
UNION ALL
SELECT host, 'allow', '/d/1' || CAST(i % 10 AS VARCHAR) || '2', i % 4
FROM h WHERE i % 3 <> 0"""),
        "graph_lang_matrix": _oracle("""
, e AS (
  SELECT l.src_doc_id AS s, l.tgt_doc_id AS t
  FROM web_links_full l WHERE l.k % 4 <> 0),
m AS (
  SELECT ds.lang AS src_lang, dt.lang AS tgt_lang,
         CAST(count(*) AS BIGINT) AS n_links
  FROM e
  JOIN documents ds ON ds.doc_id = e.s
  JOIN documents dt ON dt.doc_id = e.t
  GROUP BY 1, 2)
SELECT src_lang, tgt_lang, n_links,
       CAST(1000000 * n_links //
            sum(n_links) OVER (PARTITION BY src_lang) AS BIGINT)
       AS share_ppm,
       src_lang <> tgt_lang AS is_cross
FROM m"""),
        "crawl_drain_plan": _oracle("""
, hosts AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_pending,
         CAST(2 + CAST(substr(host, 2, 2) AS INT) % 5 AS BIGINT)
         AS budget
  FROM web_pages GROUP BY 1),
ex AS (
  SELECT host, n_pending, budget,
         (n_pending + budget - 1) // budget AS wtd
  FROM hosts),
steps AS (
  SELECT u.w AS wave,
         least(budget, n_pending - budget * (u.w - 1)) AS delta,
         CASE WHEN u.w = wtd THEN 1 ELSE 0 END AS fin
  FROM ex, UNNEST(generate_series(1, wtd)) AS u(w)),
pw AS (
  SELECT wave, CAST(sum(delta) AS BIGINT) AS urls_fetched,
         sum(fin) AS fin
  FROM steps GROUP BY 1)
SELECT wave, urls_fetched,
       CAST(sum(fin) OVER (ORDER BY wave) AS BIGINT) AS hosts_done,
       CAST(sum(urls_fetched) OVER (ORDER BY wave) AS BIGINT)
       AS urls_done,
       CAST(1000000 * sum(urls_fetched) OVER (ORDER BY wave)
            // sum(urls_fetched) OVER () AS BIGINT) AS done_ppm
FROM pw"""),
        "crawl_fair_share": _oracle(
            _PAGE_DEMAND_CTE + _fair_share_sql(300) + """
SELECT host, demand, alloc, capped FROM fs"""),
        "crawl_byte_budget": _oracle("""
, pend AS (
  SELECT p.doc_id, p.host, d.n_chars AS bytes
  FROM web_pages p JOIN documents d ON d.doc_id = p.doc_id),
win AS (
  SELECT doc_id, host, bytes,
         sum(bytes) OVER (PARTITION BY host ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_bytes,
         row_number() OVER (PARTITION BY host
                            ORDER BY doc_id) AS rk
  FROM pend)
SELECT doc_id, host, CAST(bytes AS BIGINT) AS bytes,
       CAST(cum_bytes AS BIGINT) AS cum_bytes,
       cum_bytes <= 4000 OR rk = 1 AS admitted
FROM win"""),
        "crawl_ip_budget": _oracle("""
, hosts AS (SELECT host, count(*) AS pending FROM web_pages GROUP BY 1),
dem AS (
  SELECT host,
         least(pending,
               7 + CAST(substr(host, 2, 2) AS INTEGER) % 6) AS demand,
         '198.51.100.' ||
             CAST(CAST(substr(host, 2, 2) AS INTEGER) % 7 AS VARCHAR) AS ip
  FROM hosts),
w AS (
  SELECT host, ip, demand,
         sum(demand) OVER (PARTITION BY ip) AS t,
         count(*) OVER (PARTITION BY ip) AS n_vhosts
  FROM dem),
b AS (
  SELECT *,
         CASE WHEN t > 8 THEN (8 * demand) // t ELSE 0 END AS base,
         CASE WHEN t > 8 THEN (8 * demand) % t ELSE 0 END AS rem
  FROM w),
r AS (
  SELECT *,
         sum(base) OVER (PARTITION BY ip) AS sum_base,
         row_number() OVER (PARTITION BY ip
                            ORDER BY rem DESC, host) AS rk
  FROM b)
SELECT host, ip, CAST(n_vhosts AS BIGINT) AS n_vhosts,
       CAST(demand AS BIGINT) AS demand,
       CAST(CASE WHEN t > 8
                 THEN base + CASE WHEN rk <= 8 - sum_base
                                  THEN 1 ELSE 0 END
                 ELSE demand END AS BIGINT) AS "grant",
       CAST(demand - CASE WHEN t > 8
                 THEN base + CASE WHEN rk <= 8 - sum_base
                                  THEN 1 ELSE 0 END
                 ELSE demand END AS BIGINT) AS starved,
       n_vhosts > 1 AS shared
FROM r"""),
        "crawl_wfq_order": _oracle(
            _PAGE_DEMAND_CTE + _fair_share_sql(300) + _WFQ_CTES + """
SELECT ord, host, j, vkey FROM wfq"""),
        "crawl_connection_plan": _oracle(
            _PAGE_DEMAND_CTE + _fair_share_sql(300) + _WFQ_CTES + """
, gaps AS (
  SELECT host,
         ord - lag(ord) OVER (PARTITION BY host ORDER BY ord) AS gap
  FROM wfq
),
per AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_fetches,
         CAST(1 + sum(CASE WHEN gap > 10 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_setups,
         CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap
  FROM gaps GROUP BY 1
)
SELECT host, n_fetches, n_setups,
       CAST(1000000 * (n_fetches - n_setups) // n_fetches
            AS BIGINT) AS reuse_ppm,
       max_gap
FROM per"""),
        "crawl_dns_cache": _oracle("""
, acc AS (
  SELECT tgt_host AS key,
         row_number() OVER (ORDER BY src_doc_id * 8 + k) - 1 AS pos
  FROM web_links_full WHERE k % 4 <> 0
),
lagd AS (
  SELECT key, pos,
         lag(pos) OVER (PARTITION BY key ORDER BY pos) AS prev
  FROM acc
),
gapd AS (
  SELECT l.key, l.pos, count(DISTINCT b.key) AS dn
  FROM lagd l JOIN acc b ON b.pos > l.prev AND b.pos < l.pos
  WHERE l.prev IS NOT NULL AND l.pos - l.prev <= 64
  GROUP BY 1, 2
),
cls AS (
  SELECT l.key,
         CASE WHEN l.prev IS NULL THEN 'cold'
              WHEN l.pos - l.prev > 64 THEN 'ttl'
              WHEN coalesce(g.dn, 0) >= 4 THEN 'evict'
              ELSE 'hit' END AS verdict
  FROM lagd l LEFT JOIN gapd g ON g.key = l.key AND g.pos = l.pos
)
SELECT key AS host,
       CAST(count(*) AS BIGINT) AS n_access,
       CAST(sum(CASE WHEN verdict = 'hit' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN verdict = 'cold' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_cold,
       CAST(sum(CASE WHEN verdict = 'ttl' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_ttl,
       CAST(sum(CASE WHEN verdict = 'evict' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_evict,
       CAST(sum(CASE WHEN verdict = 'hit' THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS hit_ppm
FROM cls GROUP BY 1"""),
        "crawl_revalidation": _oracle("""
, waves AS (SELECT u.i AS wave
            FROM UNNEST(generate_series(0, 4)) AS u(i)),
v AS (
  SELECT p.host, p.doc_id, w.wave, d.n_chars,
         md5(CAST(p.doc_id AS VARCHAR) || ':' ||
             CAST(CASE WHEN w.wave >= (3 - p.doc_id % 3) % 3
                  THEN (w.wave - (3 - p.doc_id % 3) % 3) // 3 + 1
                  ELSE 0 END AS VARCHAR)) AS digest
  FROM web_pages p CROSS JOIN waves w
  JOIN documents d USING (doc_id)),
g AS (
  SELECT host, n_chars,
         digest = lag(digest) OVER (PARTITION BY doc_id
                                    ORDER BY wave) AS reval
  FROM v)
SELECT host, CAST(count(*) AS BIGINT) AS n_fetches,
       CAST(sum(CASE WHEN reval THEN 1 ELSE 0 END) AS BIGINT)
       AS n_revalidatable,
       CAST(sum(n_chars) AS BIGINT) AS bytes_total,
       CAST(sum(CASE WHEN reval THEN n_chars ELSE 0 END) AS BIGINT)
       AS bytes_saved,
       CAST(1000000 * sum(CASE WHEN reval THEN n_chars ELSE 0 END)
            // sum(n_chars) AS BIGINT) AS saved_ppm
FROM g GROUP BY 1"""),
        "crawl_shard_skew": _oracle(f"""
, pk AS (
  SELECT {_hexchunk_sql(1, 'md5(host)')} % 8 AS shard,
         host AS k, CAST(count(*) AS BIGINT) AS c
  FROM web_pages GROUP BY 1, 2),
per AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(c) AS BIGINT) AS n_rows
  FROM pk GROUP BY 1),
hot AS (
  SELECT shard, k AS hot_key, c AS hot_count FROM pk
  QUALIFY row_number() OVER (PARTITION BY shard
                             ORDER BY c DESC, k DESC) = 1),
tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM per)
SELECT shard, n_keys, n_rows, h.hot_key, h.hot_count,
       CAST(1000000 * h.hot_count // n_rows AS BIGINT)
       AS hot_share_ppm,
       CAST(1000000 * n_rows * 8 // total AS BIGINT)
       AS imbalance_ppm
FROM per JOIN hot h USING (shard) CROSS JOIN tot"""),
        "crawl_robots_purge": _oracle(r"""
, hosts AS (
  SELECT DISTINCT host, CAST(substr(host, 2, 2) AS INT) AS i
  FROM web_pages),
rules_v1 AS (
  SELECT host, 'disallow' AS rule_type,
         '/d/*' || CAST(i % 10 AS VARCHAR) || '.html$' AS pattern
  FROM hosts
  UNION ALL
  SELECT host, 'allow', '/d/' || CAST(i % 10 AS VARCHAR) || '*'
  FROM hosts
  UNION ALL
  SELECT host, 'allow',
         '/d/*' || CAST(i % 10 AS VARCHAR) || '.html$'
  FROM hosts WHERE i % 3 = 0
  UNION ALL SELECT host, 'disallow', '*' FROM hosts WHERE i = 15
  UNION ALL SELECT host, 'disallow', '/tmp/*' FROM hosts),
rules_v2 AS (
  SELECT * FROM rules_v1
  UNION ALL SELECT host, 'disallow', '*' FROM hosts WHERE i % 4 = 0
  UNION ALL
  SELECT host, 'allow',
         '/d/*' || CAST(i % 10 AS VARCHAR) || '.html$'
  FROM hosts WHERE i % 5 = 0),""" + _wc_verdict_sql("v1") + ","
                                      + _wc_verdict_sql("v2") + r"""
SELECT p.doc_id, p.host, p.path,
       o.allowed AS allowed_old, n.allowed AS allowed_new,
       CASE WHEN o.allowed AND n.allowed THEN 'kept'
            WHEN o.allowed AND NOT n.allowed THEN 'purge'
            WHEN NOT o.allowed AND n.allowed THEN 'opened'
            ELSE 'blocked' END AS transition
FROM web_pages p
JOIN verdict_v1 o USING (doc_id)
JOIN verdict_v2 n USING (doc_id)"""),
        "crawl_robots_wildcard": _oracle(r"""
, hosts AS (
  SELECT DISTINCT host, CAST(substr(host, 2, 2) AS INT) AS i
  FROM web_pages),
rules AS (
  SELECT host, 'disallow' AS rule_type,
         '/d/*' || CAST(i % 10 AS VARCHAR) || '.html$' AS pattern
  FROM hosts
  UNION ALL
  SELECT host, 'allow', '/d/' || CAST(i % 10 AS VARCHAR) || '*'
  FROM hosts
  UNION ALL
  SELECT host, 'allow',
         '/d/*' || CAST(i % 10 AS VARCHAR) || '.html$'
  FROM hosts WHERE i % 3 = 0
  UNION ALL SELECT host, 'disallow', '*' FROM hosts WHERE i = 15
  UNION ALL SELECT host, 'disallow', '/tmp/*' FROM hosts),
rx AS (
  SELECT host, rule_type, pattern,
         CASE WHEN pattern LIKE '%$'
              THEN '^' || substr(s, 1, length(s) - 2) || '$'
              ELSE '^' || s END AS rx,
         length(pattern) AS spec
  FROM (SELECT host, rule_type, pattern,
               replace(regexp_replace(pattern,
                 '([.\[\]{}()+?^$|\\])', '\\\1', 'g'),
                 '*', '.*') AS s
        FROM rules)),
hits AS (
  SELECT p.doc_id, r.rule_type, r.pattern, r.spec
  FROM web_pages p
  JOIN rx r ON r.host = p.host AND regexp_matches(p.path, r.rx)),
best AS (
  SELECT doc_id, rule_type, pattern FROM hits
  QUALIFY row_number() OVER (
    PARTITION BY doc_id
    ORDER BY spec DESC, (rule_type = 'allow') DESC,
             pattern, rule_type) = 1)
SELECT p.doc_id, p.host, p.path,
       coalesce(b.rule_type = 'allow', TRUE) AS allowed,
       b.pattern AS m_pattern, b.rule_type AS m_type
FROM web_pages p LEFT JOIN best b USING (doc_id)"""),
        "crawl_sitemap_coverage": _oracle("""
, hosts AS (
  SELECT DISTINCT host, CAST(substr(host, 2, 2) AS INT) AS i
  FROM web_pages),
phantoms AS (
  SELECT host,
         'https://' || host || '/ghost/' || CAST(u.n AS VARCHAR)
         || '.html' AS url
  FROM hosts, UNNEST(generate_series(0, i % 3)) AS u(n)),
declared AS (
  SELECT host, url FROM web_pages WHERE doc_id % 3 <> 0
  UNION ALL SELECT host, url FROM phantoms),
u AS (
  SELECT host, url, 1 AS d, 0 AS c FROM declared
  UNION ALL SELECT host, url, 0, 1 FROM web_pages),
per_url AS (
  SELECT host, url, max(d) AS d, max(c) AS c
  FROM u GROUP BY 1, 2),
agg AS (
  SELECT host, CAST(sum(d) AS BIGINT) AS n_declared,
         CAST(sum(c) AS BIGINT) AS n_crawled,
         CAST(sum(d * c) AS BIGINT) AS n_both
  FROM per_url GROUP BY 1)
SELECT host, n_declared, n_crawled, n_both,
       n_declared - n_both AS n_phantom,
       n_crawled - n_both AS n_orphan,
       CASE WHEN n_declared > 0
            THEN 100 * n_both // n_declared END AS coverage_pct
FROM agg"""),
        "crawl_sitemap_ingest": _oracle("""
, h AS (
  SELECT DISTINCT host, CAST(substr(host, 2, 2) AS INTEGER) AS i
  FROM web_pages
)
SELECT host, 'directive' AS kind, 2 AS pos,
       'https://' || host || '/sitemap.xml' AS url
FROM h
UNION ALL
SELECT host, 'directive', 3, 'https://' || host || '/sitemap-news.xml'
FROM h WHERE i % 2 = 0
UNION ALL
SELECT host, 'child_sitemap', 0, 'https://' || host || '/maps/a.xml'
FROM h WHERE i % 5 = 0
UNION ALL
SELECT host, 'child_sitemap', 1, 'https://' || host || '/maps/b.xml'
FROM h WHERE i % 5 = 0
UNION ALL
SELECT host, 'page', 0, 'https://' || host || '/d/1'
FROM h WHERE i % 5 <> 0
UNION ALL
SELECT host, 'page', 1, 'https://' || host || '/d/2?a=1&b=2'
FROM h WHERE i % 5 <> 0"""),
        "crawl_robots_eval": _oracle("""
SELECT doc_id, host, path,
       CASE WHEN host = 'h00.example.test' AND path LIKE '/d/12%' THEN TRUE
            WHEN host = 'h00.example.test' AND path LIKE '/d/1%' THEN FALSE
            WHEN host = 'h01.example.test' AND path LIKE '/d/%' THEN FALSE
            ELSE TRUE END AS robots_allowed
FROM web_pages"""),
        "crawl_budget_allocate": _oracle("""
, inv AS (
  SELECT tgt_host AS host,
         CAST(count(DISTINCT tgt_path) AS BIGINT) AS weight
  FROM web_links_full WHERE k % 4 <> 0 GROUP BY 1),
tot AS (SELECT sum(weight) AS w FROM inv),
base AS (
  SELECT host, weight, (1000 * weight) // w AS floor_a,
         (1000 * weight) % w AS rem
  FROM inv, tot),
need AS (SELECT 1000 - sum(floor_a) AS r FROM base),
rk AS (SELECT host, row_number() OVER (ORDER BY rem DESC, host) AS rn
       FROM base)
SELECT b.host, b.weight,
       CAST(b.floor_a + CASE WHEN rk.rn <= need.r THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM base b JOIN rk ON rk.host = b.host, need"""),
        "crawl_budget_derive": _oracle("""
SELECT host,
       CAST(GREATEST(FLOOR(60.0 / d), 1) AS INTEGER) AS max_pages_per_wave,
       CAST(GREATEST(CEIL(d / 60.0), 1) AS INTEGER) AS wave_period
FROM (SELECT host, max((doc_id % 13) * 2.5) AS d
      FROM web_pages GROUP BY host) t
WHERE d > 0"""),
        "crawl_politeness_schedule": _oracle("""
, bud AS (
  SELECT host, CAST(GREATEST(FLOOR(60.0 / d), 1) AS INTEGER) AS b
  FROM (SELECT host, max((doc_id % 13) * 2.5) AS d
        FROM web_pages GROUP BY host) t
  WHERE d > 0
), ranked AS (
  SELECT doc_id, host, doc_id AS seq,
         CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id)
              AS INTEGER) AS host_rank
  FROM web_pages
)
SELECT r.doc_id, r.host, r.seq, r.host_rank
FROM ranked r LEFT JOIN bud USING (host)
WHERE r.host_rank <= COALESCE(bud.b, 5)"""),
        "crawl_wave_cap": _oracle("""
, ranked AS (
  SELECT doc_id, host, doc_id AS seq,
         CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id)
              AS INTEGER) AS host_rank
  FROM web_pages
), cut AS (
  SELECT * FROM ranked WHERE host_rank <= 5
)
SELECT doc_id, host, seq, host_rank
FROM (SELECT *, row_number() OVER (ORDER BY seq) AS rn FROM cut)
WHERE rn <= 37"""),
        "crawl_recrawl_schedule": _oracle("""
, hist AS (
  SELECT event_id % 211 AS page_id, ts AS fetched_at,
         CAST(CAST(floor(value * 10) AS BIGINT) % 5 AS VARCHAR)
           AS content_digest
  FROM events
), marked AS (
  SELECT page_id, fetched_at, content_digest,
         lag(content_digest) OVER (PARTITION BY page_id
                                   ORDER BY fetched_at) AS prev
  FROM hist
), stats AS (
  SELECT page_id, CAST(count(*) AS BIGINT) AS n_obs,
         CAST(coalesce(sum(CASE WHEN prev IS NOT NULL
                                 AND prev <> content_digest
                                THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_changes,
         max(fetched_at) AS last_fetch
  FROM marked GROUP BY 1
), now_t AS (SELECT max(ts) AS now_ts FROM events)
SELECT page_id, n_obs, n_changes,
       CAST(floor((n_changes + 1) * 1000000.0 / (n_obs + 1)) AS BIGINT)
         AS change_ppm,
       CAST(floor(epoch(now_ts)) - floor(epoch(last_fetch)) AS BIGINT)
         AS age_s,
       CAST(floor((n_changes + 1) * 1000000.0 / (n_obs + 1))
            * (floor(epoch(now_ts)) - floor(epoch(last_fetch)))
            AS BIGINT) AS recrawl_score
FROM stats, now_t"""),
        "crawl_snapshot_delta": _oracle("""
, p AS (SELECT DISTINCT doc_id, host, check_id FROM web_pages),
a AS (
  SELECT check_id, md5(check_id || 'v0') AS digest_a
  FROM p WHERE doc_id % 17 <> 3
),
b AS (
  SELECT check_id,
         md5(check_id || CASE WHEN doc_id % 5 = 0
                              THEN 'v1' ELSE 'v0' END) AS digest_b
  FROM p WHERE doc_id % 13 <> 7
),
j AS (
  SELECT coalesce(a.check_id, b.check_id) AS check_id,
         digest_a, digest_b
  FROM a FULL OUTER JOIN b ON a.check_id = b.check_id
),
k AS (
  SELECT check_id,
         CASE WHEN digest_a IS NULL THEN 'added'
              WHEN digest_b IS NULL THEN 'removed'
              WHEN digest_a <> digest_b THEN 'changed' END AS kind,
         digest_a, digest_b
  FROM j
)
SELECT k.check_id, p.host, k.kind, k.digest_a, k.digest_b
FROM k JOIN p ON p.check_id = k.check_id
WHERE k.kind IS NOT NULL"""),
        "crawl_redirect_resolve": f"""
WITH RECURSIVE {webgen.REDIRECTS_SQL.strip()},
rec AS (
  SELECT src_url AS src, dst_url AS cur, 1 AS hops FROM web_redirects
  UNION ALL
  SELECT r.src, e.dst_url, r.hops + 1
  FROM rec r JOIN web_redirects e ON r.cur = e.src_url
  WHERE r.hops < 16
),
term AS (
  SELECT src, cur, hops FROM rec
  WHERE cur NOT IN (SELECT src_url FROM web_redirects)
)
SELECT w.src_url,
       t.cur AS final_url,
       CAST(t.hops AS INTEGER) AS n_hops,
       CASE WHEN t.cur IS NULL THEN 'loop' ELSE 'ok' END AS status
FROM (SELECT DISTINCT src_url FROM web_redirects) w
LEFT JOIN term t ON w.src_url = t.src""",
        "crawl_backoff_budget": """
WITH outcomes AS (
  SELECT 'h' || lpad(CAST(event_id % 40 AS VARCHAR), 2, '0')
           || '.example.test' AS host,
         ts AS fetched_at,
         CASE CAST(floor(value * 100) AS BIGINT) % 25
           WHEN 0 THEN 429 WHEN 1 THEN 503 WHEN 2 THEN 500
           ELSE 200 END AS status
  FROM events
),
per AS (
  SELECT host, count(*) AS n_obs,
         sum(CASE WHEN status IN (429, 500, 502, 503, 504)
             THEN 1 ELSE 0 END) AS n_err,
         max(CASE WHEN status NOT IN (429, 500, 502, 503, 504)
             THEN fetched_at END) AS last_ok_ts
  FROM outcomes GROUP BY 1
),
st AS (
  SELECT o.host,
         sum(CASE WHEN p.last_ok_ts IS NULL
                    OR o.fetched_at > p.last_ok_ts
             THEN 1 ELSE 0 END) AS trail_streak
  FROM outcomes o JOIN per p USING (host) GROUP BY 1
)
SELECT p.host, CAST(p.n_obs AS BIGINT) AS n_obs,
       CAST(p.n_err AS BIGINT) AS n_err,
       CAST(p.n_err * 10000 // p.n_obs AS BIGINT) AS err_bp,
       CAST(s.trail_streak AS BIGINT) AS trail_streak,
       CAST(greatest(1, (16 * (10000 - p.n_err * 10000 // p.n_obs)
                         // 10000)
                        // (1 << CAST(least(s.trail_streak, 6) AS INT)))
            AS BIGINT) AS budget
FROM per p JOIN st s USING (host)""",
        "crawl_priority_rank": _oracle("""
, indeg AS (
  SELECT tgt_doc_id AS doc_id, count(*) AS indeg
  FROM (SELECT DISTINCT src_doc_id, tgt_doc_id
        FROM web_links_full WHERE k % 4 <> 0)
  GROUP BY 1
), pending AS (
  SELECT p.doc_id, p.host, p.doc_id AS seq,
         CAST(coalesce(i.indeg, 0) AS BIGINT) AS indeg
  FROM web_pages p LEFT JOIN indeg i USING (doc_id)
), ranked AS (
  SELECT doc_id, host, seq, indeg,
         CAST(row_number() OVER (PARTITION BY host
              ORDER BY -indeg, seq) AS INTEGER) AS host_rank
  FROM pending
)
SELECT doc_id, host, seq, indeg, host_rank
FROM ranked WHERE host_rank <= 3"""),
        "graph_links_from": _oracle("""
SELECT DISTINCT tgt_doc_id AS to_doc_id FROM web_links_full
WHERE src_doc_id = 41 AND k % 4 <> 0 ORDER BY 1 LIMIT 100"""),
        "graph_links_to": _oracle("""
SELECT DISTINCT src_doc_id AS from_doc_id FROM web_links_full
WHERE tgt_doc_id = 7 AND k % 4 <> 0 ORDER BY 1 LIMIT 100"""),
        "graph_page_composite": _oracle("""
, agg AS (
  SELECT src_doc_id AS doc_id,
         count(DISTINCT tgt_doc_id) AS outdeg,
         string_agg(DISTINCT CAST(tgt_doc_id AS VARCHAR), ','
                    ORDER BY CAST(tgt_doc_id AS VARCHAR)) AS neighbors
  FROM web_links_full WHERE k % 4 <> 0 GROUP BY 1
)
SELECT p.doc_id, p.host, p.url,
       coalesce(a.outdeg, 0) AS outdeg,
       coalesce(a.neighbors, '') AS neighbors
FROM web_pages p LEFT JOIN agg a ON p.doc_id = a.doc_id
WHERE p.doc_id < 10"""),
        "graph_counts": _oracle("""
SELECT (SELECT count(*) FROM web_pages) AS n_pages,
       (SELECT count(DISTINCT host) FROM web_pages) AS n_hosts,
       (SELECT count(*) FROM (SELECT DISTINCT src_doc_id, tgt_doc_id
                              FROM web_links_full WHERE k % 4 <> 0)) AS n_links"""),
        "graph_degrees": _oracle("""
, e AS (SELECT DISTINCT src_doc_id, tgt_doc_id FROM web_links_full
        WHERE k % 4 <> 0)
SELECT p.doc_id,
       coalesce(o.n, 0) AS out_deg, coalesce(i.n, 0) AS in_deg
FROM web_pages p
LEFT JOIN (SELECT src_doc_id, count(*) AS n FROM e GROUP BY 1) o
       ON o.src_doc_id = p.doc_id
LEFT JOIN (SELECT tgt_doc_id, count(*) AS n FROM e GROUP BY 1) i
       ON i.tgt_doc_id = p.doc_id"""),
        "graph_pages_for_host": _oracle("""
SELECT doc_id, check_id, url FROM web_pages
WHERE host = 'h07.example.test' ORDER BY doc_id LIMIT 100"""),
        "graph_host_simrank": _oracle("""
, e AS (SELECT DISTINCT src_doc_id, tgt_doc_id FROM web_links_full
        WHERE k % 4 <> 0),
he AS (
  SELECT DISTINCT ps.host AS src_host, pt.host AS tgt_host
  FROM e
  JOIN web_pages ps ON ps.doc_id = e.src_doc_id
  JOIN web_pages pt ON pt.doc_id = e.tgt_doc_id),
ie AS MATERIALIZED (
  SELECT DISTINCT tgt_host AS h, src_host AS u FROM he
  WHERE tgt_host <> src_host),
ind AS (SELECT h, CAST(count(*) AS BIGINT) AS n FROM ie GROUP BY 1),
cm AS MATERIALIZED (
  SELECT x.h AS a, y.h AS b,
         CAST(count(*) AS HUGEINT) * 1000000 AS contrib
  FROM ie x JOIN ie y ON y.u = x.u AND x.h <> y.h
  GROUP BY 1, 2),
s1 AS MATERIALIZED (
  SELECT c.a, c.b,
         CAST((4 * c.contrib) // (5 * na.n * nb.n) AS BIGINT) AS s
  FROM cm c
  JOIN ind na ON na.h = c.a
  JOIN ind nb ON nb.h = c.b
  WHERE CAST((4 * c.contrib) // (5 * na.n * nb.n) AS BIGINT) > 0),
off2 AS (
  SELECT ia.h AS a, ib.h AS b,
         sum(CAST(s1.s AS HUGEINT)) AS contrib
  FROM s1
  JOIN ie ia ON ia.u = s1.a
  JOIN ie ib ON ib.u = s1.b
  WHERE ia.h <> ib.h
  GROUP BY 1, 2),
tot2 AS (
  SELECT a, b, sum(contrib) AS sig FROM (
    SELECT a, b, contrib FROM cm
    UNION ALL SELECT a, b, contrib FROM off2
  ) GROUP BY 1, 2),
s2 AS (
  SELECT t.a, t.b,
         CAST((4 * t.sig) // (5 * na.n * nb.n) AS BIGINT) AS s
  FROM tot2 t
  JOIN ind na ON na.h = t.a
  JOIN ind nb ON nb.h = t.b)
SELECT a AS host_a, b AS host_b, s AS sim_ppm
FROM s2 WHERE s > 0 AND a < b"""),
        "graph_host_graph": _oracle("""
, e AS (SELECT DISTINCT src_doc_id, tgt_doc_id FROM web_links_full
        WHERE k % 4 <> 0)
SELECT ps.host AS src_host, pt.host AS tgt_host,
       count(*) AS n_edges,
       count(DISTINCT e.src_doc_id) AS n_src_pages,
       count(DISTINCT e.tgt_doc_id) AS n_tgt_pages
FROM e
JOIN web_pages ps ON ps.doc_id = e.src_doc_id
JOIN web_pages pt ON pt.doc_id = e.tgt_doc_id
GROUP BY 1, 2"""),
        "graph_reciprocity": _oracle("""
, e AS (
  SELECT DISTINCT src_doc_id AS s, tgt_doc_id AS t
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
),
f AS (
  SELECT e.s, e.t, e2.s IS NOT NULL AS r
  FROM e LEFT JOIN e e2 ON e2.s = e.t AND e2.t = e.s
)
SELECT p.host, CAST(count(*) AS BIGINT) AS n_edges,
       CAST(count(CASE WHEN r THEN 1 END) AS BIGINT) AS n_recip,
       CAST(count(CASE WHEN r THEN 1 END) * 10000 // count(*) AS BIGINT)
           AS recip_bp
FROM f JOIN web_pages p ON p.doc_id = f.s
GROUP BY 1"""),
        "graph_cocitation": _oracle("""
, e AS (SELECT DISTINCT src_doc_id, tgt_doc_id FROM web_links_full
        WHERE k % 4 <> 0)
SELECT x.tgt_doc_id AS a, y.tgt_doc_id AS b,
       count(*) AS n_cociting
FROM e x JOIN e y ON y.src_doc_id = x.src_doc_id
WHERE x.tgt_doc_id < y.tgt_doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
ORDER BY n_cociting DESC, a ASC, b ASC
LIMIT 1000"""),
        "graph_link_predict": _oracle("""
, fwd AS (SELECT DISTINCT src_doc_id AS u, tgt_doc_id AS v
          FROM web_links_full WHERE k % 4 <> 0),
und AS (
  SELECT DISTINCT u, v FROM (
    SELECT u, v FROM fwd UNION ALL SELECT v AS u, u AS v FROM fwd)
  WHERE u <> v
),
deg AS (SELECT u, count(*) AS deg FROM und GROUP BY u),
center AS (
  SELECT und.u, und.v, 1000000 // d.deg AS w
  FROM und JOIN deg d USING (u) WHERE d.deg <= 64
),
wedges AS (
  SELECT x.v AS a, y.v AS b, count(*) AS n_common,
         CAST(sum(x.w) AS BIGINT) AS ra_ppm
  FROM center x JOIN center y ON y.u = x.u
  WHERE x.v < y.v
  GROUP BY 1, 2
),
adj AS (SELECT u AS a, v AS b FROM und WHERE u < v)
SELECT w.a, w.b, w.n_common, w.ra_ppm
FROM wedges w ANTI JOIN adj ON adj.a = w.a AND adj.b = w.b
WHERE w.n_common >= 2
ORDER BY ra_ppm DESC, a ASC, b ASC
LIMIT 500"""),
        "graph_anchor_text": _oracle("""
, l AS (SELECT tgt_doc_id, anchor, src_host FROM web_links_full
        WHERE k % 4 <> 0),
pa AS (SELECT tgt_doc_id, anchor, count(*) AS n FROM l GROUP BY 1, 2),
top1 AS (
  SELECT tgt_doc_id, anchor, n,
         row_number() OVER (PARTITION BY tgt_doc_id
                            ORDER BY n DESC, anchor ASC) AS rn
  FROM pa)
SELECT a.tgt_doc_id AS doc_id,
       a.n_refs, h.n_src_hosts, a.n_anchors,
       t.anchor AS top_anchor, a.top_anchor_n
FROM (SELECT tgt_doc_id, sum(n) AS n_refs, count(*) AS n_anchors,
             max(n) AS top_anchor_n
      FROM pa GROUP BY 1) a
JOIN (SELECT tgt_doc_id, count(DISTINCT src_host) AS n_src_hosts
      FROM l GROUP BY 1) h ON h.tgt_doc_id = a.tgt_doc_id
JOIN top1 t ON t.tgt_doc_id = a.tgt_doc_id AND t.rn = 1"""),
        "graph_triangles": _oracle("""
, und AS (
  SELECT DISTINCT least(src_doc_id, tgt_doc_id) AS a,
                  greatest(src_doc_id, tgt_doc_id) AS b
  FROM web_links_full
  WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
), deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
  GROUP BY 1
), fwd AS (
  SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
         CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v,
         CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dv
  FROM (SELECT und.a, und.b, x.d AS da, y.d AS db
        FROM und JOIN deg x ON x.v = und.a JOIN deg y ON y.v = und.b)
), tri AS (
  SELECT e1.u, e1.v AS x, e2.v AS y
  FROM fwd e1
  JOIN fwd e2 ON e1.u = e2.u
  JOIN fwd e3 ON e3.u = e1.v AND e3.v = e2.v
  WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)
), pern AS (
  SELECT doc_id, count(*) AS n_triangles
  FROM (SELECT u AS doc_id FROM tri
        UNION ALL SELECT x FROM tri
        UNION ALL SELECT y FROM tri)
  GROUP BY 1
)
SELECT deg.v AS doc_id,
       CAST(deg.d AS BIGINT) AS degree,
       CAST(coalesce(p.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST((coalesce(p.n_triangles, 0) * 20000)
            // greatest(deg.d * (deg.d - 1), 1) AS BIGINT) AS cc_bp
FROM deg LEFT JOIN pern p ON p.doc_id = deg.v"""),
        "crawl_depth_quality": _oracle_recursive(f"""
, e AS (
  SELECT DISTINCT src_doc_id AS s, tgt_doc_id AS t
  FROM web_links_full WHERE k % 4 <> 0
),
bfs(node, depth) AS (
  SELECT doc_id, 0 FROM web_pages WHERE doc_id % 97 = 0
  UNION
  SELECT e.t, b.depth + 1 FROM bfs b JOIN e ON e.s = b.node
  WHERE b.depth < 64
),
dep AS (SELECT node AS doc_id, CAST(min(depth) AS BIGINT) AS depth
        FROM bfs GROUP BY 1),
q AS (SELECT doc_id, {_quality_score_sql()} AS quality FROM documents)
SELECT CAST(coalesce(dep.depth, -1) AS BIGINT) AS depth,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(CAST(sum(q.quality) AS HUGEINT) // count(*) AS BIGINT)
           AS avg_quality,
       CAST(min(q.quality) AS BIGINT) AS min_quality,
       CAST(max(q.quality) AS BIGINT) AS max_quality
FROM q LEFT JOIN dep USING (doc_id)
GROUP BY 1"""),
        "graph_degree_gini": _oracle("""
, e AS (
  SELECT DISTINCT src_doc_id AS s, tgt_doc_id AS t
  FROM web_links_full WHERE k % 4 <> 0),
indeg AS (SELECT t, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
classes AS (SELECT deg, CAST(count(*) AS BIGINT) AS c
            FROM indeg GROUP BY 1),
zero AS (
  SELECT CAST(0 AS BIGINT) AS deg,
         CAST((SELECT count(*) FROM web_pages)
              - (SELECT sum(c) FROM classes) AS BIGINT) AS c),
cl AS (SELECT * FROM classes UNION ALL
       SELECT * FROM zero WHERE c > 0),
r AS (
  SELECT deg, c,
         CAST(coalesce(sum(c) OVER (ORDER BY deg
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_before
  FROM cl),
g AS (
  SELECT sum(CAST(deg AS HUGEINT)
             * (c * CAST(n_before AS HUGEINT)
                + CAST(c AS HUGEINT) * (c + 1) // 2)) AS s1,
         sum(CAST(deg AS HUGEINT) * c) AS s,
         CAST(sum(c) AS BIGINT) AS n
  FROM r)
SELECT n, CAST(s AS BIGINT) AS total_indeg,
       CAST((2 * s1 - (n + 1) * s) * 1000000
            // (CAST(n AS HUGEINT) * s) AS BIGINT) AS gini_ppm
FROM g"""),
        "orders_supplier_latency": """
WITH j AS (
  SELECT l.l_suppkey,
         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
              THEN 1 ELSE 0 END AS late,
         CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
              AS BIGINT) AS rev_c
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
per AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(late) AS BIGINT) AS n_late,
         CAST(sum(late * rev_c) AS BIGINT) AS late_rev_c
  FROM j GROUP BY 1)
SELECT s.s_suppkey, s.s_name, per.n_lines, per.n_late,
       CAST(CAST(per.n_late AS HUGEINT) * 10000 // per.n_lines
            AS BIGINT) AS late_bp,
       per.late_rev_c
FROM per JOIN supplier s ON s.s_suppkey = per.l_suppkey""",
        "orders_rolling_revenue": """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS rev_c,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1)
SELECT strftime(a.d, '%Y-%m-%d') AS day,
       CAST(min(a.rev_c) AS BIGINT) AS rev_c,
       CAST(min(a.n_orders) AS BIGINT) AS n_orders,
       CAST(sum(b.rev_c) AS BIGINT) AS rev_7d_c,
       CAST(count(*) AS BIGINT) AS n_days_present
FROM daily a
JOIN daily b ON b.d <= a.d AND b.d >= a.d - INTERVAL 6 DAY
GROUP BY a.d""",
        "embed_binary_hamming": """
WITH codes AS (
  SELECT vec_id, CAST(CASE WHEN embedding[1] > 0 THEN CAST(1 AS BIGINT) ELSE 0 END + CASE WHEN embedding[2] > 0 THEN CAST(2 AS BIGINT) ELSE 0 END + CASE WHEN embedding[3] > 0 THEN CAST(4 AS BIGINT) ELSE 0 END + CASE WHEN embedding[4] > 0 THEN CAST(8 AS BIGINT) ELSE 0 END + CASE WHEN embedding[5] > 0 THEN CAST(16 AS BIGINT) ELSE 0 END + CASE WHEN embedding[6] > 0 THEN CAST(32 AS BIGINT) ELSE 0 END + CASE WHEN embedding[7] > 0 THEN CAST(64 AS BIGINT) ELSE 0 END + CASE WHEN embedding[8] > 0 THEN CAST(128 AS BIGINT) ELSE 0 END + CASE WHEN embedding[9] > 0 THEN CAST(256 AS BIGINT) ELSE 0 END + CASE WHEN embedding[10] > 0 THEN CAST(512 AS BIGINT) ELSE 0 END + CASE WHEN embedding[11] > 0 THEN CAST(1024 AS BIGINT) ELSE 0 END + CASE WHEN embedding[12] > 0 THEN CAST(2048 AS BIGINT) ELSE 0 END + CASE WHEN embedding[13] > 0 THEN CAST(4096 AS BIGINT) ELSE 0 END + CASE WHEN embedding[14] > 0 THEN CAST(8192 AS BIGINT) ELSE 0 END + CASE WHEN embedding[15] > 0 THEN CAST(16384 AS BIGINT) ELSE 0 END + CASE WHEN embedding[16] > 0 THEN CAST(32768 AS BIGINT) ELSE 0 END + CASE WHEN embedding[17] > 0 THEN CAST(65536 AS BIGINT) ELSE 0 END + CASE WHEN embedding[18] > 0 THEN CAST(131072 AS BIGINT) ELSE 0 END + CASE WHEN embedding[19] > 0 THEN CAST(262144 AS BIGINT) ELSE 0 END + CASE WHEN embedding[20] > 0 THEN CAST(524288 AS BIGINT) ELSE 0 END + CASE WHEN embedding[21] > 0 THEN CAST(1048576 AS BIGINT) ELSE 0 END + CASE WHEN embedding[22] > 0 THEN CAST(2097152 AS BIGINT) ELSE 0 END + CASE WHEN embedding[23] > 0 THEN CAST(4194304 AS BIGINT) ELSE 0 END + CASE WHEN embedding[24] > 0 THEN CAST(8388608 AS BIGINT) ELSE 0 END + CASE WHEN embedding[25] > 0 THEN CAST(16777216 AS BIGINT) ELSE 0 END + CASE WHEN embedding[26] > 0 THEN CAST(33554432 AS BIGINT) ELSE 0 END + CASE WHEN embedding[27] > 0 THEN CAST(67108864 AS BIGINT) ELSE 0 END + CASE WHEN embedding[28] > 0 THEN CAST(134217728 AS BIGINT) ELSE 0 END + CASE WHEN embedding[29] > 0 THEN CAST(268435456 AS BIGINT) ELSE 0 END + CASE WHEN embedding[30] > 0 THEN CAST(536870912 AS BIGINT) ELSE 0 END + CASE WHEN embedding[31] > 0 THEN CAST(1073741824 AS BIGINT) ELSE 0 END + CASE WHEN embedding[32] > 0 THEN CAST(2147483648 AS BIGINT) ELSE 0 END + CASE WHEN embedding[33] > 0 THEN CAST(4294967296 AS BIGINT) ELSE 0 END + CASE WHEN embedding[34] > 0 THEN CAST(8589934592 AS BIGINT) ELSE 0 END + CASE WHEN embedding[35] > 0 THEN CAST(17179869184 AS BIGINT) ELSE 0 END + CASE WHEN embedding[36] > 0 THEN CAST(34359738368 AS BIGINT) ELSE 0 END + CASE WHEN embedding[37] > 0 THEN CAST(68719476736 AS BIGINT) ELSE 0 END + CASE WHEN embedding[38] > 0 THEN CAST(137438953472 AS BIGINT) ELSE 0 END + CASE WHEN embedding[39] > 0 THEN CAST(274877906944 AS BIGINT) ELSE 0 END + CASE WHEN embedding[40] > 0 THEN CAST(549755813888 AS BIGINT) ELSE 0 END + CASE WHEN embedding[41] > 0 THEN CAST(1099511627776 AS BIGINT) ELSE 0 END + CASE WHEN embedding[42] > 0 THEN CAST(2199023255552 AS BIGINT) ELSE 0 END + CASE WHEN embedding[43] > 0 THEN CAST(4398046511104 AS BIGINT) ELSE 0 END + CASE WHEN embedding[44] > 0 THEN CAST(8796093022208 AS BIGINT) ELSE 0 END + CASE WHEN embedding[45] > 0 THEN CAST(17592186044416 AS BIGINT) ELSE 0 END + CASE WHEN embedding[46] > 0 THEN CAST(35184372088832 AS BIGINT) ELSE 0 END + CASE WHEN embedding[47] > 0 THEN CAST(70368744177664 AS BIGINT) ELSE 0 END + CASE WHEN embedding[48] > 0 THEN CAST(140737488355328 AS BIGINT) ELSE 0 END + CASE WHEN embedding[49] > 0 THEN CAST(281474976710656 AS BIGINT) ELSE 0 END + CASE WHEN embedding[50] > 0 THEN CAST(562949953421312 AS BIGINT) ELSE 0 END + CASE WHEN embedding[51] > 0 THEN CAST(1125899906842624 AS BIGINT) ELSE 0 END + CASE WHEN embedding[52] > 0 THEN CAST(2251799813685248 AS BIGINT) ELSE 0 END + CASE WHEN embedding[53] > 0 THEN CAST(4503599627370496 AS BIGINT) ELSE 0 END + CASE WHEN embedding[54] > 0 THEN CAST(9007199254740992 AS BIGINT) ELSE 0 END + CASE WHEN embedding[55] > 0 THEN CAST(18014398509481984 AS BIGINT) ELSE 0 END + CASE WHEN embedding[56] > 0 THEN CAST(36028797018963968 AS BIGINT) ELSE 0 END + CASE WHEN embedding[57] > 0 THEN CAST(72057594037927936 AS BIGINT) ELSE 0 END + CASE WHEN embedding[58] > 0 THEN CAST(144115188075855872 AS BIGINT) ELSE 0 END + CASE WHEN embedding[59] > 0 THEN CAST(288230376151711744 AS BIGINT) ELSE 0 END + CASE WHEN embedding[60] > 0 THEN CAST(576460752303423488 AS BIGINT) ELSE 0 END + CASE WHEN embedding[61] > 0 THEN CAST(1152921504606846976 AS BIGINT) ELSE 0 END + CASE WHEN embedding[62] > 0 THEN CAST(2305843009213693952 AS BIGINT) ELSE 0 END + CASE WHEN embedding[63] > 0 THEN CAST(4611686018427387904 AS BIGINT) ELSE 0 END AS BIGINT) AS code
  FROM embeddings),
q AS (SELECT vec_id AS q_id, code AS q_code FROM codes
      WHERE vec_id < 5),
d AS (
  SELECT q.q_id, c.vec_id,
         CAST(bit_count(xor(c.code, q.q_code)) AS BIGINT) AS hamming
  FROM codes c, q WHERE c.vec_id <> q.q_id)
SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
           ORDER BY hamming, vec_id) AS BIGINT) AS rank,
       vec_id, hamming
FROM d
QUALIFY rank <= 5""",
        "events_cohort_ltv": """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(floor(value * 100) AS BIGINT) AS v_c
  FROM events),
first AS (SELECT user_id, min(d) AS c0 FROM ev GROUP BY 1),
cell AS (
  SELECT f.c0 AS cohort_day,
         CAST(date_diff('day', f.c0, ev.d) AS BIGINT) AS age,
         CAST(sum(ev.v_c) AS BIGINT) AS value_c,
         CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_active
  FROM ev JOIN first f USING (user_id)
  GROUP BY 1, 2)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort, age, n_active,
       value_c,
       CAST(sum(value_c) OVER (PARTITION BY cohort_day ORDER BY age
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_value_c
FROM cell""",
        "graph_bfs_depths": _oracle_recursive("""
, e AS (
  SELECT DISTINCT src_doc_id AS s, tgt_doc_id AS t
  FROM web_links_full WHERE k % 4 <> 0
),
bfs(node, depth) AS (
  SELECT doc_id, 0 FROM web_pages WHERE doc_id % 97 = 0
  UNION
  SELECT e.t, b.depth + 1 FROM bfs b JOIN e ON e.s = b.node
  WHERE b.depth < 64
)
SELECT node AS doc_id, CAST(min(depth) AS BIGINT) AS depth
FROM bfs GROUP BY 1"""),
        "graph_motifs": _oracle("""
, e0 AS (
  SELECT DISTINCT src_doc_id AS s, tgt_doc_id AS t
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
),
und AS MATERIALIZED (
  SELECT s, t FROM e0 UNION SELECT t, s FROM e0
),
dg AS (SELECT s AS v, CAST(count(*) AS BIGINT) AS d
       FROM und GROUP BY 1),
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d) // 2 AS BIGINT) AS n_edges,
         sum(CAST(d * (d - 1) // 2 AS HUGEINT)) AS w
  FROM dg),
cn AS MATERIALIZED (
  SELECT a.t AS u, b.t AS v, CAST(count(*) AS BIGINT) AS cn
  FROM und a JOIN und b ON b.s = a.s AND a.t < b.t
  GROUP BY 1, 2),
tri AS (
  SELECT sum(CAST(c.cn AS HUGEINT)) AS t3
  FROM cn c JOIN und e ON e.s = c.u AND e.t = c.v),
c4 AS (SELECT sum(CAST(c.cn * (c.cn - 1) // 2 AS HUGEINT)) AS q2
       FROM cn c)
SELECT b.n_nodes, b.n_edges, CAST(b.w AS BIGINT) AS n_wedges,
       CAST(coalesce(t.t3, 0) // 3 AS BIGINT) AS n_triangles,
       CAST(coalesce(c.q2, 0) // 2 AS BIGINT) AS n_4cycles,
       CASE WHEN b.w > 0 THEN
         CAST(coalesce(t.t3, 0) * 1000000 // b.w AS BIGINT)
       ELSE 0 END AS clustering_ppm
FROM base b CROSS JOIN tri t CROSS JOIN c4 c"""),
        "graph_degree_mixing": _oracle("""
, e0 AS (
  SELECT DISTINCT src_doc_id AS s, tgt_doc_id AS t
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
),
und AS MATERIALIZED (
  SELECT s, t FROM e0 UNION SELECT t, s FROM e0
),
dg AS MATERIALIZED (
  SELECT s AS v, CAST(count(*) AS BIGINT) AS deg
  FROM und GROUP BY 1),
knn AS (
  SELECT du.deg AS deg,
         CAST(sum(CAST(dv.deg AS HUGEINT)) * 1000000
              // count(*) AS BIGINT) AS knn_ppm
  FROM und u
  JOIN dg du ON du.v = u.s
  JOIN dg dv ON dv.v = u.t
  GROUP BY 1),
hist AS (
  SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
  FROM dg GROUP BY 1),
em AS (
  SELECT least(du.deg, dv.deg) AS deg,
         CAST(count(*) AS BIGINT) AS n_edges
  FROM und u
  JOIN dg du ON du.v = u.s
  JOIN dg dv ON dv.v = u.t
  WHERE u.s < u.t
  GROUP BY 1),
axis AS (
  SELECT h.deg, h.n_nodes, coalesce(em.n_edges, 0) AS n_edges
  FROM hist h LEFT JOIN em ON em.deg = h.deg),
curve AS (
  SELECT deg, n_nodes,
         sum(n_nodes) OVER () - sum(n_nodes) OVER (
           ORDER BY deg ROWS UNBOUNDED PRECEDING) AS n_richer,
         sum(n_edges) OVER () - sum(n_edges) OVER (
           ORDER BY deg ROWS UNBOUNDED PRECEDING) AS e_richer
  FROM axis)
SELECT c.deg, c.n_nodes, k.knn_ppm,
       CAST(c.n_richer AS BIGINT) AS n_richer,
       CAST(CASE WHEN c.n_richer >= 2 THEN
              2 * CAST(c.e_richer AS HUGEINT) * 1000000
                // (CAST(c.n_richer AS HUGEINT) * (c.n_richer - 1))
            END AS BIGINT) AS rich_club_ppm
FROM curve c JOIN knn k ON k.deg = c.deg"""),
        "graph_diameter": _oracle_recursive("""
, e0 AS (
  SELECT DISTINCT src_doc_id AS s, tgt_doc_id AS t
  FROM web_links_full WHERE k % 4 <> 0
),
und AS MATERIALIZED (
  SELECT s, t FROM e0 UNION SELECT t, s FROM e0
),
st AS (SELECT min(doc_id) AS s0 FROM web_pages),
b1(node, depth) AS (
  SELECT s0, 0 FROM st
  UNION
  SELECT u.t, b.depth + 1 FROM b1 b JOIN und u ON u.s = b.node
  WHERE b.depth < 64
),
f1 AS MATERIALIZED (SELECT node, min(depth) AS d FROM b1 GROUP BY 1),
far AS (SELECT node, d FROM f1 ORDER BY d DESC, node ASC LIMIT 1),
b2(node, depth) AS (
  SELECT node, 0 FROM far
  UNION
  SELECT u.t, b.depth + 1 FROM b2 b JOIN und u ON u.s = b.node
  WHERE b.depth < 64
),
f2 AS MATERIALIZED (SELECT node, min(depth) AS d FROM b2 GROUP BY 1),
summ AS (SELECT max(d) AS lb, count(*) AS nr FROM f2)
SELECT CAST(f2.d AS BIGINT) AS depth,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST((SELECT s0 FROM st) AS BIGINT) AS start_id,
       CAST((SELECT node FROM far) AS BIGINT) AS far_id,
       CAST((SELECT d FROM far) AS BIGINT) AS ecc_start,
       CAST((SELECT lb FROM summ) AS BIGINT) AS diameter_lb,
       CAST((SELECT nr FROM summ) AS BIGINT) AS n_reached
FROM f2 GROUP BY 1"""),
        "graph_hyperball": _oracle_recursive(f"""
, e AS (
  SELECT DISTINCT src_doc_id AS s, tgt_doc_id AS t
  FROM web_links_full WHERE k % 4 <> 0
),
ball(v, u, d) AS (
  SELECT doc_id, doc_id, 0 FROM web_pages
  UNION
  SELECT b.v, e.t, b.d + 1 FROM ball b JOIN e ON e.s = b.u
  WHERE b.d < 3
),
m AS (SELECT DISTINCT b.v, b.u FROM ball b
      JOIN web_pages p ON p.doc_id = b.u),
hx AS (SELECT v, md5(CAST(u AS VARCHAR)) AS h FROM m),
c AS (
  SELECT v, {_hexchunk_sql(1)} % 64 AS j,
         CAST({_hexchunk_sql(5)} * 65536 + {_hexchunk_sql(9)}
              AS BIGINT) AS w
  FROM hx
),
r AS (
  SELECT v, j,
         max(33 - CASE WHEN w = 0 THEN 0 ELSE length(bin(w)) END) AS M
  FROM c GROUP BY 1, 2
),
s AS (
  SELECT v, CAST(count(*) AS BIGINT) AS n_regs,
         CAST(sum(1::BIGINT << (33 - M))
              + (64 - count(*)) * (1::BIGINT << 33) AS BIGINT) AS s2
  FROM r GROUP BY 1
)
SELECT v AS doc_id, n_regs, s2,
       CAST(24945719810981888 // (1000 * s2) AS BIGINT) AS n_ball
FROM s"""),
        "graph_harmonic": _oracle_recursive(f"""
, e AS (
  SELECT DISTINCT src_doc_id AS s, tgt_doc_id AS t
  FROM web_links_full WHERE k % 4 <> 0
),
reach(v, u, d) AS (
  SELECT doc_id, doc_id, 0 FROM web_pages
  UNION
  SELECT b.v, e.t, b.d + 1 FROM reach b JOIN e ON e.s = b.u
  WHERE b.d < 3
),
md AS (
  SELECT r.v, r.u, min(r.d) AS md
  FROM reach r JOIN web_pages p ON p.doc_id = r.u
  GROUP BY 1, 2
),
mem AS (
  SELECT m.v, t.t, m.u
  FROM md m JOIN (SELECT unnest(generate_series(0, 3)) AS t) t
    ON m.md <= t.t
),
hx AS (SELECT v, t, md5(CAST(u AS VARCHAR)) AS h FROM mem),
c AS (
  SELECT v, t, {_hexchunk_sql(1)} % 64 AS j,
         CAST({_hexchunk_sql(5)} * 65536 + {_hexchunk_sql(9)}
              AS BIGINT) AS w
  FROM hx
),
r AS (
  SELECT v, t, j,
         max(33 - CASE WHEN w = 0 THEN 0 ELSE length(bin(w)) END) AS M
  FROM c GROUP BY 1, 2, 3
),
s AS (
  SELECT v, t,
         CAST(24945719810981888 // (1000 *
           (sum(1::BIGINT << (33 - M))
            + (64 - count(*)) * (1::BIGINT << 33))) AS BIGINT) AS n_t
  FROM r GROUP BY 1, 2
),
p AS (
  SELECT v,
         max(CASE WHEN t = 0 THEN n_t END) AS n0,
         max(CASE WHEN t = 1 THEN n_t END) AS n1,
         max(CASE WHEN t = 2 THEN n_t END) AS n2,
         max(CASE WHEN t = 3 THEN n_t END) AS n3
  FROM s GROUP BY 1
)
SELECT v AS doc_id, n3 AS n_ball,
       CAST(6*(n1-n0) + 3*(n2-n1) + 2*(n3-n2) AS BIGINT) AS h_lcm
FROM p"""),
        "graph_neighborhood": _oracle_recursive(f"""
, e AS (
  SELECT DISTINCT src_doc_id AS s, tgt_doc_id AS t
  FROM web_links_full WHERE k % 4 <> 0
),
reach(v, u, d) AS (
  SELECT doc_id, doc_id, 0 FROM web_pages
  UNION
  SELECT b.v, e.t, b.d + 1 FROM reach b JOIN e ON e.s = b.u
  WHERE b.d < 3
),
md AS (
  SELECT r.v, r.u, min(r.d) AS md
  FROM reach r JOIN web_pages p ON p.doc_id = r.u
  GROUP BY 1, 2
),
mem AS (
  SELECT m.v, t.t, m.u
  FROM md m JOIN (SELECT unnest(generate_series(0, 3)) AS t) t
    ON m.md <= t.t
),
hx AS (SELECT v, t, md5(CAST(u AS VARCHAR)) AS h FROM mem),
c AS (
  SELECT v, t, {_hexchunk_sql(1)} % 64 AS j,
         CAST({_hexchunk_sql(5)} * 65536 + {_hexchunk_sql(9)}
              AS BIGINT) AS w
  FROM hx
),
r AS (
  SELECT v, t, j,
         max(33 - CASE WHEN w = 0 THEN 0 ELSE length(bin(w)) END) AS M
  FROM c GROUP BY 1, 2, 3
),
s AS (
  SELECT v, t,
         CAST(24945719810981888 // (1000 *
           (sum(1::BIGINT << (33 - M))
            + (64 - count(*)) * (1::BIGINT << 33))) AS BIGINT) AS n_t
  FROM r GROUP BY 1, 2
),
nt AS (SELECT t, CAST(sum(n_t) AS BIGINT) AS n_pairs FROM s GROUP BY 1),
hz AS (SELECT n_pairs AS horizon FROM nt WHERE t = 3),
fr AS (
  SELECT t, n_pairs,
         CAST(n_pairs * 10000 // horizon AS BIGINT) AS frac_bp
  FROM nt, hz
),
eff AS (SELECT min(t) AS eff_t FROM fr WHERE frac_bp >= 9000)
SELECT CAST(f.t AS INTEGER) AS t, f.n_pairs, f.frac_bp,
       f.t = e2.eff_t AS is_effective
FROM fr f, eff e2"""),
        "graph_sssp": _oracle_recursive("""
, e AS (
  SELECT src_doc_id AS s, tgt_doc_id AS t,
         min(k % 7 + 1) AS w
  FROM web_links_full
  WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
  GROUP BY 1, 2
),
p(v, d, hops) AS (
  SELECT doc_id, CAST(0 AS BIGINT), 0 FROM web_pages
  WHERE doc_id % 97 = 0
  UNION
  SELECT e.t, p.d + e.w, p.hops + 1 FROM p JOIN e ON e.s = p.v
  WHERE p.hops < 8
)
SELECT v AS doc_id, CAST(min(d) AS BIGINT) AS dist
FROM p GROUP BY 1"""),
        "crawl_reach_curve": _oracle_recursive("""
, e AS (
  SELECT DISTINCT src_doc_id AS s, tgt_doc_id AS t
  FROM web_links_full WHERE k % 4 <> 0
),
bfs(node, depth) AS (
  SELECT doc_id, 0 FROM web_pages WHERE doc_id % 97 = 0
  UNION
  SELECT e.t, b.depth + 1 FROM bfs b JOIN e ON e.s = b.node
  WHERE b.depth < 64
),
md AS (SELECT node, min(depth) AS depth FROM bfs GROUP BY 1),
per AS (SELECT depth, count(*) AS n_reached FROM md GROUP BY 1)
SELECT CAST(depth AS BIGINT) AS depth,
       CAST(n_reached AS BIGINT) AS n_reached,
       CAST(sum(n_reached) OVER (ORDER BY depth
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_reached,
       CAST(sum(n_reached) OVER (ORDER BY depth
            ROWS UNBOUNDED PRECEDING) * 1000000
            // (SELECT count(*) FROM web_pages) AS BIGINT)
           AS reach_ppm
FROM per"""),
        "graph_robustness": _oracle_recursive("""
, e AS (
  SELECT DISTINCT least(src_doc_id, tgt_doc_id) AS u,
         greatest(src_doc_id, tgt_doc_id) AS v
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
),
und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
top8 AS (
  SELECT id FROM (
    SELECT u AS id, count(*) AS d FROM und GROUP BY 1
    QUALIFY row_number() OVER (ORDER BY d DESC, u) <= 8)),
reach_f(node, lbl) AS (
  SELECT doc_id, doc_id FROM web_pages
  UNION
  SELECT u.v, r.lbl FROM reach_f r JOIN und u ON u.u = r.node
),
comp_f AS (SELECT node, min(lbl) AS c FROM reach_f GROUP BY 1),
sz_f AS (SELECT c, count(*) AS sz FROM comp_f GROUP BY 1),
e2 AS (
  SELECT e.u, e.v FROM e
  WHERE e.u NOT IN (SELECT id FROM top8)
    AND e.v NOT IN (SELECT id FROM top8)),
und2 AS (SELECT u, v FROM e2 UNION ALL SELECT v AS u, u AS v FROM e2),
v2 AS (SELECT doc_id FROM web_pages
       WHERE doc_id NOT IN (SELECT id FROM top8)),
reach_r(node, lbl) AS (
  SELECT doc_id, doc_id FROM v2
  UNION
  SELECT u.v, r.lbl FROM reach_r r JOIN und2 u ON u.u = r.node
),
comp_r AS (SELECT node, min(lbl) AS c FROM reach_r GROUP BY 1),
sz_r AS (SELECT c, count(*) AS sz FROM comp_r GROUP BY 1)
SELECT 'full' AS scenario,
       CAST((SELECT count(*) FROM web_pages) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
       CAST(count(*) AS BIGINT) AS n_components,
       CAST(max(sz) AS BIGINT) AS giant_size,
       CAST(max(sz) * 1000000
            // greatest((SELECT count(*) FROM web_pages), 1)
            AS BIGINT) AS giant_share_ppm
FROM sz_f
UNION ALL
SELECT 'minus_top8',
       CAST((SELECT count(*) FROM v2) AS BIGINT),
       CAST((SELECT count(*) FROM e2) AS BIGINT),
       CAST(count(*) AS BIGINT),
       CAST(max(sz) AS BIGINT),
       CAST(max(sz) * 1000000
            // greatest((SELECT count(*) FROM v2), 1) AS BIGINT)
FROM sz_r"""),
        "graph_cc_incremental": _oracle_recursive("""
, e AS (
  SELECT DISTINCT src_doc_id AS a, tgt_doc_id AS b
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
),
und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM web_pages
  UNION
  SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.node
)
SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS component
FROM reach GROUP BY 1"""),
        "graph_components": _oracle_recursive("""
, e AS (
  SELECT DISTINCT src_doc_id AS a, tgt_doc_id AS b
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
),
und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM web_pages
  UNION
  SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.node
)
SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS component
FROM reach GROUP BY 1"""),
        "graph_scc": _oracle_recursive("""
, e AS (
  SELECT DISTINCT src_doc_id AS a, tgt_doc_id AS b
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM web_pages
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON e.a = r.b
)
SELECT f.a AS doc_id, CAST(min(f.b) AS BIGINT) AS scc
FROM reach f JOIN reach r ON r.a = f.b AND r.b = f.a
GROUP BY 1"""),
        "graph_bowtie": _oracle_recursive("""
, e AS (
  SELECT DISTINCT src_doc_id AS a, tgt_doc_id AS b
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM web_pages
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON e.a = r.b
),
scc AS (
  SELECT f.a AS id, min(f.b) AS scc
  FROM reach f JOIN reach r ON r.a = f.b AND r.b = f.a
  GROUP BY 1
),
core AS (
  SELECT scc AS core FROM scc
  GROUP BY scc ORDER BY count(*) DESC, scc ASC LIMIT 1
),
core_m AS (SELECT id FROM scc JOIN core ON scc.scc = core.core),
fwd AS (SELECT DISTINCT r.b AS id
        FROM reach r JOIN core_m c ON r.a = c.id),
bwd AS (SELECT DISTINCT r.a AS id
        FROM reach r JOIN core_m c ON r.b = c.id),
und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
wreach(node, lbl) AS (
  SELECT doc_id, doc_id FROM web_pages
  UNION
  SELECT u.b, w.lbl FROM wreach w JOIN und u ON u.a = w.node
),
weak AS (SELECT node AS id, min(lbl) AS component
         FROM wreach GROUP BY 1),
core_weak AS (SELECT DISTINCT w.component AS wc
              FROM weak w JOIN core_m c ON w.id = c.id)
SELECT s.id AS doc_id, CAST(s.scc AS BIGINT) AS scc,
       CASE WHEN cm.id IS NOT NULL THEN 'CORE'
            WHEN bw.id IS NOT NULL THEN 'IN'
            WHEN fw.id IS NOT NULL THEN 'OUT'
            WHEN cw.wc IS NOT NULL THEN 'TENDRIL'
            ELSE 'DISC' END AS region
FROM scc s
LEFT JOIN core_m cm ON cm.id = s.id
LEFT JOIN bwd bw ON bw.id = s.id
LEFT JOIN fwd fw ON fw.id = s.id
JOIN weak w ON w.id = s.id
LEFT JOIN core_weak cw ON cw.wc = w.component"""),
        "graph_label_prop": _oracle(_lpa_unrolled_sql(iters=4)),
        "graph_modularity": _oracle(_modularity_sql(iters=4)),
        "graph_conductance": _oracle(_lpa_rounds_sql(4) + """,
deg AS (SELECT u AS id, count(*) AS deg FROM und GROUP BY 1),
m_row AS (SELECT count(*) AS m_edges FROM e),
internal AS (
  SELECT lu.lbl AS community, count(*) AS n_internal
  FROM e JOIN l4 lu ON lu.id = e.u
         JOIN l4 lv ON lv.id = e.v
  WHERE lu.lbl = lv.lbl
  GROUP BY 1
),
per_comm AS (
  SELECT l.lbl AS community, count(*) AS n_members,
         CAST(sum(coalesce(d.deg, 0)) AS BIGINT) AS vol
  FROM l4 l LEFT JOIN deg d ON d.id = l.id
  GROUP BY 1
)
SELECT CAST(p.community AS BIGINT) AS community,
       CAST(p.n_members AS BIGINT) AS n_members, p.vol,
       CAST(p.vol - 2 * coalesce(i.n_internal, 0) AS BIGINT) AS cut,
       CAST(CASE WHEN least(p.vol, 2 * m.m_edges - p.vol) > 0
                 THEN (p.vol - 2 * coalesce(i.n_internal, 0)) * 1000000
                      // least(p.vol, 2 * m.m_edges - p.vol)
            END AS BIGINT) AS conductance_ppm
FROM per_comm p
LEFT JOIN internal i ON i.community = p.community
CROSS JOIN m_row m"""),
        "graph_ppr": _oracle(_ppr_sql(rounds=4, scale=10 ** 12),
                             seeds=True),
        "graph_trustrank": _oracle(
            _spam_mass_sql(rounds=4, scale=10 ** 12, flag_ppm=500_000),
            seeds=True),
        "graph_opic": _oracle(_opic_sql(rounds=4, scale=10 ** 12)),
        "graph_salsa": _oracle_recursive("""
, de AS (
  SELECT DISTINCT src_doc_id AS u, tgt_doc_id AS v
  FROM web_links_full WHERE k % 4 <> 0
),
bn AS (SELECT 2 * u AS id FROM de UNION SELECT 2 * v + 1 FROM de),
be AS (SELECT 2 * u AS a, 2 * v + 1 AS b FROM de),
bu AS (SELECT a, b FROM be UNION SELECT b AS a, a AS b FROM be),
breach(node, lbl) AS (
  SELECT id, id FROM bn
  UNION
  SELECT e.b, r.lbl FROM breach r JOIN bu e ON e.a = r.node
),
bcc AS (SELECT node, min(lbl) AS component FROM breach GROUP BY 1),
sn AS (
  SELECT 2 * u AS bid, u AS doc_id, 'hub' AS side, count(*) AS deg
  FROM de GROUP BY u
  UNION ALL
  SELECT 2 * v + 1 AS bid, v AS doc_id, 'auth' AS side, count(*) AS deg
  FROM de GROUP BY v
),
sj AS (SELECT sn.*, c.component FROM sn JOIN bcc c ON c.node = sn.bid),
scomp AS (
  SELECT component, side, count(*) AS comp_nodes,
         CAST(sum(deg) AS BIGINT) AS comp_edges
  FROM sj GROUP BY 1, 2
),
stot AS (SELECT side, count(*) AS side_total FROM sj GROUP BY 1)
SELECT j.doc_id, j.side, CAST(j.deg AS BIGINT) AS deg,
       CAST(c.comp_nodes AS BIGINT) AS comp_nodes, c.comp_edges,
       CAST((c.comp_nodes * j.deg * 1000000000)
            // (t.side_total * c.comp_edges) AS BIGINT) AS score_ppb
FROM sj j
JOIN scomp c ON c.component = j.component AND c.side = j.side
JOIN stot t ON t.side = j.side"""),
        "graph_kcore": _oracle(_kcore_unrolled_sql(k=3, rounds=6)),
        "graph_densest": _oracle(_densest_unrolled_sql(rounds=8)),
        "graph_mis": _oracle(_mis_unrolled_sql(rounds=6)),
        "graph_gap_audit": _oracle("""
, e AS (
  SELECT DISTINCT src_doc_id AS s, tgt_doc_id AS d
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
),
m AS (
  SELECT doc_id AS vid,
         CAST(row_number() OVER (ORDER BY host, doc_id) - 1
              AS BIGINT) AS r
  FROM web_pages),
lo AS (
  SELECT 'original' AS ordering, s AS rs, d AS rd FROM e
  UNION ALL
  SELECT 'host_grouped', ms.r, md.r
  FROM e JOIN m ms ON ms.vid = e.s JOIN m md ON md.vid = e.d),
g AS (
  SELECT ordering,
         coalesce(rd - lag(rd) OVER (PARTITION BY ordering, rs
                                     ORDER BY rd),
                  abs(rd - rs)) AS gap
  FROM lo)
SELECT ordering, CAST(count(*) AS BIGINT) AS n_edges,
       CAST(sum(2 * length(bin(gap)) - 1) AS BIGINT) AS total_bits,
       CAST(sum(2 * length(bin(gap)) - 1) * 1000000 // count(*)
            AS BIGINT) AS bits_per_edge_ppm
FROM g GROUP BY 1"""),
        "graph_tiers": _oracle_recursive("""
, e AS (
  SELECT DISTINCT src_doc_id AS a, tgt_doc_id AS b
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM web_pages
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON e.a = r.b
),
sccs AS (
  SELECT f.a AS id, min(f.b) AS scc
  FROM reach f JOIN reach r ON r.a = f.b AND r.b = f.a
  GROUP BY 1
),
ce AS (
  SELECT DISTINCT sa.scc AS ca, sb.scc AS cb
  FROM e JOIN sccs sa ON sa.id = e.a JOIN sccs sb ON sb.id = e.b
  WHERE sa.scc <> sb.scc
),
lp(c, t) AS (
  SELECT DISTINCT scc, 0 FROM sccs
  UNION
  SELECT ce.cb, lp.t + 1 FROM lp JOIN ce ON ce.ca = lp.c
)
SELECT CAST(l.c AS BIGINT) AS scc,
       CAST(max(l.t) AS BIGINT) AS tier,
       CAST(m.n AS BIGINT) AS n_members
FROM lp l JOIN (SELECT scc, count(*) AS n FROM sccs GROUP BY 1) m
  ON m.scc = l.c
GROUP BY l.c, m.n"""),
        "crawl_slot_assign": _oracle("""
, hw AS (SELECT host, count(*) AS weight FROM web_pages GROUP BY 1),
r AS (SELECT host, weight,
             CAST(row_number() OVER (ORDER BY -weight, host) - 1
                  AS BIGINT) AS rank
      FROM hw)
SELECT host, CAST(weight AS BIGINT) AS weight, rank,
       CAST(CASE WHEN (rank // 4) % 2 = 0 THEN rank % 4
                 ELSE 3 - rank % 4 END AS INTEGER) AS slot
FROM r"""),
        "graph_ktruss": _oracle(_ktruss_unrolled_sql(k=3, rounds=6)),
        "graph_random_walks": _oracle(_walks_oracle_sql(4, 2)),
        "ann_recall_audit": """
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
         + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
         + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS q_id, v AS q_vec, bucket FROM b
      WHERE vec_id < 5),
bs AS (
  SELECT q.q_id, b.vec_id,
         CAST(floor(
           list_dot_product(b.v, q.q_vec)
           / (sqrt(list_dot_product(b.v, b.v))
              * sqrt(list_dot_product(q.q_vec, q.q_vec)))
           * 1000000) AS BIGINT) AS sim_ppm
  FROM b, q WHERE b.vec_id <> q.q_id
),
br AS (
  SELECT q_id, vec_id, rank FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id
                ORDER BY sim_ppm DESC, vec_id) AS rank
    FROM bs) WHERE rank <= 5
),
vs AS (
  SELECT q.q_id, b.vec_id,
         CAST(floor(
           list_dot_product(b.v, q.q_vec)
           / (sqrt(list_dot_product(b.v, b.v))
              * sqrt(list_dot_product(q.q_vec, q.q_vec)))
           * 1000000) AS BIGINT) AS sim_ppm
  FROM b JOIN q USING (bucket) WHERE b.vec_id <> q.q_id
),
vr AS (
  SELECT q_id, vec_id, rank FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id
                ORDER BY sim_ppm DESC, vec_id) AS rank
    FROM vs) WHERE rank <= 5
),
ks(k) AS (VALUES (1), (3), (5)),
hits AS (
  SELECT i.q_id, k.k, count(*) AS n_hits
  FROM vr i
  JOIN br t ON t.q_id = i.q_id AND t.vec_id = i.vec_id
  CROSS JOIN ks k
  WHERE i.rank <= k.k AND t.rank <= k.k
  GROUP BY 1, 2)
SELECT q.q_id, CAST(k.k AS INTEGER) AS k,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * 1000000 // k.k AS BIGINT)
           AS recall_ppm
FROM q CROSS JOIN ks k
LEFT JOIN hits h ON h.q_id = q.q_id AND h.k = k.k""",
        "embed_sq8_recall": """
WITH p AS (
  SELECT vec_id, u.dim - 1 AS dim,
         CAST(embedding[u.dim] AS DOUBLE) AS x
  FROM embeddings,
  LATERAL unnest(range(1, len(embedding) + 1)) AS u(dim)
),
sc AS (SELECT dim, max(abs(x)) AS scale FROM p GROUP BY 1),
rec AS MATERIALIZED (
  SELECT p.vec_id,
         list(CASE WHEN sc.scale > 0
              THEN floor(p.x * 127 / sc.scale + 0.5) * sc.scale / 127
              ELSE 0.0 END ORDER BY p.dim) AS rv
  FROM p JOIN sc ON sc.dim = p.dim
  GROUP BY 1),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings),
qf AS (SELECT vec_id AS q_id, v AS q_vec FROM e WHERE vec_id < 5),
qq AS (SELECT vec_id AS q_id, rv AS q_rv FROM rec WHERE vec_id < 5),
tf AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, e.vec_id,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             CAST(floor(list_dot_product(e.v, q.q_vec)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(q.q_vec, q.q_vec)))
               * 1000000) AS BIGINT) DESC, e.vec_id) AS rank
    FROM e CROSS JOIN qf q WHERE e.vec_id <> q.q_id
  ) WHERE rank <= 5),
tq AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, r.vec_id,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             CAST(floor(list_dot_product(r.rv, q.q_rv)
               / (sqrt(list_dot_product(r.rv, r.rv))
                  * sqrt(list_dot_product(q.q_rv, q.q_rv)))
               * 1000000) AS BIGINT) DESC, r.vec_id) AS rank
    FROM rec r CROSS JOIN qq q WHERE r.vec_id <> q.q_id
  ) WHERE rank <= 5),
h AS (
  SELECT tf.q_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM tf JOIN tq ON tq.q_id = tf.q_id AND tq.vec_id = tf.vec_id
  GROUP BY 1)
SELECT q.q_id, coalesce(h.n_hits, 0) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * 1000000 // 5 AS BIGINT)
         AS recall_ppm
FROM qf q LEFT JOIN h ON h.q_id = q.q_id""",
        "ann_filtered_topk": """
WITH b AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
           (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
         + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
         + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS q_id, v AS q_vec, label AS q_label, bucket
      FROM b WHERE vec_id < 5),
probes AS (
  SELECT q.q_id, q.q_vec, q.q_label, p.bucket
  FROM q, LATERAL unnest([xor(q.bucket, 0), xor(q.bucket, 1),
                          xor(q.bucket, 2), xor(q.bucket, 4),
                          xor(q.bucket, 8), xor(q.bucket, 3),
                          xor(q.bucket, 5), xor(q.bucket, 9),
                          xor(q.bucket, 6), xor(q.bucket, 10),
                          xor(q.bucket, 12)]) AS p(bucket)
),
sims AS (
  SELECT p.q_id, b.vec_id,
         CAST(floor(
           list_dot_product(b.v, p.q_vec)
           / (sqrt(list_dot_product(b.v, b.v))
              * sqrt(list_dot_product(p.q_vec, p.q_vec)))
           * 1000000) AS BIGINT) AS sim_ppm
  FROM b
  JOIN probes p ON p.bucket = b.bucket AND p.q_label = b.label
  WHERE b.vec_id <> p.q_id
),
r AS (
  SELECT q_id, vec_id, sim_ppm,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY sim_ppm DESC, vec_id) AS INTEGER) AS rank
  FROM sims
)
SELECT q_id, rank, vec_id, sim_ppm FROM r WHERE rank <= 5""",
        "ann_ivf_topk": """
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
         + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
         + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS q_id, v AS q_vec, bucket FROM b WHERE vec_id < 5),
sims AS (
  SELECT q.q_id, b.vec_id,
         CAST(floor(
           list_dot_product(b.v, q.q_vec)
           / (sqrt(list_dot_product(b.v, b.v))
              * sqrt(list_dot_product(q.q_vec, q.q_vec)))
           * 1000000) AS BIGINT) AS sim_ppm
  FROM b JOIN q USING (bucket) WHERE b.vec_id <> q.q_id
),
r AS (
  SELECT q_id, vec_id, sim_ppm,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY sim_ppm DESC, vec_id) AS INTEGER) AS rank
  FROM sims
)
SELECT q_id, rank, vec_id, sim_ppm FROM r WHERE rank <= 5""",
        **_pipeline_oracles(),
        **_golden_oracles(),
    }


def _golden_oracles() -> dict[str, str]:
    """DuckDB oracles for queries whose semantics aren't SQL-expressible
    (seeded numpy hyperplanes, xxhash64, iterative decimal
    PageRank): a golden parquet frozen from the independently
    test-pinned path (scripts/make_golden.py; drift guarded by
    tests/test_golden.py).

    Honest scope of these rows: the goldens are frozen from THIS
    engine's own output, so the driver compare certifies determinism
    and non-drift, NOT independent semantics.  The independent
    correctness evidence for each lives in pytest pins that never read
    a golden — dense-numpy PageRank (tests/test_graph_algos.py),
    brute-force recall floors for every ANN/minhash/simhash tier and
    byte-level decode checks for media (tests/test_functions.py).
    Regenerating a golden (make_golden.py --only) is only sound while
    those pins stay green.  Determinism itself is by construction:
    hash-derived randomness, per-row fixed-order float math, exact
    decimal aggregation."""
    g = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden")
    return {
        "graph_pagerank": (
            f"SELECT doc_id, rank_ppb "
            f"FROM read_parquet('{g}/graph_pagerank.parquet')"),
        "graph_hits": (
            f"SELECT doc_id, hub_ppb, auth_ppb "
            f"FROM read_parquet('{g}/graph_hits.parquet')"),
        "dedup_minhash": (
            f"SELECT id_a, id_b, est_jaccard_bp "
            f"FROM read_parquet('{g}/dedup_minhash.parquet')"),
        "dedup_simhash": (
            f"SELECT id_a, id_b, hamming "
            f"FROM read_parquet('{g}/dedup_simhash.parquet')"),
        "dedup_minhash_incremental": (
            f"SELECT id_a, id_b, est_jaccard_bp, scope "
            f"FROM read_parquet('{g}/dedup_minhash_incremental.parquet')"),
        "ann_lsh_topk": (
            f"SELECT q_id, rank, vec_id, sim_ppm "
            f"FROM read_parquet('{g}/ann_lsh_topk.parquet')"),
        "ann_pq_topk": (
            f"SELECT q_id, rank, vec_id, sim_ppm "
            f"FROM read_parquet('{g}/ann_pq_topk.parquet')"),
        "ann_ivfpq_topk": (
            f"SELECT q_id, rank, vec_id, sim_ppm "
            f"FROM read_parquet('{g}/ann_ivfpq_topk.parquet')"),
        # the persisted index is bit-identical to the inline pipeline
        # (same seeds, same hash sample, shared ADC/re-rank tail), so
        # it shares the inline golden — the pytest plan pin + equality
        # test carry the physical-layout evidence
        "ann_ivfpq_index_topk": (
            f"SELECT q_id, rank, vec_id, sim_ppm "
            f"FROM read_parquet('{g}/ann_ivfpq_topk.parquet')"),
        "media_features": (
            f"SELECT media_id, kind, n_bytes, sha, feat0_ppm "
            f"FROM read_parquet('{g}/media_features.parquet')"),
        "media_decode": (
            f"SELECT media_id, kind, n_bytes, sha, decoded, "
            f"feat0_ppm, feat1_ppm "
            f"FROM read_parquet('{g}/media_decode.parquet')"),
        "media_phash": (
            f"SELECT id_a, id_b, hamming "
            f"FROM read_parquet('{g}/media_phash.parquet')"),
        "media_frames": (
            f"SELECT media_id, frame_idx, n_frames, frame_hash "
            f"FROM read_parquet('{g}/media_frames.parquet')"),
        "media_resize": (
            f"SELECT media_id, resized_md5, decoded "
            f"FROM read_parquet('{g}/media_resize.parquet')"),
        "media_aphash": (
            f"SELECT id_a, id_b, hamming "
            f"FROM read_parquet('{g}/media_aphash.parquet')"),
        # exact-SQL oracle (not golden): media bytes are the utf-8 of
        # the text by construction, so md5(blob) ≡ md5(text)
        "media_dedup": """
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 400000, text FROM documents WHERE doc_id % 9 = 0
),
per AS (
  SELECT 'm-' || CAST(doc_id AS VARCHAR) AS media_id,
         md5(text) AS content_md5
  FROM docs
),
grp AS (
  SELECT content_md5, CAST(count(*) AS BIGINT) AS n_copies,
         min(media_id) AS keep_id
  FROM per GROUP BY 1
)
SELECT p.media_id, p.content_md5, g.keep_id, g.n_copies,
       p.media_id <> g.keep_id AS is_dup
FROM per p JOIN grp g USING (content_md5)""",
    }


def _funnel_oracle() -> str:
    from web_graph_spark.functions.stats import funnel_sql
    return funnel_sql(
        steps=("view", "click", "purchase", "signup"),
        table="(SELECT * FROM events "
              "WHERE ts < TIMESTAMP '2024-01-02 00:00:00')")


def _keyphrases_oracle() -> str:
    from web_graph_spark.functions.text import keyphrases_sql
    return keyphrases_sql()


def _retention_oracle() -> str:
    from web_graph_spark.functions.stats import cohort_retention_sql
    return cohort_retention_sql()


def _pipeline_oracles() -> dict[str, str]:
    from web_graph_spark.functions.text import (bm25_sql, count_sql,
                                                gopher_sql,
                                                lang_guess_sql,
                                                normalize_sql,
                                                pii_scrub_sql,
                                                stopword_count_sql,
                                                tfidf_sql)

    gopher_inj = """
  SELECT doc_id, text
    || CASE WHEN doc_id % 9 = 0 THEN chr(10) || '- alpha' || chr(10)
         || '- beta' || chr(10) || '- gamma' ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'to be continued...'
         || chr(10) || 'more soon...' ELSE '' END
    || CASE WHEN doc_id % 17 = 0 THEN ' ### ## # ...' ELSE '' END
    || CASE WHEN doc_id % 23 = 0
         THEN ' 123 456 789 101 112 131 415 161 718 192' ELSE '' END
    AS text
  FROM documents"""
    gopher = gopher_sql(table="inj").replace(
        "WITH c AS", f"WITH inj AS ({gopher_inj}),\nc AS", 1)

    norm = normalize_sql("text")
    n_tok = count_sql("text", r"\S+")
    n_punct = count_sql("text", "[.,;:!?]")
    n_digit = count_sql("text", "[0-9]")
    dups_cte = """
docs_dups AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, upper(text) FROM documents WHERE doc_id % 50 = 0
  UNION ALL
  SELECT doc_id + 200000, text || ' zz qq ww' FROM documents
  WHERE doc_id % 50 = 1
)"""
    pii = pii_scrub_sql("text")
    from web_graph_spark.functions.text import ndcg_weights

    wlit = "[" + ", ".join(str(w) for w in ndcg_weights(10)) + "]"
    ranked_parts = "\n    UNION ALL\n    ".join(
        f"SELECT '{t}' AS query, doc_id, rank "
        f"FROM ({bm25_sql((t,), k=10)}) b_{t}"
        for t in SEARCH_TERMS)
    qrel_parts = "\n    UNION ALL\n    ".join(
        f"SELECT '{t}' AS query, doc_id, "
        "CASE WHEN tf >= 3 THEN 2 ELSE 1 END AS rel "
        f"FROM (SELECT doc_id, "
        f"CAST({count_sql('lower(text)', chr(92) + 'b' + t + chr(92) + 'b')} AS BIGINT)"
        f" AS tf FROM documents) q_{t} WHERE tf >= 1"
        for t in SEARCH_TERMS)
    retrieval_eval = f"""
WITH ranked AS (
    {ranked_parts}
),
qrels AS (
    {qrel_parts}
),
j AS (
  SELECT r.query, r.rank, coalesce(q.rel, 0) AS rel
  FROM ranked r LEFT JOIN qrels q USING (query, doc_id)),
got AS (
  SELECT query,
         CAST(sum(((1 << rel) - 1) * ({wlit})[rank]) AS BIGINT)
         AS dcg,
         CAST(sum(CASE WHEN rel >= 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS hits_at_k,
         min(CASE WHEN rel >= 1 THEN rank END) AS first_hit
  FROM j GROUP BY 1),
ideal AS (
  SELECT query, CAST(count(*) AS BIGINT) AS n_rel,
         CAST(sum(CASE WHEN pos <= 10
                  THEN ((1 << rel) - 1) * ({wlit})[pos]
                  ELSE 0 END) AS BIGINT) AS idcg
  FROM (SELECT query, rel,
               row_number() OVER (PARTITION BY query
                                  ORDER BY rel DESC, doc_id) AS pos
        FROM qrels) p GROUP BY 1)
SELECT i.query, i.n_rel,
       CAST(coalesce(g.hits_at_k, 0) AS BIGINT) AS hits_at_k,
       CAST(1000000 * coalesce(g.hits_at_k, 0) // i.n_rel AS BIGINT)
       AS recall_ppm,
       CAST(coalesce(1000000 // g.first_hit, 0) AS BIGINT)
       AS mrr_ppm,
       CAST(coalesce(g.dcg, 0) AS BIGINT) AS dcg, i.idcg,
       CAST(1000000 * coalesce(g.dcg, 0) // i.idcg AS BIGINT)
       AS ndcg_ppm
FROM ideal i LEFT JOIN got g USING (query)"""
    quality_expr = f"""CAST(greatest(
           least({n_tok}, 200) * 20
           + floor(({stopword_count_sql('text')}) * 10000.0
                   / greatest({n_tok}, 1))
           - floor({n_punct} * 10000.0 / greatest(length(text), 1))
           - floor({n_digit} * 10000.0 / greatest(length(text), 1)),
           0) AS BIGINT)"""
    calibration = f"""
WITH scored AS (
  SELECT doc_id, {quality_expr} AS score
  FROM ({gopher_inj}) inj
),
labels AS (
  SELECT doc_id, passes AS label FROM ({gopher}) g
),
j AS (SELECT s.score, l.label
      FROM scored s JOIN labels l USING (doc_id)),
ex AS (
  SELECT t.threshold, j.score >= t.threshold AS pred, j.label
  FROM j CROSS JOIN (SELECT unnest([0, 1000, 2000, 3000, 4000, 5000,
                                    6000]) AS threshold) t
),
agg AS (
  SELECT threshold,
    CAST(sum(CASE WHEN pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(sum(CASE WHEN NOT pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT)
      AS tn
  FROM ex GROUP BY 1
)
SELECT threshold, tp, fp, fn, tn,
       CASE WHEN tp + fp > 0 THEN 1000000 * tp // (tp + fp) END
         AS precision_ppm,
       CASE WHEN tp + fn > 0 THEN 1000000 * tp // (tp + fn) END
         AS recall_ppm,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN 2000000 * tp // (2 * tp + fp + fn) END AS f1_ppm
FROM agg"""
    quality_auc = f"""
WITH {webgen.PAGES_SQL.strip().rstrip()},
scored AS (
  SELECT doc_id, {quality_expr} AS score
  FROM ({gopher_inj}) inj
),
labels AS (
  SELECT doc_id, passes AS label FROM ({gopher}) g
),
j AS (SELECT p.host, s.score, l.label
      FROM scored s JOIN labels l USING (doc_id)
      JOIN web_pages p USING (doc_id)),
cls AS (
  SELECT host, score, count(*) AS n,
         sum(CASE WHEN label THEN 1 ELSE 0 END) AS np
  FROM j GROUP BY 1, 2),
rk AS (
  SELECT host, n, np,
         2 * (sum(n) OVER (PARTITION BY host ORDER BY score) - n)
         + n + 1 AS rank2
  FROM cls),
m AS (
  SELECT host, CAST(sum(np) AS BIGINT) AS n_pos,
         CAST(sum(n - np) AS BIGINT) AS n_neg,
         CAST(count(*) AS BIGINT) AS n_score_classes,
         sum(np * rank2) AS r2p
  FROM rk GROUP BY 1)
SELECT host, n_pos, n_neg, n_score_classes,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN CAST((r2p - n_pos * (n_pos + 1)) * 1000000
                      // (2 * n_pos * n_neg) AS BIGINT) END AS auc_ppm
FROM m"""
    sql = {
        "text_search_topk": tfidf_sql(SEARCH_TERMS, k=20),
        "text_bm25_topk": bm25_sql(SEARCH_TERMS, k=20),
        "text_retrieval_eval": retrieval_eval,
        "text_gopher_rules": gopher,
        "text_filter_calibration": calibration,
        "text_quality_auc": quality_auc,
        "text_hashed_classifier": f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
uni AS (SELECT doc_id, unnest(t) AS g FROM toks),
bi AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
  FROM toks, unnest(range(1, len(t))) AS r(i)
),
pb AS (
  SELECT doc_id, substr(md5(g), 1, 2) AS b,
         CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
  GROUP BY 1, 2
),
wt AS (
  SELECT printf('%02x', i) AS b, label,
         {_hex16_sql("printf('%02x', i) || '|' || label")} - 32768 AS w
  FROM range(256) AS r(i),
       unnest({list(CLASSIFIER_LABELS)!r}) AS l(label)
),
sc AS (
  SELECT doc_id, label, CAST(sum(cnt * w) AS BIGINT) AS score,
         CAST(sum(cnt) AS BIGINT) AS n_grams
  FROM pb JOIN wt USING (b) GROUP BY 1, 2
),
rk AS (
  SELECT *,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, label) AS rn,
         lead(score) OVER (PARTITION BY doc_id
                           ORDER BY score DESC, label) AS runner
  FROM sc
)
SELECT doc_id, n_grams, label, score,
       CAST(score - coalesce(runner, score) AS BIGINT) AS margin
FROM rk WHERE rn = 1""",
        "text_keyphrases": _keyphrases_oracle(),
        "text_inverted_index": f"""
WITH t AS ({_POSITIONS_SQL}),
per_doc AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
         array_to_string(list_sort(list(pos)), ',') AS plist
  FROM t GROUP BY 1, 2)
SELECT term, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tf) AS BIGINT) AS n_occurrences,
       md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || plist, '|'
           ORDER BY CAST(doc_id AS VARCHAR) || ':' || plist))
       AS postings_digest
FROM per_doc GROUP BY 1""",
        "text_cooccurrence": f"""
WITH t AS ({_POSITIONS_SQL}),
p AS (
  SELECT least(a.term, b.term) AS w1, greatest(a.term, b.term) AS w2,
         CAST(1000000 AS BIGINT) AS wppm
  FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  UNION ALL
  SELECT least(a.term, b.term), greatest(a.term, b.term),
         CAST(500000 AS BIGINT)
  FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 2)
SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(wppm) AS BIGINT) AS weight_ppm
FROM p GROUP BY 1, 2 HAVING count(*) >= 3""",
        "text_phrase_search": f"""
WITH t AS ({_POSITIONS_SQL}),
a AS (SELECT doc_id, pos AS p0 FROM t WHERE term = 'big'),
b AS (SELECT doc_id, pos - 1 AS p0 FROM t WHERE term = 'order'),
c AS (SELECT doc_id, pos - 2 AS p0 FROM t WHERE term = 'scan')
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches
FROM a JOIN b USING (doc_id, p0) JOIN c USING (doc_id, p0)
GROUP BY 1""",
        "text_pii_scrub": f"""
WITH inj AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 7 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@mail.example.com' ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' server 10.0.' || CAST(doc_id % 200 AS VARCHAR)
                 || '.25 up' ELSE '' END
    || CASE WHEN doc_id % 13 = 0
            THEN ' call +1 555 010-'
                 || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
            ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       {pii['n_email']} AS n_email,
       {pii['n_ipv4']} AS n_ipv4,
       {pii['n_phone']} AS n_phone,
       CAST(length({pii['clean']}) AS BIGINT) AS clean_len,
       md5({pii['clean']}) AS clean_hash
FROM inj""",
        "text_token_stats": f"""
SELECT doc_id,
       CAST({n_tok} AS BIGINT) AS n_tokens,
       CAST({count_sql('text', '[A-Za-z0-9]{1,4}')} AS BIGINT) AS n_pieces,
       CAST(length(text) AS BIGINT) AS n_chars_m
FROM documents""",
        "text_quality": f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST({n_tok} AS BIGINT) AS n_tokens,
       CAST(floor({n_punct} * 10000.0 / greatest(length(text), 1))
            AS BIGINT) AS punct_ratio_bp,
       CAST(floor({n_digit} * 10000.0 / greatest(length(text), 1))
            AS BIGINT) AS digit_ratio_bp,
       CAST(floor(({stopword_count_sql('text')}) * 10000.0
                  / greatest({n_tok}, 1)) AS BIGINT) AS stopword_ratio_bp,
       CAST(greatest(
           least({n_tok}, 200) * 20
           + floor(({stopword_count_sql('text')}) * 10000.0
                   / greatest({n_tok}, 1))
           - floor({n_punct} * 10000.0 / greatest(length(text), 1))
           - floor({n_digit} * 10000.0 / greatest(length(text), 1)),
           0) AS BIGINT) AS quality_score
FROM documents""",
        "text_readability": """
WITH corpus AS (
  SELECT doc_id, replace(text, ' table', ' table.') AS text
  FROM documents
),
c AS (
  SELECT doc_id,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
           AS n_sentences,
         len(regexp_extract_all(text, '\\S+')) AS n_words,
         len(regexp_extract_all(lower(text), '[aeiouy]+'))
           AS n_syllables
  FROM corpus
)
SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       CASE WHEN n_words = 0 THEN NULL
            ELSE CAST(206835 - (1015 * n_words) // n_sentences
                      - (84600 * n_syllables) // n_words AS BIGINT)
       END AS ease_milli,
       CASE WHEN n_words = 0 THEN NULL
            ELSE CAST((390 * n_words) // n_sentences
                      + (11800 * n_syllables) // n_words
                      - 15590 AS BIGINT)
       END AS grade_milli
FROM c""",
        "text_script_mix": _script_mix_sql(),
        "text_textrank": """
WITH corpus AS (
  SELECT doc_id, replace(text, ' table', ' table.') AS text
  FROM documents
),
s0 AS (
  SELECT doc_id, u.i - 1 AS sent_idx, trim(parts[u.i]) AS sentence
  FROM (SELECT doc_id, string_split(text, '.') AS parts FROM corpus),
       UNNEST(generate_series(1, len(parts))) AS u(i)
),
sents AS (SELECT * FROM s0 WHERE sentence <> ''),
trip AS (
  SELECT DISTINCT doc_id, sent_idx, tok FROM (
    SELECT doc_id, sent_idx,
           unnest(string_split(sentence, ' ')) AS tok
    FROM sents) t WHERE tok <> ''
),
pairs AS (
  SELECT a.doc_id, a.sent_idx AS si, b.sent_idx AS sj,
         count(*) AS shared
  FROM trip a
  JOIN trip b ON b.doc_id = a.doc_id AND b.tok = a.tok
             AND b.sent_idx <> a.sent_idx
  GROUP BY 1, 2, 3
),
sco AS (
  SELECT doc_id, si AS sent_idx, CAST(sum(shared) AS BIGINT) AS score
  FROM pairs GROUP BY 1, 2
),
nd AS (SELECT doc_id, count(*) AS n_sents FROM sents GROUP BY 1),
ranked AS (
  SELECT s.doc_id, s.sent_idx, n.n_sents,
         coalesce(sc.score, 0) AS score, s.sentence,
         row_number() OVER (PARTITION BY s.doc_id
                            ORDER BY coalesce(sc.score, 0) DESC,
                                     s.sent_idx ASC) AS rank
  FROM sents s
  JOIN nd n ON n.doc_id = s.doc_id
  LEFT JOIN sco sc ON sc.doc_id = s.doc_id
                  AND sc.sent_idx = s.sent_idx
)
SELECT doc_id, CAST(sent_idx AS BIGINT) AS sent_idx,
       CAST(n_sents AS BIGINT) AS n_sents,
       CAST(score AS BIGINT) AS score,
       CAST(rank AS BIGINT) AS rank, sentence
FROM ranked WHERE rank <= 2""",
        "text_lang_id": f"""
SELECT doc_id, lang, {lang_guess_sql('text')} AS lang_guess
FROM documents""",
        "text_mojibake": _mojibake_sql(),
        "text_bitext_candidates": _oracle("""
, e AS (
  SELECT src_doc_id AS s, tgt_doc_id AS t
  FROM web_links_full WHERE src_doc_id <> tgt_doc_id
),
dirs AS (
  SELECT least(s, t) AS a, greatest(s, t) AS b,
         max(CASE WHEN s < t THEN 1 ELSE 0 END) = 1 AS has_f,
         max(CASE WHEN s > t THEN 1 ELSE 0 END) = 1 AS has_r
  FROM e GROUP BY 1, 2),
cand AS MATERIALIZED (
  SELECT d.a, d.b, da.lang AS lang_a, db.lang AS lang_b,
         d.has_f AND d.has_r AS mutual,
         CAST(CASE WHEN greatest(da.n_chars, db.n_chars) = 0 THEN 0
              ELSE least(da.n_chars, db.n_chars) * 1000000
                   // greatest(da.n_chars, db.n_chars) END
              AS BIGINT) AS len_ratio_ppm
  FROM dirs d
  JOIN documents da ON da.doc_id = d.a
  JOIN documents db ON db.doc_id = d.b
  WHERE da.lang <> db.lang),
flt AS MATERIALIZED (
  SELECT * FROM cand WHERE len_ratio_ppm >= 500000),
ids AS (SELECT DISTINCT a AS id FROM flt
        UNION SELECT DISTINCT b FROM flt),
toks AS MATERIALIZED (
  SELECT DISTINCT d.doc_id AS id,
         regexp_replace(u.t, '[^a-z0-9]', '', 'g') AS tok
  FROM documents d
  JOIN ids ON ids.id = d.doc_id,
  LATERAL unnest(string_split_regex(lower(d.text), '[ \\t\\n\\r\\f]+'))
    AS u(t)
  WHERE regexp_replace(u.t, '[^a-z0-9]', '', 'g') <> ''),
sz AS (SELECT id, CAST(count(*) AS BIGINT) AS nt
       FROM toks GROUP BY 1),
inter AS (
  SELECT f.a, f.b, CAST(count(*) AS BIGINT) AS ni
  FROM flt f
  JOIN toks ta ON ta.id = f.a
  JOIN toks tb ON tb.id = f.b AND tb.tok = ta.tok
  GROUP BY 1, 2)
SELECT f.a AS doc_a, f.b AS doc_b, f.lang_a, f.lang_b, f.mutual,
       f.len_ratio_ppm,
       CAST(CASE WHEN coalesce(sa.nt, 0) + coalesce(sb.nt, 0)
                      - coalesce(i.ni, 0) = 0 THEN 0
            ELSE coalesce(i.ni, 0) * 1000000
                 // (coalesce(sa.nt, 0) + coalesce(sb.nt, 0)
                     - coalesce(i.ni, 0)) END AS BIGINT)
         AS jaccard_ppm,
       CAST(CASE WHEN coalesce(sa.nt, 0) + coalesce(sb.nt, 0)
                      - coalesce(i.ni, 0) = 0 THEN 0
            ELSE coalesce(i.ni, 0) * 1000000
                 // (coalesce(sa.nt, 0) + coalesce(sb.nt, 0)
                     - coalesce(i.ni, 0)) END AS BIGINT)
         >= 300000 AS is_candidate
FROM flt f
LEFT JOIN sz sa ON sa.id = f.a
LEFT JOIN sz sb ON sb.id = f.b
LEFT JOIN inter i ON i.a = f.a AND i.b = f.b"""),
        "text_lexicon_filter": "WITH lex(term, category) AS (VALUES "
        + ", ".join(f"('{t}', '{c}')" for t, c in LEXICON) + """),
toks AS (
  SELECT doc_id,
         regexp_replace(
             unnest(string_split_regex(lower(text),
                                       '[ \\t\\n\\r\\f]+')),
             '[^a-z0-9]', '', 'g') AS tok
  FROM documents),
hits AS (
  SELECT t.doc_id, l.category, count(*) AS n
  FROM toks t JOIN lex l ON l.term = t.tok
  GROUP BY 1, 2),
pd AS (
  SELECT doc_id,
         string_agg(category || ':' || CAST(n AS VARCHAR), ','
                    ORDER BY category, n) AS hits_by_cat,
         CAST(sum(CASE WHEN category = 'blocked' THEN n ELSE 0 END)
              AS BIGINT) AS nf,
         CAST(sum(n) AS BIGINT) AS n_hits
  FROM hits GROUP BY 1),
tot AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY 1)
SELECT d.doc_id,
       CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(p.hits_by_cat, '') AS hits_by_cat,
       coalesce(p.nf, 0) >= 2 AS flagged
FROM documents d
LEFT JOIN tot t USING (doc_id) LEFT JOIN pd p USING (doc_id)""",
        "text_code_detect": """
WITH inj AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 4 = 0 THEN
           chr(10) || 'function f' || CAST(doc_id AS VARCHAR)
           || '(x) {' || chr(10) || '  var y = x + '
           || CAST(doc_id AS VARCHAR) || ';' || chr(10)
           || '  if (y > 10) {' || chr(10) || '    return y;'
           || chr(10) || '  }' || chr(10)
           || '  const z = [1, 2, 3];' || chr(10) || '}'
           ELSE '' END AS text
  FROM documents),
sig AS (
  SELECT doc_id,
         (length(text) - length(regexp_replace(text,
             '[{}();=<>\\[\\]]', '', 'g'))) * 10000 AS s,
         greatest(length(text), 1) AS nc,
         len(regexp_extract_all(text, '(^|\\n)(  |\\t)')) * 10000
             AS ind,
         greatest(length(text)
                  - length(replace(text, chr(10), '')) + 1, 1) AS ln,
         len(regexp_extract_all(text, '[;{]($|\\n)')) * 10000 AS eol,
         CAST(len(regexp_extract_all(text,
             '\\b(def|return|import|function|var|const|class)\\b'
             || '|if\\s*\\(|for\\s*\\(')) AS BIGINT) AS kw_hits
  FROM inj)
SELECT doc_id,
       CAST(s // nc AS BIGINT) AS sym_bp,
       CAST(ind // ln AS BIGINT) AS indent_bp,
       CAST(eol // ln AS BIGINT) AS eol_semi_bp,
       kw_hits,
       CAST(s // nc + ind // ln + eol // ln + kw_hits * 100
            AS BIGINT) AS code_score_bp,
       s // nc + ind // ln + eol // ln + kw_hits * 100 >= 1500
           AS is_code
FROM sig""",
        "text_lang_confusion": f"""
WITH cells AS (
  SELECT lang, {lang_guess_sql('text')} AS lang_guess, count(*) AS n
  FROM documents GROUP BY 1, 2)
SELECT lang, lang_guess, CAST(n AS BIGINT) AS n,
       CAST(n * 1000000 // sum(n) OVER (PARTITION BY lang)
            AS BIGINT) AS share_ppm,
       lang = lang_guess AS agree
FROM cells""",
        "corpus_source_reputation": f"""
WITH q AS (
  SELECT source,
         CAST(greatest(
             least({n_tok}, 200) * 20
             + floor(({stopword_count_sql('text')}) * 10000.0
                     / greatest({n_tok}, 1))
             - floor({n_punct} * 10000.0 / greatest(length(text), 1))
             - floor({n_digit} * 10000.0 / greatest(length(text), 1)),
             0) AS BIGINT) AS quality_score
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(floor(sum(quality_score) * 1.0 / count(*)) AS BIGINT)
         AS avg_quality,
       CAST(floor(sum(CASE WHEN quality_score < 2000 THEN 1 ELSE 0 END)
                  * 10000.0 / count(*)) AS BIGINT)
         AS low_quality_share_bp,
       count(*) >= 3
         AND floor(sum(CASE WHEN quality_score < 2000 THEN 1 ELSE 0 END)
                   * 10000.0 / count(*)) <= 5000 AS keep
FROM q GROUP BY source""",
        "corpus_stratified_sample": f"""
WITH feat AS (
  SELECT doc_id,
         CAST(greatest(
             least({n_tok}, 200) * 20
             + floor(({stopword_count_sql('text')}) * 10000.0
                     / greatest({n_tok}, 1))
             - floor({n_punct} * 10000.0 / greatest(length(text), 1))
             - floor({n_digit} * 10000.0 / greatest(length(text), 1)),
             0) AS BIGINT) AS quality_score
  FROM documents
),
b AS (
  SELECT doc_id,
         CASE WHEN quality_score >= 2000 THEN 'high'
              WHEN quality_score >= 1200 THEN 'mid'
              ELSE 'low' END AS bucket
  FROM feat
),
r AS (
  SELECT doc_id, bucket,
         row_number() OVER (PARTITION BY bucket
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS sample_rank
  FROM b
)
SELECT doc_id, bucket, CAST(sample_rank AS BIGINT) AS sample_rank
FROM r WHERE sample_rank <= 40""",
        "corpus_sample_mix": f"""
WITH feat AS (
  SELECT doc_id,
         CAST({n_tok} AS BIGINT) AS n_tokens,
         CAST(greatest(
             least({n_tok}, 200) * 20
             + floor(({stopword_count_sql('text')}) * 10000.0
                     / greatest({n_tok}, 1))
             - floor({n_punct} * 10000.0 / greatest(length(text), 1))
             - floor({n_digit} * 10000.0 / greatest(length(text), 1)),
             0) AS BIGINT) AS quality_score
  FROM documents
),
b AS (
  SELECT doc_id, n_tokens, quality_score,
         CASE WHEN quality_score >= 2000 THEN 'high'
              WHEN quality_score >= 1200 THEN 'mid'
              ELSE 'low' END AS bucket,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS coin
  FROM feat
)
SELECT doc_id, bucket, n_tokens, quality_score FROM b
WHERE bucket = 'high'
   OR (bucket = 'mid' AND coin < '8000')
   OR (bucket = 'low' AND coin < '1999')""",
        "corpus_importance": """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
uni AS (SELECT doc_id, unnest(t) AS g FROM toks),
bi AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
  FROM toks, unnest(range(1, len(t))) AS r(i)
),
cg AS (
  SELECT doc_id, substr(md5(g), 1, 3) AS b
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
),
tg AS (
  SELECT c.b
  FROM cg c JOIN documents d USING (doc_id)
  WHERE d.lang = 'en'
),
ctr AS (SELECT b, count(*) AS ct_r FROM cg GROUP BY 1),
ctt AS (SELECT b, count(*) AS ct_t FROM tg GROUP BY 1),
totr AS (SELECT sum(ct_r) AS tot_r FROM ctr),
tott AS (SELECT coalesce(sum(ct_t), 0) AS tot_t FROM ctt),
w AS (
  SELECT ctr.b,
         ((coalesce(ct_t, 0) + 1) * (tot_r + 4096) * 10000)
         // ((ct_r + 1) * (tot_t + 4096)) AS w
  FROM ctr LEFT JOIN ctt USING (b), totr, tott
)
SELECT cg.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(w.w) AS BIGINT) AS imp_sum,
       CAST(sum(w.w) // count(*) AS BIGINT) AS imp_avg_bp
FROM cg JOIN w USING (b)
GROUP BY 1""",
        "corpus_perplexity": """
WITH toks AS (
  SELECT doc_id, substr(md5(t.g), 1, 3) AS b
  FROM documents, unnest(string_split(text, ' ')) AS t(g)
),
model AS (SELECT b, count(*)::BIGINT AS ct FROM toks GROUP BY 1),
tot AS (SELECT sum(ct)::BIGINT AS n_total FROM model),
w AS (SELECT b, (ct * 1000000000) // n_total AS w FROM model, tot),
scores AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens,
         sum(w.w)::BIGINT AS like_sum
  FROM toks JOIN w USING (b) GROUP BY 1
),
s2 AS (
  SELECT doc_id, n_tokens, like_sum // n_tokens AS avg_like_ppb,
         (like_sum // n_tokens) // 1000 AS sbin
  FROM scores
),
hist AS (SELECT sbin, count(*)::BIGINT AS cnt FROM s2 GROUP BY 1),
n AS (SELECT sum(cnt)::BIGINT AS n_docs FROM hist),
cum AS (
  SELECT sbin, coalesce(sum(cnt) OVER (
    ORDER BY sbin DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
  FROM hist
),
bkt AS (
  SELECT sbin,
         CASE WHEN cum_excl < (n_docs + 2) // 3 THEN 'head'
              WHEN cum_excl < (2 * n_docs + 2) // 3 THEN 'middle'
              ELSE 'tail' END AS ppx_bucket
  FROM cum, n
)
SELECT s2.doc_id, s2.n_tokens,
       CAST(s2.avg_like_ppb AS BIGINT) AS avg_like_ppb,
       bkt.ppx_bucket
FROM s2 JOIN bkt USING (sbin)""",
        "corpus_epoch_plan": r"""WITH inv AS (
  SELECT source,
         CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
           AS tokens
  FROM documents GROUP BY 1
)
, d AS (
  SELECT source AS host, CAST(tokens * 4 AS BIGINT) AS demand
  FROM inv
)""" + _fair_share_sql(100_000) + """
SELECT i.source, i.tokens, fs.alloc AS grant,
       CAST(CASE WHEN i.tokens > 0
                 THEN 1000000 * fs.alloc // i.tokens
                 ELSE 0 END AS BIGINT) AS epochs_ppm,
       fs.capped
FROM fs JOIN inv i ON i.source = fs.host""",
        "corpus_fertility": _bpe_fertility_oracle_sql(6),
        "corpus_pps_sample": r"""
WITH d AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
           AS weight
  FROM documents
),
c AS (
  SELECT doc_id, weight,
         CAST(coalesce(sum(weight) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum
  FROM d
),
w AS (SELECT sum(weight)::BIGINT AS W FROM d)
SELECT doc_id, weight,
       CAST((cum + weight) * 100 // W - cum * 100 // W AS BIGINT)
         AS n_points
FROM c, w
WHERE (cum + weight) * 100 // W - cum * 100 // W >= 1""",
        "corpus_bpe_merges": _bpe_oracle_sql(6),
        "corpus_bpe_encode": _bpe_encode_oracle_sql(6),
        "corpus_shuffle_shards": """
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc,
         CAST((
  (strpos('0123456789abcdef', substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
+ (strpos('0123456789abcdef', substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
+ (strpos('0123456789abcdef', substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
+ (strpos('0123456789abcdef', substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 16 AS INTEGER) AS shard,
         md5('shuf:' || CAST(doc_id AS VARCHAR)) AS coin,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
  FROM documents)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       md5(string_agg(doc, ',' ORDER BY coin, doc)) AS order_digest
FROM d GROUP BY 1""",
        "corpus_decontaminate": f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 500000,
         'totally novel preamble tokens then ' || text FROM documents
  WHERE doc_id % 97 = 0
),
scan AS (
  SELECT * FROM corpus
  WHERE NOT (doc_id % 97 = 0 AND doc_id < 500000)
),
bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
ctoks AS (
  SELECT doc_id, regexp_extract_all({norm}, '\\S+') AS words FROM scan
),
btoks AS (
  SELECT doc_id, regexp_extract_all({norm}, '\\S+') AS words FROM bench
),
csh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(words) - 4, 0)),
                   i -> array_to_string(words[i:i+4], ' ')))) AS s
  FROM ctoks
),
bsh AS (
  SELECT doc_id AS bench_doc, unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(words) - 4, 0)),
                   i -> array_to_string(words[i:i+4], ' ')))) AS s
  FROM btoks
)
SELECT c.doc_id,
       CAST(count(DISTINCT c.s) AS BIGINT) AS n_hit_shingles,
       CAST(count(DISTINCT b.bench_doc) AS BIGINT) AS n_benchmark_docs
FROM csh c JOIN bsh b ON c.s = b.s
GROUP BY c.doc_id""",
        "corpus_holdout_split": """
SELECT doc_id, source,
       CASE WHEN substr(md5(source), 1, 4) < '1999' THEN 'val'
            WHEN substr(md5(source), 1, 4) < '3332' THEN 'test'
            ELSE 'train' END AS split
FROM documents""",
        "corpus_span_dedup": """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
g AS (
  SELECT doc_id, i - 1 AS p, array_to_string(t[i:i+4], ' ') AS g
  FROM toks, unnest(range(1, len(t) - 3)) AS r(i)
),
dupg AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
cov AS (
  SELECT DISTINCT gg.doc_id, gg.p + j AS pos
  FROM g gg JOIN dupg USING (g), unnest(range(0, 5)) AS rr(j)
),
runs AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   = pos - 1 THEN 0 ELSE 1 END AS nr
  FROM cov
),
cstat AS (
  SELECT doc_id, count(*) AS dup_tokens, sum(nr) AS dup_spans
  FROM runs GROUP BY 1
),
tp AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS tok
  FROM toks, unnest(range(1, len(t) + 1)) AS r(i)
),
kept AS (
  SELECT tp.doc_id, tp.pos, tp.tok FROM tp
  WHERE NOT EXISTS (SELECT 1 FROM cov
                    WHERE cov.doc_id = tp.doc_id AND cov.pos = tp.pos)
),
cl AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY 1
)
SELECT tt.doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(coalesce(cs.dup_spans, 0) AS BIGINT) AS dup_spans,
       CAST(coalesce(cs.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(floor(coalesce(cs.dup_tokens, 0) * 10000.0
                  / greatest(len(t), 1)) AS BIGINT) AS dup_bp,
       coalesce(cl.clean_text, '') AS clean_text
FROM toks tt
LEFT JOIN cstat cs USING (doc_id)
LEFT JOIN cl USING (doc_id)""",
        "corpus_lang_mix": """
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
  FROM documents GROUP BY 1
),
m AS (SELECT max(n_lang) AS n_max FROM c),
r AS (
  SELECT lang, n_lang,
         CAST(floor(sqrt(CAST(n_lang AS DOUBLE) / n_max) * 16777216)
              AS BIGINT) AS t24,
         CAST(floor(sqrt(CAST(n_lang AS DOUBLE) / n_max) * 1000000)
              AS BIGINT) AS rate_ppm
  FROM c, m
)
SELECT d.doc_id, d.lang, r.n_lang, r.rate_ppm,
       (r.t24 >= 16777216
        OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)
           < lower(lpad(to_hex(r.t24), 6, '0'))) AS keep
FROM documents d JOIN r USING (lang)""",
        "text_boilerplate": """
WITH base AS (SELECT doc_id, source, text FROM documents),
btoks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM base),
content AS (
  SELECT doc_id, source,
         CAST(li AS INT) + 1
           + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
           + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS pos,
         array_to_string(list_slice(t, li * 12 + 1, li * 12 + 12),
                         ' ') AS line
  FROM btoks,
       unnest(range(0, CAST(ceil(len(t) / 12.0) AS INT))) AS r(li)
),
inj AS (
  SELECT doc_id, source, 0 AS pos,
         'NAV ' || source || ' home about contact' AS line FROM base
  UNION ALL
  SELECT doc_id, source, 1, 'FOOTER ' || source || ' copyright'
  FROM base WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, source,
         1 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END,
         'COOKIE consent banner'
  FROM base WHERE doc_id % 3 = 0
),
hl AS (
  SELECT doc_id, source AS grp, pos, line, md5(trim(line)) AS lh
  FROM (SELECT * FROM inj UNION ALL SELECT * FROM content)
),
gd AS (SELECT source AS grp, count(DISTINCT doc_id) AS g_docs
       FROM base GROUP BY 1),
cnt AS (SELECT grp, lh, count(DISTINCT doc_id) AS nd
        FROM hl GROUP BY 1, 2),
boiler AS (
  SELECT c.grp, c.lh FROM cnt c JOIN gd USING (grp)
  WHERE nd >= 2 AND nd * 10000 >= 5000 * g_docs
),
kept AS (
  SELECT h.* FROM hl h
  LEFT JOIN boiler b ON b.grp = h.grp AND b.lh = h.lh
  WHERE b.lh IS NULL
),
totals AS (SELECT doc_id, count(*) AS n_lines FROM hl GROUP BY 1),
folded AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text
  FROM kept GROUP BY 1
)
SELECT t.doc_id, CAST(t.n_lines AS BIGINT) AS n_lines,
       CAST(coalesce(f.n_kept, 0) AS BIGINT) AS n_kept,
       CAST((t.n_lines - coalesce(f.n_kept, 0)) * 10000 // t.n_lines
            AS BIGINT) AS boiler_bp,
       coalesce(f.clean_text, '') AS clean_text
FROM totals t LEFT JOIN folded f ON f.doc_id = t.doc_id""",
        "corpus_line_dedup": f"""
WITH {dups_cte},
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs_dups),
ln AS (
  SELECT doc_id, li,
         array_to_string(list_slice(t, li * 12 + 1, li * 12 + 12),
                         ' ') AS line
  FROM toks,
       unnest(range(0, CAST(ceil(len(t) / 12.0) AS INT))) AS r(li)
),
hl AS (SELECT doc_id, li, line, md5(trim(line)) AS lh FROM ln),
boiler AS (
  SELECT lh FROM hl GROUP BY lh HAVING count(DISTINCT doc_id) >= 2
),
kept AS (SELECT * FROM hl WHERE lh NOT IN (SELECT lh FROM boiler)),
totals AS (SELECT doc_id, count(*) AS n_lines FROM hl GROUP BY 1),
folded AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY li) AS clean_text
  FROM kept GROUP BY 1
)
SELECT t.doc_id, CAST(t.n_lines AS BIGINT) AS n_lines,
       CAST(coalesce(f.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(f.clean_text, '') AS clean_text
FROM totals t LEFT JOIN folded f ON f.doc_id = t.doc_id""",
        "corpus_packing_sweep": f"""
WITH t AS (
  SELECT doc_id, CAST({n_tok} AS BIGINT) AS nt FROM documents
),
o AS (
  SELECT doc_id, nt,
         coalesce(sum(nt) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS off
  FROM t
),
l AS (SELECT CAST(u.b AS BIGINT) AS b
      FROM UNNEST([512, 1024, 2048, 4096]) AS u(b)),
s AS (
  SELECT l.b, o.nt,
         (o.off + greatest(o.nt, 1) - 1) // l.b
           - o.off // l.b + 1 AS spans
  FROM o CROSS JOIN l)
SELECT b AS budget,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS total_tokens,
       CAST((sum(nt) + b - 1) // b AS BIGINT) AS n_packs,
       CAST(sum(CASE WHEN spans > 1 THEN 1 ELSE 0 END) AS BIGINT)
       AS n_split,
       CAST(1000000 * sum(CASE WHEN spans > 1 THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS split_ppm,
       CAST(sum(CASE WHEN spans > 1 THEN nt ELSE 0 END) AS BIGINT)
       AS frag_tokens,
       CAST(1000000 * sum(CASE WHEN spans > 1 THEN nt ELSE 0 END)
            // sum(nt) AS BIGINT) AS frag_ppm
FROM s GROUP BY b""",
        "corpus_pack_sequences": f"""
WITH t AS (
  SELECT doc_id, CAST({n_tok} AS BIGINT) AS n_tokens FROM documents
),
o AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS off
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(off // 512 AS BIGINT) AS pack_id,
       CAST(off % 512 AS BIGINT) AS offset_in_pack,
       CAST((off + greatest(n_tokens, 1) - 1) // 512 - off // 512 + 1
            AS BIGINT) AS n_packs_spanned
FROM o""",
        "corpus_chunk_overlap": """
WITH d AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                          'g')), ' ') AS ls
  FROM documents
  WHERE trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) <> ''
),
c AS (
  SELECT doc_id, ls, len(ls) AS n,
         CASE WHEN len(ls) <= 64 THEN 1
              ELSE (len(ls) - 64 + 47) // 48 + 1 END AS nc
  FROM d
),
k AS (SELECT doc_id, ls, n, unnest(range(0, nc)) AS k FROM c)
SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
       CAST(k * 48 AS BIGINT) AS start_tok,
       CAST(len(list_slice(ls, k*48 + 1, least(k*48 + 64, n)))
            AS BIGINT) AS n_tok,
       md5(array_to_string(list_slice(ls, k*48 + 1,
                                      least(k*48 + 64, n)), ' '))
         AS chunk_digest
FROM k""",
        "text_fingerprint": f"""
SELECT doc_id, md5({norm}) AS fingerprint FROM documents""",
        "text_winnowing": f"""
WITH base AS (
  SELECT doc_id,
         regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS c
  FROM documents),
grams AS (
  SELECT doc_id, u.pos,
         {_hexchunk_sql(1, "md5(substr(c, u.pos, 8))")} AS h
  FROM base, UNNEST(generate_series(1, length(c) - 7)) AS u(pos)
  WHERE length(c) >= 8),
keyed AS (
  SELECT doc_id, pos,
         h * 4294967296 + (4294967295 - pos) AS k,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM grams),
winm AS (
  SELECT doc_id, pos, n,
         min(k) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sk
  FROM keyed),
sel AS (
  SELECT DISTINCT doc_id, n, sk FROM winm
  WHERE pos <= greatest(n - 3, 1)),
agg AS (
  SELECT doc_id, CAST(max(n) AS BIGINT) AS n_kgrams,
         CAST(count(*) AS BIGINT) AS n_fingerprints,
         CAST(sum((sk // 4294967296) *
                  (4294967295 - sk % 4294967296 + 1)) AS BIGINT)
             AS fp_digest
  FROM sel GROUP BY 1)
SELECT d.doc_id,
       CAST(coalesce(a.n_kgrams, 0) AS BIGINT) AS n_kgrams,
       CAST(coalesce(greatest(a.n_kgrams - 3, 1), 0) AS BIGINT)
           AS n_windows,
       CAST(coalesce(a.n_fingerprints, 0) AS BIGINT) AS n_fingerprints,
       CAST(coalesce(a.n_fingerprints * 1000000
                     // greatest(a.n_kgrams - 3, 1), 0) AS BIGINT)
           AS density_ppm,
       CAST(coalesce(a.fp_digest, 0) AS BIGINT) AS fp_digest
FROM documents d LEFT JOIN agg a USING (doc_id)""",
        "text_repetition": """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
uni AS (SELECT doc_id, unnest(t) AS g FROM toks),
tstat AS (
  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT g) AS n_distinct
  FROM uni GROUP BY 1
),
bi AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
  FROM toks, unnest(range(1, len(t))) AS r(i)
),
bcnt AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
bstat AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM bcnt GROUP BY 1),
tri AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
  FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
),
tcnt AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2),
dstat AS (
  SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup,
         sum(c) AS tot
  FROM tcnt GROUP BY 1
)
SELECT ts.doc_id,
       CAST(ts.n_tokens AS BIGINT) AS n_tokens,
       CAST(floor(ts.n_distinct * 10000.0 / greatest(ts.n_tokens, 1))
            AS BIGINT) AS distinct_token_bp,
       CAST(floor(coalesce(bs.mx, 0) * 10000.0
                  / greatest(coalesce(bs.tot, 0), 1))
            AS BIGINT) AS top_bigram_bp,
       CAST(floor(coalesce(ds.dup, 0) * 10000.0
                  / greatest(coalesce(ds.tot, 0), 1))
            AS BIGINT) AS dup_trigram_bp
FROM tstat ts
LEFT JOIN bstat bs ON bs.doc_id = ts.doc_id
LEFT JOIN dstat ds ON ds.doc_id = ts.doc_id""",
        "corpus_curate": f"""
WITH {dups_cte},
feat AS (
  SELECT doc_id,
         CAST({n_tok} AS BIGINT) AS n_tokens,
         CAST(greatest(
             least({n_tok}, 200) * 20
             + floor(({stopword_count_sql('text')}) * 10000.0
                     / greatest({n_tok}, 1))
             - floor({n_punct} * 10000.0 / greatest(length(text), 1))
             - floor({n_digit} * 10000.0 / greatest(length(text), 1)),
             0) AS BIGINT) AS quality_score,
         CAST(floor(({stopword_count_sql('text')}) * 10000.0
                    / greatest({n_tok}, 1)) AS BIGINT)
             AS stopword_ratio_bp,
         {lang_guess_sql('text')} AS lang_guess,
         md5({norm}) AS fingerprint
  FROM docs_dups
),
kept AS (
  SELECT * FROM feat
  WHERE n_tokens >= 10 AND quality_score >= 2500
    AND stopword_ratio_bp >= 300
),
rep AS (SELECT fingerprint, min(doc_id) AS doc_id FROM kept GROUP BY 1)
SELECT k.doc_id, k.n_tokens, k.quality_score, k.lang_guess, k.fingerprint
FROM kept k JOIN rep ON k.fingerprint = rep.fingerprint
                    AND k.doc_id = rep.doc_id""",
        "dedup_source_overlap": """
WITH aug AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 300000, text,
         'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR)
  FROM documents WHERE doc_id % 11 = 0
),
cl AS (
  SELECT md5(text) AS ck, source AS src,
         CAST(count(*) AS BIGINT) AS n
  FROM aug GROUP BY 1, 2),
tot AS (
  SELECT src, CAST(count(*) AS BIGINT) AS t FROM cl GROUP BY 1),
pairs AS (
  SELECT a.src AS source_a, b.src AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared_clusters,
         CAST(sum(a.n) AS BIGINT) AS n_docs_a,
         CAST(sum(b.n) AS BIGINT) AS n_docs_b
  FROM cl a JOIN cl b ON b.ck = a.ck AND a.src < b.src
  GROUP BY 1, 2)
SELECT p.source_a, p.source_b, p.n_shared_clusters,
       p.n_docs_a, p.n_docs_b,
       CAST(p.n_shared_clusters * 1000000
            // least(ta.t, tb.t) AS BIGINT) AS overlap_ppm
FROM pairs p
JOIN tot ta ON ta.src = p.source_a
JOIN tot tb ON tb.src = p.source_b""",
        "dedup_mix_shift": """
WITH aug AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 300000, text,
         'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR)
  FROM documents WHERE doc_id % 11 = 0
),
keyed AS (SELECT doc_id, source, md5(text) AS ck FROM aug),
keep AS (SELECT ck, min(doc_id) AS doc_id FROM keyed GROUP BY 1),
kept AS (SELECT k.source FROM keyed k
         JOIN keep ON keep.ck = k.ck AND keep.doc_id = k.doc_id),
b AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM keyed GROUP BY 1),
a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY 1),
tb AS (SELECT sum(n_docs) AS tb FROM b),
ta AS (SELECT sum(n_kept) AS ta FROM a)
SELECT b.source, b.n_docs, coalesce(a.n_kept, 0) AS n_kept,
       CAST(b.n_docs * 1000000 // tb.tb AS BIGINT)
         AS share_before_ppm,
       CAST(coalesce(a.n_kept, 0) * 1000000 // ta.ta AS BIGINT)
         AS share_after_ppm,
       CAST(coalesce(a.n_kept, 0) * 1000000 // ta.ta
            - b.n_docs * 1000000 // tb.tb AS BIGINT) AS delta_ppm
FROM b LEFT JOIN a ON a.source = b.source
CROSS JOIN tb CROSS JOIN ta""",
        "dedup_savings": f"""
WITH {dups_cte},
f AS (
  SELECT doc_id, length(text) AS ch,
         md5({normalize_sql('text')}) AS fp
  FROM docs_dups),
c AS (
  SELECT fp, CAST(count(*) AS BIGINT) AS sz,
         CAST(sum(ch) AS BIGINT) AS tot,
         min(doc_id) AS keeper
  FROM f GROUP BY 1),
w AS (
  SELECT c.sz, c.tot - f.ch AS waste
  FROM c JOIN f ON f.fp = c.fp AND f.doc_id = c.keeper)
SELECT sz AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sz * count(*) AS BIGINT) AS n_docs,
       CAST(sum(waste) AS BIGINT) AS waste_chars
FROM w GROUP BY 1""",
        "dedup_exact_groups": f"""
WITH {dups_cte}
SELECT md5({normalize_sql('text')}) AS fingerprint,
       count(*) AS n_dups,
       string_agg(CAST(doc_id AS VARCHAR), ','
                  ORDER BY CAST(doc_id AS VARCHAR)) AS doc_ids
FROM docs_dups
GROUP BY 1 HAVING count(*) > 1""",
        "text_doc_similarity": """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, upper(text) FROM documents
  WHERE doc_id % 50 = 0
  UNION ALL
  SELECT doc_id + 200000, text || ' zz qq ww' FROM documents
  WHERE doc_id % 50 = 1
),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM corpus
),
tf AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE term <> '' GROUP BY 1, 2
),
keep AS (SELECT term FROM tf GROUP BY 1 HAVING count(*) <= 50),
tfk AS (SELECT t.* FROM tf t JOIN keep USING (term)),
norms AS (
  SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2 FROM tfk GROUP BY 1
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(sum(a.tf * b.tf) AS BIGINT) AS num
  FROM tfk a JOIN tfk b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b, p.num, na.n2 AS na, nb.n2 AS nb
FROM pairs p
JOIN norms na ON na.doc_id = p.id_a
JOIN norms nb ON nb.doc_id = p.id_b
WHERE CAST(p.num AS HUGEINT) * p.num * 100000000
      >= CAST(49000000 AS HUGEINT) * na.n2 * nb.n2""",
        "dedup_ngram_jaccard": f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, upper(text) FROM documents
  WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 200000, text || ' zz qq ww' FROM documents
  WHERE doc_id % 10 = 1
),
toks AS (
  SELECT doc_id, regexp_extract_all({norm}, '\\S+') AS words FROM corpus
),
w AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                   i -> array_to_string(words[i:i+2], ' ')))) AS word
  FROM toks
),
sizes AS (SELECT doc_id, count(*) AS sz FROM w GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b, i.n_inter, sa.sz AS sz_a, sb.sz AS sz_b,
       CAST(floor(i.n_inter * 10000.0
                  / (sa.sz + sb.sz - i.n_inter)) AS BIGINT) AS jaccard_bp
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE floor(i.n_inter * 10000.0 / (sa.sz + sb.sz - i.n_inter)) >= 5000""",
        "corpus_heaps": """
WITH nd AS (SELECT count(*) AS n FROM documents),
toks AS (
  SELECT least((doc_id * 10) // (SELECT n FROM nd), 9) AS bin,
         unnest(string_split(text, ' ')) AS tok
  FROM documents),
pb AS (SELECT bin, count(*) AS n_tokens FROM toks GROUP BY 1),
news AS (
  SELECT bin, count(*) AS n_new_types FROM (
    SELECT tok, min(bin) AS bin FROM toks GROUP BY 1) GROUP BY 1),
docs AS (
  SELECT least((doc_id * 10) // (SELECT n FROM nd), 9) AS bin,
         count(*) AS n_docs
  FROM documents GROUP BY 1),
base AS (
  SELECT d.bin, CAST(d.n_docs AS BIGINT) AS n_docs,
         CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
         CAST(coalesce(w.n_new_types, 0) AS BIGINT) AS n_new_types
  FROM docs d LEFT JOIN pb p USING (bin) LEFT JOIN news w USING (bin))
SELECT CAST(bin AS INTEGER) AS bin, n_docs, n_tokens, n_new_types,
       CAST(sum(n_tokens) OVER (ORDER BY bin
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       CAST(sum(n_new_types) OVER (ORDER BY bin
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types,
       CAST(CASE WHEN sum(n_tokens) OVER (ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) > 0
            THEN sum(n_new_types) OVER (ORDER BY bin
                     ROWS UNBOUNDED PRECEDING) * 1000000
                 // sum(n_tokens) OVER (ORDER BY bin
                        ROWS UNBOUNDED PRECEDING)
            END AS BIGINT) AS ttr_ppm
FROM base""",
        "corpus_novelty": f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, upper(text) FROM documents
  WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 200000, text || ' zz qq ww' FROM documents
  WHERE doc_id % 10 = 1
),
toks AS (
  SELECT doc_id, regexp_extract_all({norm}, '\\S+') AS words
  FROM corpus
),
w AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                   i -> array_to_string(words[i:i+2], ' ')))) AS word
  FROM toks
),
tot AS (SELECT doc_id, count(*) AS n_grams FROM w GROUP BY 1),
fst AS (SELECT word, min(doc_id) AS first_doc FROM w GROUP BY 1),
nov AS (SELECT first_doc AS doc_id, count(*) AS n_novel
        FROM fst GROUP BY 1)
SELECT c.doc_id,
       CAST(coalesce(t.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(v.n_novel, 0) AS BIGINT) AS n_novel,
       CASE WHEN t.n_grams IS NULL THEN NULL
            ELSE CAST((1000000 * coalesce(v.n_novel, 0))
                      // t.n_grams AS BIGINT) END AS novelty_ppm
FROM corpus c
LEFT JOIN tot t ON t.doc_id = c.doc_id
LEFT JOIN nov v ON v.doc_id = c.doc_id""",
        "dedup_containment": f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 300000,
         array_to_string(list_slice(string_split(text, ' '), 1,
             greatest(len(string_split(text, ' ')) // 3, 5)), ' ')
  FROM documents WHERE doc_id % 7 = 0
),
toks AS (
  SELECT doc_id, regexp_extract_all({norm}, '\\S+') AS words FROM corpus
),
w AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                   i -> array_to_string(words[i:i+2], ' ')))) AS word
  FROM toks
),
sizes AS (SELECT doc_id, count(*) AS sz FROM w GROUP BY 1),
inter AS (
  SELECT a.doc_id AS u, b.doc_id AS v, count(*) AS n_inter
  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
j AS (
  SELECT i.u, i.v, i.n_inter, su.sz AS sz_u, sv.sz AS sz_v
  FROM inter i JOIN sizes su ON su.doc_id = i.u
               JOIN sizes sv ON sv.doc_id = i.v
),
dir AS (
  SELECT u AS id_a, v AS id_b, n_inter, sz_u AS sz_a FROM j
  UNION ALL
  SELECT v AS id_a, u AS id_b, n_inter, sz_v AS sz_a FROM j
)
SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
       CAST(sz_a AS BIGINT) AS sz_a,
       CAST(n_inter * 10000 // sz_a AS BIGINT) AS containment_bp
FROM dir WHERE n_inter * 10000 // sz_a >= 8000""",
        "dedup_url_params": _oracle("""
, p AS (SELECT DISTINCT doc_id, url FROM web_pages),
v AS (
  SELECT url AS variant_url FROM p
  UNION ALL
  SELECT url || '?utm_source=news&utm_medium=email' FROM p
  WHERE doc_id % 3 = 0
  UNION ALL
  SELECT url || '?ref=home' FROM p WHERE doc_id % 5 = 0
  UNION ALL
  SELECT url || '?gclid=g123&page=2' FROM p WHERE doc_id % 4 = 0
  UNION ALL
  SELECT url || '?page=2&fbclid=xyz#frag' FROM p WHERE doc_id % 4 = 0
),
c AS (
  SELECT variant_url,
         regexp_extract(variant_url, '^([^?#]*)', 1) AS base,
         list_sort(list_filter(
             string_split(regexp_extract(variant_url,
                                         '^[^?#]*\?([^#]*)', 1), '&'),
             x -> x <> '' AND NOT regexp_matches(
                 lower(string_split(x, '=')[1]),
                 '^(utm_[a-z0-9_]*|gclid|fbclid|msclkid|mc_cid|mc_eid|igshid|ref|ref_src)$')))
           AS kept
  FROM v
),
k AS (
  SELECT variant_url,
         CASE WHEN len(kept) = 0 THEN base
              ELSE base || '?' || array_to_string(kept, '&') END
           AS canonical_url
  FROM c
)
SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_variants,
       md5(string_agg(variant_url, '|' ORDER BY variant_url))
         AS variants_digest
FROM k GROUP BY 1 HAVING count(*) > 1"""),
        "dedup_mirror_hosts": f"""
WITH {webgen.PAGES_SQL.strip()},
base AS (
  SELECT d.doc_id, p.host AS h, md5(d.text) AS dg
  FROM web_pages p JOIN documents d ON p.doc_id = d.doc_id
),
allrows AS (
  SELECT h, dg FROM base
  UNION ALL
  SELECT 'm05-mirror.example.test', dg FROM base
  WHERE h = 'h05.example.test'
  UNION ALL
  SELECT 'm06-partial.example.test',
         CASE WHEN doc_id % 3 = 0 THEN dg
              ELSE md5(dg || 'm2-salt') END
  FROM base WHERE h = 'h06.example.test'
),
hd AS (SELECT DISTINCT h, dg FROM allrows),
inv AS (SELECT h, count(*) AS n FROM hd GROUP BY 1),
spread AS (SELECT dg FROM hd GROUP BY dg HAVING count(*) <= 8),
core AS (SELECT h, dg FROM hd JOIN spread USING (dg)),
pairs AS (
  SELECT a.h AS host_a, b.h AS host_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM core a JOIN core b ON a.dg = b.dg AND a.h < b.h
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT p.host_a, p.host_b, p.n_shared,
       CAST(ia.n AS BIGINT) AS n_a, CAST(ib.n AS BIGINT) AS n_b,
       CAST(p.n_shared * 10000 // least(ia.n, ib.n) AS BIGINT)
           AS overlap_bp,
       (p.n_shared * 10000 // least(ia.n, ib.n)) >= 5000 AS is_mirror
FROM pairs p
JOIN inv ia ON ia.h = p.host_a
JOIN inv ib ON ib.h = p.host_b""",
        "dedup_url_editdist": _oracle("""
, t AS (SELECT DISTINCT host AS b, path AS k, doc_id AS i
        FROM web_pages),
s AS (
  SELECT b, k, i,
         row_number() OVER (PARTITION BY b ORDER BY k, i) AS rn
  FROM t
)
SELECT a.b AS host, a.i AS id_a, x.i AS id_b,
       a.k AS key_a, x.k AS key_b,
       CAST(levenshtein(a.k, x.k) AS INTEGER) AS dist
FROM s a JOIN s x
  ON x.b = a.b AND x.rn > a.rn AND x.rn <= a.rn + 3
WHERE levenshtein(a.k, x.k) <= 2"""),
        "dedup_clusters": f"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, upper(text) FROM documents
  WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 200000, text || ' zz qq ww' FROM documents
  WHERE doc_id % 10 = 1
),
toks AS (
  SELECT doc_id, regexp_extract_all({norm}, '\\S+') AS words FROM corpus
),
w AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                   i -> array_to_string(words[i:i+2], ' ')))) AS word
  FROM toks
),
sizes AS (SELECT doc_id, count(*) AS sz FROM w GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE floor(i.n_inter * 10000.0 / (sa.sz + sb.sz - i.n_inter)) >= 5000
),
und AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b AS a, id_a AS b FROM pairs),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.node
),
comp AS (SELECT node AS doc_id, min(lbl) AS canonical_id
         FROM reach GROUP BY 1),
sz AS (SELECT canonical_id, count(*) AS cluster_size
       FROM comp GROUP BY 1)
SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
       CAST(c.canonical_id AS BIGINT) AS canonical_id,
       sz.cluster_size
FROM comp c JOIN sz USING (canonical_id)
WHERE sz.cluster_size > 1""",
        "dedup_cluster_sizes": f"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, upper(text) FROM documents
  WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 200000, text || ' zz qq ww' FROM documents
  WHERE doc_id % 10 = 1
),
toks AS (
  SELECT doc_id, regexp_extract_all({norm}, '\\S+') AS words FROM corpus
),
w AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                   i -> array_to_string(words[i:i+2], ' ')))) AS word
  FROM toks
),
sizes AS (SELECT doc_id, count(*) AS sz FROM w GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE floor(i.n_inter * 10000.0 / (sa.sz + sb.sz - i.n_inter)) >= 5000
),
und AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b AS a, id_a AS b FROM pairs),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.node
),
comp AS (SELECT node AS doc_id, min(lbl) AS canonical_id
         FROM reach GROUP BY 1),
sz AS (SELECT canonical_id, count(*) AS cluster_size
       FROM comp GROUP BY 1)
SELECT CAST(sz.cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sz.cluster_size * count(*) AS BIGINT) AS n_docs,
       CAST((sz.cluster_size - 1) * count(*) AS BIGINT) AS n_dropped
FROM sz GROUP BY sz.cluster_size""",
        "ann_cosine_topk": """
WITH q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
  FROM embeddings WHERE vec_id < 5
),
sims AS (
  SELECT q.q_id, e.vec_id,
         CAST(floor(
           list_dot_product(CAST(e.embedding AS DOUBLE[]), q.q_vec)
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(q.q_vec, q.q_vec)))
           * 1000000) AS BIGINT) AS sim_ppm
  FROM embeddings e, q WHERE e.vec_id <> q.q_id
),
r AS (
  SELECT q_id, vec_id, sim_ppm,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY sim_ppm DESC, vec_id) AS INTEGER) AS rank
  FROM sims
)
SELECT q_id, rank, vec_id, sim_ppm FROM r WHERE rank <= 5""",
        "embed_near_dup_pairs": """
WITH aug AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.05)
  FROM embeddings WHERE vec_id % 50 = 0
)
SELECT * FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(floor(
           list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v))
              * sqrt(list_dot_product(b.v, b.v)))
           * 1000000) AS BIGINT) AS sim_ppm
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
) WHERE sim_ppm >= 800000""",
        "embed_kmeans": _kmeans_oracle_sql(8, 3, 64),
        "embed_pca": _pca_sql(3, 64),
        "embed_label_margin": """
WITH q AS MATERIALIZED (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(floor(x * 4096) AS BIGINT)) AS qv
  FROM embeddings),
dims AS (SELECT unnest(range(1, 65)) AS j),
el AS MATERIALIZED (
  SELECT vec_id, label, j, qv[j] AS e FROM q CROSS JOIN dims),
ce AS MATERIALIZED (
  SELECT label, j, s, n,
         (s - ((s % n + n) % n)) // n AS c
  FROM (SELECT label, j, sum(e) AS s, count(*) AS n
        FROM el GROUP BY 1, 2)),
c2 AS (SELECT label AS clbl, sum(c * c) AS c2 FROM ce GROUP BY 1),
q2 AS (SELECT vec_id, sum(e * e) AS q2 FROM el GROUP BY 1),
dotj AS MATERIALIZED (
  SELECT e.vec_id, ce.label AS clbl, sum(e.e * ce.c) AS dot
  FROM el e JOIN ce ON ce.j = e.j GROUP BY 1, 2),
cs AS MATERIALIZED (
  SELECT d.vec_id, q.label, d.clbl,
         CASE WHEN q2.q2 > 0 AND c2.c2 > 0 THEN
           CAST(floor(CAST(d.dot AS DOUBLE) * 1000000.0 /
                (sqrt(CAST(q2.q2 AS DOUBLE)) *
                 sqrt(CAST(c2.c2 AS DOUBLE)))) AS BIGINT)
         ELSE 0 END AS cos_ppm
  FROM dotj d
  JOIN q ON q.vec_id = d.vec_id
  JOIN q2 ON q2.vec_id = d.vec_id
  JOIN c2 ON c2.clbl = d.clbl),
pv AS (
  SELECT vec_id, label,
         max(CASE WHEN clbl = label THEN cos_ppm END) AS own_ppm,
         max(CASE WHEN clbl <> label THEN cos_ppm END) AS other_ppm
  FROM cs GROUP BY 1, 2),
ag AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n,
         sum(own_ppm) AS so, sum(other_ppm) AS st,
         CAST(sum(CASE WHEN other_ppm > own_ppm THEN 1 ELSE 0 END)
              AS BIGINT) AS n_confused
  FROM pv GROUP BY 1)
SELECT label, n,
       CAST((so - ((so % n + n) % n)) // n AS BIGINT)
         AS mean_own_ppm,
       CAST((st - ((st % n + n) % n)) // n AS BIGINT)
         AS mean_other_ppm,
       CAST(((so - st) - (((so - st) % n + n) % n)) // n AS BIGINT)
         AS mean_margin_ppm,
       n_confused
FROM ag""",
        "embed_cluster_eval": _kmeans_cte(8, 3, 64) + """,
cont AS (
  SELECT a.cid, e.label, count(*) AS n
  FROM af a JOIN embeddings e ON e.vec_id = a.id
  GROUP BY 1, 2),
pur AS (SELECT sum(mx) AS sum_max, count(*) AS n_clusters FROM
        (SELECT cid, max(n) AS mx FROM cont GROUP BY 1)),
idx AS (SELECT sum(n * (n - 1) // 2) AS ix, sum(n) AS n_tot
        FROM cont),
ar AS (SELECT sum(s * (s - 1) // 2) AS sum_a FROM
       (SELECT cid, sum(n) AS s FROM cont GROUP BY 1)),
br AS (SELECT sum(s * (s - 1) // 2) AS sum_b,
              count(*) AS n_labels FROM
       (SELECT label, sum(n) AS s FROM cont GROUP BY 1)),
comb AS (
  SELECT CAST(i.n_tot AS BIGINT) AS n_tot,
         CAST(p.n_clusters AS BIGINT) AS n_clusters,
         CAST(b.n_labels AS BIGINT) AS n_labels,
         CAST(p.sum_max * 1000000 // i.n_tot AS BIGINT)
             AS purity_ppm,
         i.ix, a.sum_a, b.sum_b,
         i.n_tot * (i.n_tot - 1) // 2 AS cc
  FROM idx i, pur p, ar a, br b)
SELECT n_tot, n_clusters, n_labels, purity_ppm,
       CASE WHEN (sum_a + sum_b) * cc - 2 * sum_a * sum_b > 0
            THEN CAST((CAST(2 AS HUGEINT)
                       * (ix * cc - sum_a * sum_b) * 1000000)
                      // ((sum_a + sum_b) * cc - 2 * sum_a * sum_b)
                      AS BIGINT) END AS ari_ppm
FROM comb""",
        "embed_kcenter": _kcenter_oracle_sql(8, 64),
        "ann_ivf_trained_topk": _ivf_trained_oracle_sql(8, 2, 64),
        "embed_semdedup": """
WITH aug AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.05)
  FROM embeddings WHERE vec_id % 50 = 0
),
c AS (
  SELECT vec_id, v,
           (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
         + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
         + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END) AS cell
  FROM aug
),
pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE CAST(floor(
          list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v)))
          * 1000000) AS BIGINT) >= 900000
),
dup AS (SELECT b_id AS vec_id, min(a_id) AS dup_of FROM pairs GROUP BY 1)
SELECT c.vec_id, c.cell, d.dup_of IS NULL AS keep, d.dup_of
FROM c LEFT JOIN dup d ON d.vec_id = c.vec_id""",
        "events_funnel": _funnel_oracle(),
        "events_transitions": """
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
m AS (
  SELECT from_type, to_type, count(*) AS n
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       CAST((1000000 * n) // sum(n) OVER (PARTITION BY from_type)
            AS BIGINT) AS share_ppm,
       from_type = to_type AS is_self
FROM m""",
        "events_rfm": """
WITH per AS (
  SELECT user_id,
         CAST(max(epoch(date_trunc('second', ts))::BIGINT // 86400)
              AS BIGINT) AS last_day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(floor(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS cents
  FROM events GROUP BY 1),
n1 AS (SELECT count(*) AS n FROM per),
rr AS (SELECT last_day AS v,
              row_number() OVER (ORDER BY last_day) AS rn FROM per),
ff AS (SELECT n_events AS v,
              row_number() OVER (ORDER BY n_events) AS rn FROM per),
mm AS (SELECT cents AS v,
              row_number() OVER (ORDER BY cents) AS rn FROM per),
rc AS (SELECT
  (SELECT v FROM rr WHERE rn = (SELECT (20 * n + 99) // 100 FROM n1))
      AS c20,
  (SELECT v FROM rr WHERE rn = (SELECT (40 * n + 99) // 100 FROM n1))
      AS c40,
  (SELECT v FROM rr WHERE rn = (SELECT (60 * n + 99) // 100 FROM n1))
      AS c60,
  (SELECT v FROM rr WHERE rn = (SELECT (80 * n + 99) // 100 FROM n1))
      AS c80),
fc AS (SELECT
  (SELECT v FROM ff WHERE rn = (SELECT (20 * n + 99) // 100 FROM n1))
      AS c20,
  (SELECT v FROM ff WHERE rn = (SELECT (40 * n + 99) // 100 FROM n1))
      AS c40,
  (SELECT v FROM ff WHERE rn = (SELECT (60 * n + 99) // 100 FROM n1))
      AS c60,
  (SELECT v FROM ff WHERE rn = (SELECT (80 * n + 99) // 100 FROM n1))
      AS c80),
mc AS (SELECT
  (SELECT v FROM mm WHERE rn = (SELECT (20 * n + 99) // 100 FROM n1))
      AS c20,
  (SELECT v FROM mm WHERE rn = (SELECT (40 * n + 99) // 100 FROM n1))
      AS c40,
  (SELECT v FROM mm WHERE rn = (SELECT (60 * n + 99) // 100 FROM n1))
      AS c60,
  (SELECT v FROM mm WHERE rn = (SELECT (80 * n + 99) // 100 FROM n1))
      AS c80),
sc AS (
  SELECT p.*,
         CAST(1 + (p.last_day > rc.c20)::INT + (p.last_day > rc.c40)::INT
              + (p.last_day > rc.c60)::INT + (p.last_day > rc.c80)::INT
              AS INTEGER) AS r_score,
         CAST(1 + (p.n_events > fc.c20)::INT + (p.n_events > fc.c40)::INT
              + (p.n_events > fc.c60)::INT + (p.n_events > fc.c80)::INT
              AS INTEGER) AS f_score,
         CAST(1 + (p.cents > mc.c20)::INT + (p.cents > mc.c40)::INT
              + (p.cents > mc.c60)::INT + (p.cents > mc.c80)::INT
              AS INTEGER) AS m_score
  FROM per p CROSS JOIN rc CROSS JOIN fc CROSS JOIN mc)
SELECT user_id, last_day, n_events, cents, r_score, f_score, m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                 THEN 'champion'
            WHEN f_score >= 4 THEN 'loyal'
            WHEN m_score >= 4 THEN 'big_spender'
            WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
            WHEN r_score <= 2 THEN 'hibernating'
            ELSE 'regular' END AS segment
FROM sc""",
        "events_outages": """
WITH b AS (
  SELECT DISTINCT epoch(date_trunc('second', ts))::BIGINT // 3600
             AS bucket
  FROM events
  WHERE (epoch(date_trunc('second', ts))::BIGINT // 3600) % 50
        NOT IN (13, 14, 15)),
g AS (
  SELECT bucket, lag(bucket) OVER (ORDER BY bucket) AS prev
  FROM b)
SELECT CAST((prev + 1) * 3600 AS BIGINT) AS gap_start_epoch,
       CAST(bucket * 3600 - 1 AS BIGINT) AS gap_end_epoch,
       CAST(bucket - prev - 1 AS BIGINT) AS n_missing,
       CAST((bucket - prev - 1) * 3600 AS BIGINT) AS duration_s
FROM g
WHERE prev IS NOT NULL AND bucket - prev - 1 >= 2""",
        "events_abtest": """
WITH pk AS (
  SELECT user_id,
         max(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) = 1 AS v,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS o
  FROM events GROUP BY 1),
cells AS (
  SELECT CAST(sum(CASE WHEN v AND o = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
         CAST(sum(CASE WHEN v AND o = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(sum(CASE WHEN NOT v AND o = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(sum(CASE WHEN NOT v AND o = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS d
  FROM pk),
sc AS (
  SELECT a, b, c, d,
         CASE WHEN (a + b) > 0 AND (c + d) > 0 AND (a + c) > 0
                   AND (b + d) > 0
              THEN CAST(CAST(a + b + c + d AS HUGEINT)
                        * (a * d - b * c) * (a * d - b * c) * 1000
                        // (a + b) // (c + d) // (a + c) // (b + d)
                        AS BIGINT) END AS chi2_milli,
         CASE WHEN a + b > 0
              THEN CAST(a * 1000000 // (a + b) AS BIGINT) END
             AS rate_a_ppm,
         CASE WHEN c + d > 0
              THEN CAST(c * 1000000 // (c + d) AS BIGINT) END
             AS rate_b_ppm
  FROM cells)
SELECT CAST(a + b AS BIGINT) AS n_a, a AS conv_a,
       CAST(c + d AS BIGINT) AS n_b, c AS conv_b,
       rate_a_ppm, rate_b_ppm,
       CAST(rate_a_ppm - rate_b_ppm AS BIGINT) AS lift_ppm,
       chi2_milli,
       coalesce(chi2_milli >= 3841, FALSE) AS significant
FROM sc""",
        "events_cep_pattern": """
WITH seq AS (
  SELECT user_id, count(*) AS n_events,
         string_agg(CASE event_type WHEN 'view' THEN 'v'
                                    WHEN 'click' THEN 'c'
                                    WHEN 'purchase' THEN 'p'
                                    WHEN 'signup' THEN 's'
                                    WHEN 'error' THEN 'e'
                                    ELSE 'x' END, ''
                    ORDER BY ts, event_id) AS s
  FROM events GROUP BY 1),
m AS (
  SELECT user_id, n_events,
         regexp_extract_all(s, 'vc+p') AS ms
  FROM seq)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       CAST(len(ms) AS BIGINT) AS n_matches,
       CAST(coalesce(list_max(list_transform(ms, x -> length(x))), 0)
            AS BIGINT) AS max_match_len,
       len(ms) > 0 AS matched
FROM m""",
        "events_disorder": """
WITH e AS (
  SELECT user_id, event_id,
         epoch_us(ts) - (event_id % 7) * 30000000 AS us
  FROM events),
pairs AS (
  SELECT a.user_id, count(*) AS inv
  FROM e a JOIN e b ON a.user_id = b.user_id
        AND a.event_id < b.event_id AND a.us > b.us
  GROUP BY 1),
base AS (SELECT user_id, count(*) AS n FROM e GROUP BY 1),
late AS (
  SELECT user_id, max(rm - us) AS ml FROM (
    SELECT user_id, us,
           max(us) OVER (PARTITION BY user_id ORDER BY event_id
                         ROWS UNBOUNDED PRECEDING) AS rm
    FROM e) GROUP BY 1)
SELECT b.user_id, CAST(b.n AS BIGINT) AS n_events,
       CAST(coalesce(p.inv, 0) AS BIGINT) AS n_inversions,
       CAST(CASE WHEN b.n >= 2
                 THEN coalesce(p.inv, 0) * 1000000
                      // (b.n * (b.n - 1) // 2)
                 ELSE 0 END AS BIGINT) AS inv_ppm,
       CAST(coalesce(l.ml, 0) AS BIGINT) AS max_lateness_us,
       coalesce(p.inv, 0) = 0 AS in_order
FROM base b LEFT JOIN pairs p USING (user_id)
LEFT JOIN late l USING (user_id)""",
        "events_conformance": "WITH model(from_state, to_state) AS "
        "(VALUES " + ", ".join(f"('{a}', '{b}')"
                               for a, b in CONFORMANCE_MODEL) + """),
seq AS (
  SELECT user_id, event_id, ts,
         coalesce(lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id),
                  'START') AS from_state,
         event_type AS to_state
  FROM events),
j AS (
  SELECT s.user_id, s.event_id, s.ts, s.from_state, s.to_state,
         m.from_state IS NULL AS viol
  FROM seq s LEFT JOIN model m
    ON m.from_state = s.from_state AND m.to_state = s.to_state),
agg AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_steps,
         CAST(sum(CASE WHEN viol THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations
  FROM j GROUP BY 1),
fv AS (
  SELECT user_id, from_state AS first_bad_from,
         to_state AS first_bad_to
  FROM j WHERE viol
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) = 1)
SELECT a.user_id, a.n_steps, a.n_violations,
       f.first_bad_from, f.first_bad_to,
       a.n_violations = 0 AS conformant
FROM agg a LEFT JOIN fv f USING (user_id)""",
        "events_attribution": """
WITH conv AS (
  SELECT event_id AS conv_id, user_id, epoch_us(ts) AS conv_us,
         CAST(floor(value * 100) AS BIGINT) AS conv_c
  FROM events WHERE event_type = 'purchase'
),
tch AS (
  SELECT event_id AS touch_id, event_type AS touch_type, user_id,
         epoch_us(ts) AS touch_us
  FROM events WHERE event_type IN ('view', 'click')
),
j AS (
  SELECT c.conv_id, c.user_id, c.conv_c,
         t.touch_id, t.touch_type, t.touch_us
  FROM conv c
  LEFT JOIN tch t ON t.user_id = c.user_id
    AND t.touch_us <= c.conv_us
    AND t.touch_us > c.conv_us - 21600000000
),
r AS (
  SELECT *,
         CASE WHEN touch_id IS NOT NULL THEN
           row_number() OVER (PARTITION BY conv_id
                              ORDER BY touch_us, touch_id) END AS i,
         sum(CASE WHEN touch_id IS NOT NULL THEN 1 ELSE 0 END)
           OVER (PARTITION BY conv_id) AS n
  FROM j
)
SELECT conv_id, user_id, conv_c, touch_id, touch_type,
       CAST(i AS BIGINT) AS i, CAST(n AS BIGINT) AS n,
       CAST(CASE WHEN n = 0 THEN conv_c
                 WHEN i = 1 THEN conv_c ELSE 0 END AS BIGINT)
         AS first_c,
       CAST(CASE WHEN n = 0 THEN conv_c
                 WHEN i = n THEN conv_c ELSE 0 END AS BIGINT)
         AS last_c,
       CAST(CASE WHEN n = 0 THEN conv_c
                 ELSE conv_c // n
                      + CASE WHEN i = n THEN conv_c % n ELSE 0 END
            END AS BIGINT) AS linear_c,
       CAST(CASE WHEN n = 0 THEN conv_c
                 WHEN n = 1 THEN conv_c
                 WHEN n = 2 THEN CASE WHEN i = 1 THEN conv_c // 2
                                      ELSE conv_c - conv_c // 2 END
                 WHEN i = 1 OR i = n THEN (2 * conv_c) // 5
                 ELSE (conv_c - 2 * ((2 * conv_c) // 5)) // (n - 2)
                      + CASE WHEN i = n - 1
                             THEN (conv_c - 2 * ((2 * conv_c) // 5))
                                  % (n - 2)
                             ELSE 0 END
            END AS BIGINT) AS ushape_c
FROM r""",
        "events_retention": _retention_oracle(),
        "events_quantiles": """
WITH hist AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
cum AS (
  SELECT event_type, v, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM hist)
SELECT event_type, CAST(max(n) AS BIGINT) AS n_rows,
       CAST(min(CASE WHEN cum >= (50 * n + 99) // 100 THEN v END)
            AS BIGINT) AS p50,
       CAST(min(CASE WHEN cum >= (95 * n + 99) // 100 THEN v END)
            AS BIGINT) AS p95,
       CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN v END)
            AS BIGINT) AS p99
FROM cum GROUP BY 1""",
        "events_asof_join": """
SELECT c.event_id, v.event_id AS view_event_id,
       CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'view') v
  ON c.user_id = v.user_id AND c.ts >= v.ts""",
        "events_sessionize": """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM s GROUP BY 1""",
        "events_hourly": """
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
       CAST(floor(sum(value) * 100) AS BIGINT) AS sum_value_c
FROM events GROUP BY 1, 2""",
        "events_markov_stationary": _markov_sql(4),
        "events_active_users": """
WITH ud AS (
  SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS d
  FROM events),
mx AS (SELECT max(d) AS mxd FROM ud),
ex AS (
  SELECT ud.u, o.off, ud.d + to_days(CAST(o.off AS INT)) AS day
  FROM ud, LATERAL unnest(range(0, 30)) AS o(off)),
agg AS (
  SELECT day,
         CAST(count(DISTINCT CASE WHEN off = 0 THEN u END)
              AS BIGINT) AS dau,
         CAST(count(DISTINCT CASE WHEN off <= 6 THEN u END)
              AS BIGINT) AS wau,
         CAST(count(DISTINCT u) AS BIGINT) AS mau
  FROM ex CROSS JOIN mx
  WHERE day <= mxd
  GROUP BY 1)
SELECT strftime(day, '%Y-%m-%d') AS day, dau, wau, mau,
       CAST(CASE WHEN mau > 0 THEN dau * 1000000 // mau
            ELSE 0 END AS BIGINT) AS stickiness_ppm
FROM agg""",
        "events_dispersion": """
WITH b AS (
  SELECT event_type AS etype, date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
nh AS (SELECT CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT)
         AS n FROM events),
per AS (
  SELECT etype, CAST(sum(x) AS BIGINT) AS s,
         sum(CAST(x AS HUGEINT) * x) AS sx2
  FROM b GROUP BY 1)
SELECT p.etype AS event_type, nh.n AS n_buckets, p.s AS n_events,
       CAST(p.s * 1000000 // nh.n AS BIGINT) AS mean_per_bucket_ppm,
       CAST(CASE WHEN nh.n >= 2 THEN
              (nh.n * p.sx2 - CAST(p.s AS HUGEINT) * p.s) * 1000000
                // ((nh.n - 1) * CAST(p.s AS HUGEINT))
            END AS BIGINT) AS dispersion_ppm,
       CASE WHEN nh.n >= 2 THEN
         CAST((nh.n * p.sx2 - CAST(p.s AS HUGEINT) * p.s) * 1000000
              // ((nh.n - 1) * CAST(p.s AS HUGEINT)) AS BIGINT)
           >= 2000000
       END AS overdispersed
FROM per p CROSS JOIN nh""",
        "events_seasonal_index": """
WITH cnt AS (
  SELECT event_type AS etype, CAST(hour(ts) AS INT) AS hod,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
hrs AS (SELECT CAST(unnest(range(0, 24)) AS INT) AS hod),
grid AS (SELECT DISTINCT etype FROM cnt),
f AS (
  SELECT g.etype, h.hod, coalesce(c.n, 0) AS n
  FROM grid g CROSS JOIN hrs h
  LEFT JOIN cnt c ON c.etype = g.etype AND c.hod = h.hod),
tot AS (
  SELECT etype, sum(n) AS t,
         sum(CAST(n AS HUGEINT) * n) AS s2
  FROM f GROUP BY 1),
r AS (
  SELECT f.etype, f.hod, f.n, t.t, t.s2,
         row_number() OVER (PARTITION BY f.etype
                            ORDER BY f.n DESC, f.hod) AS rp,
         row_number() OVER (PARTITION BY f.etype
                            ORDER BY f.n, f.hod) AS rt
  FROM f JOIN tot t USING (etype))
SELECT etype AS event_type, hod, n,
       CAST(n * 24 * 1000000 // t AS BIGINT) AS index_ppm,
       CAST(s2 * 1000000 // (CAST(t AS HUGEINT) * t) AS BIGINT)
         AS hhi_ppm,
       rp = 1 AS is_peak,
       rt = 1 AS is_trough
FROM r""",
        "events_heavy_hitters": f"""
WITH keyed AS (
  SELECT CAST(user_id AS VARCHAR) AS key FROM events
  WHERE CAST(user_id AS VARCHAR) <> ''
),
js AS (SELECT unnest(range(0, 4)) AS j),
cells AS (
  SELECT j, {_hex16_sql("CAST(j AS VARCHAR) || ':' || key")} % 64
            AS bucket,
         count(*) AS c
  FROM keyed, js GROUP BY 1, 2
),
tc AS (SELECT key, count(*) AS n_true FROM keyed GROUP BY 1),
top AS (SELECT key, n_true FROM tc ORDER BY n_true DESC, key LIMIT 50),
probes AS (
  SELECT t.key, t.n_true, js.j,
         {_hex16_sql("CAST(js.j AS VARCHAR) || ':' || t.key")} % 64
           AS bucket
  FROM top t, js
)
SELECT p.key, CAST(p.n_true AS BIGINT) AS n_true,
       CAST(min(c.c) AS BIGINT) AS n_cms
FROM probes p JOIN cells c USING (j, bucket)
GROUP BY 1, 2""",
        "events_range_join": """
WITH f AS (
  SELECT CAST(floor(value * 100) AS BIGINT) AS v FROM events
),
r AS (
  SELECT c_custkey AS range_id,
         CAST(c_custkey * 37 AS BIGINT) AS lo,
         CAST(c_custkey * 37 + c_custkey % 211 + 5 AS BIGINT) AS hi
  FROM customer
)
SELECT r.range_id, count(*) AS n_events, CAST(sum(f.v) AS BIGINT) AS sum_v
FROM f JOIN r ON f.v >= r.lo AND f.v < r.hi
GROUP BY 1""",
        "events_rollup": """
WITH e AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
         event_type,
         CAST(floor(value * 100) AS BIGINT) AS v_c
  FROM events
)
SELECT day, hr, event_type,
       CAST(GROUPING(day, hr, event_type) AS INT) AS gid,
       count(*) AS n, sum(v_c) AS sum_v_c
FROM e GROUP BY ROLLUP (day, hr, event_type)""",
        "events_hll_distinct": f"""
WITH k AS (
  SELECT event_type AS g,
         CAST(user_id AS VARCHAR) || ':' ||
         CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS key
  FROM events
),
hx AS (SELECT g, key, md5(key) AS h FROM k),
c AS (
  SELECT g, key,
         {_hexchunk_sql(1)} % 64 AS j,
         CAST({_hexchunk_sql(5)} * 65536 + {_hexchunk_sql(9)}
              AS BIGINT) AS w
  FROM hx
),
r AS (
  SELECT g, j,
         max(33 - CASE WHEN w = 0 THEN 0 ELSE length(bin(w)) END) AS M
  FROM c GROUP BY 1, 2
),
s AS (
  SELECT g, sum(1::BIGINT << (33 - M))
            + (64 - count(*)) * (1::BIGINT << 33) AS s2
  FROM r GROUP BY 1
),
e AS (SELECT g, count(DISTINCT key) AS n_exact FROM k GROUP BY 1)
SELECT e.g AS event_type, e.n_exact,
       CAST(24945719810981888 // (1000 * s.s2) AS BIGINT) AS n_hll
FROM e JOIN s USING (g)""",
        "events_hll_merge": f"""
WITH k AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         date_trunc('hour', ts) AS hr,
         CAST(user_id AS VARCHAR) || ':' ||
         CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS key
  FROM events
),
hx AS (SELECT event_type, day, hr, md5(key) AS h FROM k),
c AS (
  SELECT event_type, day, hr,
         {_hexchunk_sql(1)} % 64 AS j,
         CAST({_hexchunk_sql(5)} * 65536 + {_hexchunk_sql(9)}
              AS BIGINT) AS w
  FROM hx
),
r AS (
  SELECT event_type, day, j,
         max(33 - CASE WHEN w = 0 THEN 0 ELSE length(bin(w)) END) AS M
  FROM c GROUP BY 1, 2, 3
),
s AS (
  SELECT event_type, day,
         sum(1::BIGINT << (33 - M))
           + (64 - count(*)) * (1::BIGINT << 33) AS s2
  FROM r GROUP BY 1, 2
),
n AS (
  SELECT event_type, day,
         CAST(count(DISTINCT hr) AS BIGINT) AS n_subs
  FROM c GROUP BY 1, 2
)
SELECT n.event_type, n.day, n.n_subs,
       CAST(24945719810981888 // (1000 * s.s2) AS BIGINT) AS n_hll
FROM n JOIN s USING (event_type, day)""",
        "events_sliding_window": """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         count(*) AS n_1h,
         sum(CAST(floor(value * 100) AS BIGINT)) AS m_1h
  FROM events GROUP BY 1, 2
)
SELECT event_type, hour, n_1h, m_1h,
       CAST(sum(n_1h) OVER w AS BIGINT) AS n_3h,
       CAST(sum(m_1h) OVER w AS BIGINT) AS m_3h
FROM hourly
WINDOW w AS (PARTITION BY event_type ORDER BY hour
             RANGE BETWEEN INTERVAL 2 HOUR PRECEDING AND CURRENT ROW)""",
        "graph_stress": _oracle(_stress_oracle_sql(6)),
        "graph_widest": _oracle(_widest_oracle_sql(8)),
        "events_hll_sliding": f"""
WITH k AS (
  SELECT event_type AS g,
         epoch_us(ts) // 3600000000 AS hr,
         CAST(user_id AS VARCHAR) || ':' ||
         CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS key
  FROM events
),
hx AS (SELECT g, hr, key, md5(key) AS h FROM k),
c AS (
  SELECT g, hr, key,
         {_hexchunk_sql(1)} % 64 AS j,
         CAST({_hexchunk_sql(5)} * 65536 + {_hexchunk_sql(9)}
              AS BIGINT) AS w
  FROM hx
),
r AS (
  SELECT g, hr, j,
         max(33 - CASE WHEN w = 0 THEN 0 ELSE length(bin(w)) END) AS M
  FROM c GROUP BY 1, 2, 3
),
hd AS (SELECT DISTINCT g, hr FROM k),
stub AS (SELECT g, hr, u.j, 0 AS M
         FROM hd, UNNEST(generate_series(0, 63)) AS u(j)),
grid AS (
  SELECT g, hr, j, max(M) AS M
  FROM (SELECT * FROM stub UNION ALL SELECT * FROM r)
  GROUP BY 1, 2, 3
),
mg AS (
  SELECT g, hr, j,
         max(M) OVER (PARTITION BY g, j ORDER BY hr
                      RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)
           AS Mw
  FROM grid
),
est AS (SELECT g, hr, sum(1::BIGINT << (33 - Mw)) AS s2
        FROM mg GROUP BY 1, 2),
uq AS (SELECT DISTINCT g, hr, key FROM k),
ex AS (
  SELECT d.g, d.hr, count(DISTINCT u.key) AS n_exact
  FROM hd d JOIN uq u
    ON u.g = d.g AND u.hr <= d.hr AND u.hr > d.hr - 24
  GROUP BY 1, 2
)
SELECT ex.g AS event_type, CAST(ex.hr AS BIGINT) AS hr,
       CAST(ex.n_exact AS BIGINT) AS n_exact,
       CAST(24945719810981888 // (1000 * est.s2) AS BIGINT) AS n_hll
FROM ex JOIN est ON est.g = ex.g AND est.hr = ex.hr""",
        "events_interval_coalesce": """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s,
         epoch_us(ts)
           + CAST(floor(value * 3600) AS BIGINT) * 1000000 AS e
  FROM events
),
fl AS (
  SELECT user_id, s, e,
         CASE WHEN max(e) OVER wp IS NULL
                OR s > max(e) OVER wp THEN 1 ELSE 0 END AS nf
  FROM iv
  WINDOW wp AS (PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
runs AS (
  SELECT user_id, s, e,
         sum(nf) OVER (PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS isl
  FROM fl
)
SELECT user_id, CAST(min(s) AS BIGINT) AS island_start,
       CAST(max(e) AS BIGINT) AS island_end,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(max(e) - min(s) AS BIGINT) AS covered
FROM runs GROUP BY user_id, isl""",
        "events_gini": """
WITH per AS (
  SELECT user_id,
         sum(CAST(floor(value * 100) AS BIGINT)) AS w
  FROM events GROUP BY 1
),
rk AS (
  SELECT w, row_number() OVER (ORDER BY w, user_id) AS i FROM per
)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(w) AS BIGINT) AS total,
       CAST((1000000::HUGEINT
             * (2 * sum(w::HUGEINT * i) - (count(*) + 1) * sum(w)))
            // (count(*)::HUGEINT * sum(w)) AS BIGINT) AS gini_ppm
FROM rk""",
        "events_quantiles_unbounded": """
WITH f AS (
  SELECT event_type AS g,
         CAST(floor(value * 1000000000) AS BIGINT) * 1000
           + event_id % 1000 AS v
  FROM events
),
rk AS (
  SELECT g, v,
         row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM f
)
SELECT g AS event_type, CAST(max(n) AS BIGINT) AS n_rows,
       CAST(min(CASE WHEN rn >= (50 * n + 99) // 100 THEN v END)
            AS BIGINT) AS p50,
       CAST(min(CASE WHEN rn >= (95 * n + 99) // 100 THEN v END)
            AS BIGINT) AS p95,
       CAST(min(CASE WHEN rn >= (99 * n + 99) // 100 THEN v END)
            AS BIGINT) AS p99
FROM rk GROUP BY g""",
        "crawl_cdc_apply": _oracle(f"""
, pd AS (SELECT DISTINCT doc_id, check_id FROM web_pages),
base AS (SELECT check_id AS id, CAST(-1 AS BIGINT) AS seq,
                'U' AS op, md5(check_id || 'v0') AS payload
         FROM pd),
kk AS (SELECT doc_id, check_id, u.k
       FROM pd, UNNEST(generate_series(0, 2)) AS u(k)),
lg AS (
  SELECT check_id AS id,
         CAST(doc_id * 3 + k AS BIGINT) AS seq,
         CASE WHEN {_hex16_sql(
             "'o:' || check_id || ':' || CAST(k AS VARCHAR)")} % 7 = 0
              THEN 'D' ELSE 'U' END AS op,
         md5(check_id || ':' || CAST(k AS VARCHAR)) AS payload
  FROM kk
  WHERE {_hex16_sql(
      "'e:' || check_id || ':' || CAST(k AS VARCHAR)")} % 4 <> 0
),
fresh AS (
  SELECT 'new:' || check_id AS id,
         CAST(doc_id * 3 + 1 AS BIGINT) AS seq, 'U' AS op,
         md5('new:' || check_id) AS payload
  FROM pd WHERE doc_id % 10 = 0
),
allr AS (SELECT * FROM base UNION ALL SELECT * FROM lg
         UNION ALL SELECT * FROM fresh),
fin AS (
  SELECT id, arg_max(op, seq) AS op,
         arg_max(payload, seq) AS payload,
         max(seq) AS last_seq
  FROM allr GROUP BY id
)
SELECT id, payload, CAST(last_seq AS BIGINT) AS last_seq,
       CASE WHEN last_seq = -1 THEN 'base' ELSE 'log' END AS src
FROM fin WHERE op <> 'D'"""),
        "dedup_blocking_quality": _oracle("""
, t AS (SELECT DISTINCT host AS b, path AS k, doc_id AS i
        FROM web_pages),
sz AS (SELECT b, count(*) AS n FROM t GROUP BY 1),
base AS (
  SELECT sum(n) AS n_records, count(*) AS n_blocks,
         sum(n * (n - 1) // 2) AS n_block_pairs,
         sum(CASE WHEN n > 3 THEN n * 3 - 6
                  ELSE n * (n - 1) // 2 END) AS n_comparisons
  FROM sz
),
tp AS (
  SELECT count(*) AS n_true
  FROM t a JOIN t x ON x.b = a.b AND a.i < x.i
  WHERE levenshtein(a.k, x.k) <= 2
),
s AS (SELECT b, k, i,
             row_number() OVER (PARTITION BY b ORDER BY k, i) AS rn
      FROM t),
fnd AS (
  SELECT count(*) AS n_found
  FROM s a JOIN s x
    ON x.b = a.b AND x.rn > a.rn AND x.rn <= a.rn + 3
  WHERE levenshtein(a.k, x.k) <= 2
)
SELECT CAST(n_records AS BIGINT) AS n_records,
       CAST(n_blocks AS BIGINT) AS n_blocks,
       CAST(n_block_pairs AS BIGINT) AS n_block_pairs,
       CAST(n_comparisons AS BIGINT) AS n_comparisons,
       CAST(n_true AS BIGINT) AS n_true,
       CAST(n_found AS BIGINT) AS n_found,
       CAST(1000000 - n_comparisons * 1000000
            // greatest(n_block_pairs, 1) AS BIGINT) AS rr_ppm,
       CAST(n_found * 1000000 // greatest(n_true, 1) AS BIGINT)
         AS pc_ppm,
       CAST(n_found * 1000000 // greatest(n_comparisons, 1)
            AS BIGINT) AS pq_ppm
FROM base CROSS JOIN tp CROSS JOIN fnd"""),
        "events_twap": """
WITH s AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         epoch_us(ts) AS t,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events
),
stepped AS (
  SELECT event_type, day, v,
         lead(t) OVER (PARTITION BY event_type, day
                       ORDER BY t, v) - t AS held_us
  FROM s
)
SELECT event_type, day,
       CAST(count(*) + 1 AS BIGINT) AS n_samples,
       CAST(sum(held_us) AS BIGINT) AS span_us,
       CAST(sum(v::HUGEINT * held_us)
            // sum(held_us::HUGEINT) AS BIGINT) AS twap
FROM stepped WHERE held_us IS NOT NULL
GROUP BY 1, 2""",
        "events_division": """
WITH obs AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
wk AS (SELECT unnest(generate_series(DATE '2024-01-01',
                                     DATE '2024-01-07',
                                     INTERVAL 1 DAY))::DATE AS day)
SELECT DISTINCT u.user_id
FROM (SELECT DISTINCT user_id FROM events) u
WHERE NOT EXISTS (
  SELECT 1 FROM wk
  WHERE NOT EXISTS (
    SELECT 1 FROM obs
    WHERE obs.user_id = u.user_id AND obs.day = wk.day))""",
        "graph_assortativity": _oracle("""
, und AS (
  SELECT DISTINCT least(src_doc_id, tgt_doc_id) AS u,
         greatest(src_doc_id, tgt_doc_id) AS v
  FROM web_links_full WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id
),
sym AS (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
deg AS (SELECT u, count(*) AS d FROM sym GROUP BY 1),
pairs AS (
  SELECT dx.d AS dx, dy.d AS dy
  FROM sym JOIN deg dx ON dx.u = sym.u
  JOIN deg dy ON dy.u = sym.v
),
m AS (
  SELECT count(*)::HUGEINT AS n, sum(dx)::HUGEINT AS sx,
         sum(dy)::HUGEINT AS sy,
         sum(dx::HUGEINT * dy) AS sxy,
         sum(dx::HUGEINT * dx) AS sxx,
         sum(dy::HUGEINT * dy) AS syy
  FROM pairs
)
SELECT CAST(n // 2 AS BIGINT) AS n_edges,
       CAST(sign(n * sxy - sx * sy) AS INTEGER) AS cov_sign,
       CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0
            THEN 0
            ELSE CAST((n * sxy - sx * sy) * (n * sxy - sx * sy)
                      * 1000000
                      // ((n * sxx - sx * sx) * (n * syy - sy * sy))
                      AS BIGINT) END AS r2_ppm
FROM m"""),
        "events_ams_f2": f"""
WITH keyed AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
est AS (SELECT key, u.i
        FROM keyed, UNNEST(generate_series(0, 255)) AS u(i)),
sgn AS (
  SELECT i,
         CASE WHEN {_hex16_sql("CAST(i AS VARCHAR) || ':' || key")}
                   % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM est
),
z AS (SELECT i, sum(s) AS z FROM sgn GROUP BY 1),
g AS (SELECT i % 32 AS g, sum(z * z) // 8 AS mean FROM z GROUP BY 1),
ams AS (SELECT mean FROM g ORDER BY mean LIMIT 1 OFFSET 15),
ex AS (
  SELECT sum(c * c) AS f2_exact, sum(c) AS n_rows
  FROM (SELECT key, count(*) AS c FROM keyed GROUP BY 1)
)
SELECT CAST(ex.n_rows AS BIGINT) AS n_rows,
       CAST(ex.f2_exact AS BIGINT) AS f2_exact,
       CAST(ams.mean AS BIGINT) AS f2_ams
FROM ex CROSS JOIN ams""",
        "orders_benford": """
WITH v AS (
  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v
  FROM orders WHERE floor(o_totalprice * 100) > 0
),
c AS (
  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         count(*) AS n_obs
  FROM v GROUP BY 1
),
t AS (SELECT sum(n_obs) AS n FROM c),
p AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
                            (4, 96910), (5, 79181), (6, 66947),
                            (7, 57992), (8, 51153), (9, 45757))
      AS pp(digit, exp_ppm))
SELECT c.digit, CAST(c.n_obs AS BIGINT) AS n_obs,
       CAST(p.exp_ppm AS BIGINT) AS exp_ppm,
       CAST(((c.n_obs::HUGEINT * 1000000 - t.n::HUGEINT * p.exp_ppm)
             * (c.n_obs::HUGEINT * 1000000 - t.n::HUGEINT * p.exp_ppm))
            // (t.n::HUGEINT * p.exp_ppm) AS BIGINT) AS chi_ppm
FROM c JOIN p USING (digit) CROSS JOIN t""",
        "corpus_compaction_plan": """
WITH pre AS (
  SELECT lang, doc_id, n_chars,
         coalesce(sum(n_chars) OVER (
           PARTITION BY lang ORDER BY n_chars DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS p
  FROM documents
),
asg AS (SELECT lang, doc_id, n_chars, p // 2000 AS grp FROM pre)
SELECT lang, CAST(grp AS BIGINT) AS grp,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n_chars) AS BIGINT) AS bytes,
       md5(string_agg(CAST(doc_id AS VARCHAR), '|'
                      ORDER BY CAST(doc_id AS VARCHAR)))
         AS files_digest
FROM asg GROUP BY 1, 2""",
        "corpus_skyline": """
WITH f AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) * 1000000
              // len(string_split(text, ' ')) AS BIGINT) AS ttr_ppm
  FROM documents
)
SELECT a.n_tokens, a.doc_id, a.ttr_ppm
FROM f a
WHERE NOT EXISTS (
  SELECT 1 FROM f b
  WHERE b.n_tokens >= a.n_tokens AND b.ttr_ppm >= a.ttr_ppm
    AND (b.n_tokens > a.n_tokens OR b.ttr_ppm > a.ttr_ppm))""",
        "corpus_bigram_lm": """
WITH bi AS (
  SELECT doc_id, l[i] AS v, l[i + 1] AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS l
        FROM documents),
       UNNEST(generate_series(1, len(l) - 1)) AS u(i)
),
uni AS (
  SELECT tok, count(*) AS ct FROM (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY 1
),
mbi AS (SELECT v, w, count(*) AS ct_vw FROM bi GROUP BY 1, 2),
tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM uni),
sc AS (
  SELECT b.doc_id,
         CAST((1000000000::HUGEINT
               * (m.ct_vw::HUGEINT * t.n + uw.ct))
              // (t.n::HUGEINT * (uv.ct + 1)) AS BIGINT) AS ppb
  FROM bi b
  JOIN mbi m ON m.v = b.v AND m.w = b.w
  JOIN uni uv ON uv.tok = b.v
  JOIN uni uw ON uw.tok = b.w
  CROSS JOIN tot t
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(ppb) AS BIGINT) AS sum_like_ppb,
       CAST(sum(ppb) // count(*) AS BIGINT) AS avg_like_ppb
FROM sc GROUP BY 1""",
        "corpus_kneser_ney": """
WITH bi AS (
  SELECT doc_id, l[i] AS v, l[i + 1] AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS l
        FROM documents),
       UNNEST(generate_series(1, len(l) - 1)) AS u(i)
),
mbi AS (SELECT v, w, count(*) AS ct_vw FROM bi GROUP BY 1, 2),
lft AS (SELECT v, CAST(sum(ct_vw) AS BIGINT) AS ct_v,
               count(*) AS n_after_v
        FROM mbi GROUP BY 1),
rgt AS (SELECT w, count(*) AS n_before_w FROM mbi GROUP BY 1),
tt AS (SELECT count(*) AS t_types FROM mbi),
sc AS (
  SELECT b.doc_id,
         CAST((1000000000::HUGEINT
               * ((4 * m.ct_vw::HUGEINT - 3) * t.t_types
                  + 3 * lf.n_after_v::HUGEINT * rg.n_before_w))
              // (4 * lf.ct_v::HUGEINT * t.t_types) AS BIGINT) AS ppb
  FROM bi b
  JOIN mbi m ON m.v = b.v AND m.w = b.w
  JOIN lft lf ON lf.v = b.v
  JOIN rgt rg ON rg.w = b.w
  CROSS JOIN tt t
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(ppb) AS BIGINT) AS sum_kn_ppb,
       CAST(sum(ppb) // count(*) AS BIGINT) AS avg_kn_ppb
FROM sc GROUP BY 1""",
        "events_stream_join_audit": f"""
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS event_us,
         epoch_us(ts)
           + ({_hex16_sql("CAST(event_id AS VARCHAR)")} % 21600)
           * 1000000 AS arrival_us
  FROM events WHERE event_type IN ('click', 'purchase')
),
l AS (SELECT event_id, user_id, event_us,
             arrival_us // 3600000000 AS b
      FROM ev WHERE event_type = 'click'),
r AS (SELECT event_id, user_id, event_us,
             arrival_us // 3600000000 AS b
      FROM ev WHERE event_type = 'purchase'),
bl AS (SELECT b, max(event_us) AS m FROM l GROUP BY 1),
br AS (SELECT b, max(event_us) AS m FROM r GROUP BY 1),
d0 AS (SELECT coalesce(bl.b, br.b) AS b, bl.m AS lm, br.m AS rm
       FROM bl FULL JOIN br ON bl.b = br.b),
dimr AS (
  SELECT b, max(lm) OVER wp AS lrun, max(rm) OVER wp AS rrun
  FROM d0
  WINDOW wp AS (ORDER BY b
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
wm AS (SELECT b, CASE WHEN lrun IS NULL OR rrun IS NULL THEN NULL
                      ELSE least(lrun, rrun) - 1800000000 END AS wm_us
       FROM dimr),
we AS (SELECT b, wm_us,
              coalesce(lag(wm_us) OVER (ORDER BY b),
                       {-(1 << 62)}) AS pw
       FROM wm WHERE wm_us IS NOT NULL),
lr AS (SELECT l.*, coalesce(l.event_us < w.wm_us, FALSE) AS late,
              l.event_us + 14400000000 AS thr
       FROM l JOIN wm w USING (b)),
rr AS (SELECT r.*, coalesce(r.event_us < w.wm_us, FALSE) AS late,
              r.event_us AS thr
       FROM r JOIN wm w USING (b)),
dl AS (
  SELECT b, sum(d) AS d_l FROM (
    SELECT b, 1 AS d FROM lr WHERE NOT late
    UNION ALL
    SELECT we.b, -1 FROM lr
    JOIN we ON lr.thr >= we.pw AND lr.thr < we.wm_us
    WHERE NOT lr.late
  ) GROUP BY 1
),
drr AS (
  SELECT b, sum(d) AS d_r FROM (
    SELECT b, 1 AS d FROM rr WHERE NOT late
    UNION ALL
    SELECT we.b, -1 FROM rr
    JOIN we ON rr.thr >= we.pw AND rr.thr < we.wm_us
    WHERE NOT rr.late
  ) GROUP BY 1
),
series AS (
  SELECT w.b, w.wm_us,
         sum(coalesce(d_l, 0)) OVER wc AS state_l,
         sum(coalesce(d_r, 0)) OVER wc AS state_r
  FROM wm w LEFT JOIN dl USING (b) LEFT JOIN drr USING (b)
  WINDOW wc AS (ORDER BY b
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
cand AS (
  SELECT greatest(l.b, r.b) AS b, (l.late OR r.late) AS lost,
         CAST(l.event_id AS VARCHAR) || ':'
           || CAST(r.event_id AS VARCHAR) AS pid
  FROM lr l JOIN rr r ON l.user_id = r.user_id
   AND r.event_us BETWEEN l.event_us AND l.event_us + 14400000000
),
em AS (
  SELECT b, sum(CASE WHEN NOT lost THEN 1 ELSE 0 END) AS n_emit,
         sum(CASE WHEN lost THEN 1 ELSE 0 END) AS n_lost,
         md5(coalesce(string_agg(CASE WHEN lost THEN pid END,
                                 '|' ORDER BY pid), ''))
           AS lost_digest
  FROM cand GROUP BY 1
)
SELECT s.b AS batch_id, CAST(s.wm_us AS BIGINT) AS wm_us,
       CAST(s.state_l AS BIGINT) AS state_l,
       CAST(s.state_r AS BIGINT) AS state_r,
       CAST(coalesce(em.n_emit, 0) AS BIGINT) AS n_emit,
       CAST(coalesce(em.n_lost, 0) AS BIGINT) AS n_lost,
       coalesce(em.lost_digest, md5('')) AS lost_digest
FROM series s LEFT JOIN em USING (b)""",
        "crawl_scd2_history": _oracle(f"""
, pd AS (SELECT DISTINCT check_id FROM web_pages),
sn AS (
  SELECT check_id, u.s AS snap
  FROM pd, UNNEST(generate_series(0, 3)) AS u(s)
),
obs AS (
  SELECT check_id, snap,
         md5(check_id || ':v' || CAST(
           {_hex16_sql("'v:' || check_id || ':' || CAST(snap AS VARCHAR)")}
           % 3 AS VARCHAR)) AS digest
  FROM sn
  WHERE {_hex16_sql("'p:' || check_id || ':' || CAST(snap AS VARCHAR)")}
        % 8 <> 0
),
fl AS (
  SELECT check_id, snap, digest,
         CASE WHEN lag(snap) OVER w IS NULL
                OR lag(snap) OVER w <> snap - 1
                OR lag(digest) OVER w <> digest
              THEN 1 ELSE 0 END AS new_flag
  FROM obs WINDOW w AS (PARTITION BY check_id ORDER BY snap)
),
runs AS (
  SELECT check_id, snap, digest,
         sum(new_flag) OVER (PARTITION BY check_id
                             ORDER BY snap) AS ver
  FROM fl
)
SELECT check_id, min(digest) AS digest,
       CAST(min(snap) AS BIGINT) AS valid_from,
       CAST(max(snap) AS BIGINT) AS valid_to,
       CAST(count(*) AS BIGINT) AS n_snaps,
       CAST(CASE WHEN max(snap) = 3 THEN 1 ELSE 0 END AS INTEGER)
         AS is_current
FROM runs GROUP BY check_id, ver"""),
        "dedup_cdc_chunks": f"""
WITH pos AS (
  SELECT doc_id, text AS t, u.i,
         md5(substr(text, u.i - 15, 16)) AS h
  FROM documents,
       UNNEST(generate_series(16, length(text))) AS u(i)
  WHERE length(text) > 0
),
b AS (
  SELECT doc_id, i AS e FROM pos
  WHERE {_hexchunk_sql(1)} % 64 = 0
  UNION
  SELECT doc_id, length(text) AS e FROM documents
  WHERE length(text) > 0
),
sp AS (
  SELECT doc_id, e,
         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0)
           + 1 AS start
  FROM b
),
ch AS (
  SELECT sp.doc_id,
         md5(substr(d.text, sp.start, sp.e - sp.start + 1))
           AS chunk_md5,
         sp.e - sp.start + 1 AS chunk_len
  FROM sp JOIN documents d USING (doc_id)
)
SELECT chunk_md5,
       CAST(min(chunk_len) AS BIGINT) AS chunk_len,
       CAST(count(*) AS BIGINT) AS n_occ,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM ch GROUP BY 1""",
        "sketch_kmv_overlap": f"""
WITH kd AS (
  SELECT DISTINCT o_orderpriority AS g,
         {_hex48_sql("'kmv:' || CAST(o_custkey AS VARCHAR)")} AS h
  FROM orders
),
sk AS (
  SELECT g, h,
         row_number() OVER (PARTITION BY g ORDER BY h) AS rk
  FROM kd QUALIFY rk <= 256
),
gs AS (
  SELECT g, max(h) AS hk, count(*) AS n_sk,
         CASE WHEN count(*) < 256 THEN count(*)
              ELSE 71776119061217280 // max(h) END AS n_kmv
  FROM sk GROUP BY 1
),
ex AS (SELECT g, count(*) AS n_exact FROM kd GROUP BY 1),
gd AS (SELECT * FROM gs JOIN ex USING (g)),
pairs AS (
  SELECT a.g AS g_a, b.g AS g_b, least(a.hk, b.hk) AS theta,
         a.n_kmv AS n_a_kmv, b.n_kmv AS n_b_kmv,
         a.n_exact AS n_a_exact, b.n_exact AS n_b_exact
  FROM gd a, gd b WHERE a.g < b.g
),
shared AS (
  SELECT sa.g AS g_a, sb.g AS g_b, count(*) AS n_shared
  FROM sk sa JOIN sk sb ON sa.h = sb.h AND sa.g < sb.g
  JOIN pairs p ON p.g_a = sa.g AND p.g_b = sb.g
  WHERE sa.h < p.theta
  GROUP BY 1, 2
),
ie AS (
  SELECT ka.g AS g_a, kb.g AS g_b, count(*) AS n_inter_exact
  FROM kd ka JOIN kd kb ON ka.h = kb.h AND ka.g < kb.g
  GROUP BY 1, 2
),
u AS (
  SELECT p.g_a, p.g_b, s.h FROM pairs p JOIN sk s ON s.g = p.g_a
  UNION
  SELECT p.g_a, p.g_b, s.h FROM pairs p JOIN sk s ON s.g = p.g_b
),
ur AS (
  SELECT g_a, g_b, h,
         row_number() OVER (PARTITION BY g_a, g_b ORDER BY h) AS rk
  FROM u QUALIFY rk <= 256
),
un AS (
  SELECT g_a, g_b,
         CASE WHEN count(*) < 256 THEN count(*)
              ELSE 71776119061217280 // max(h) END AS n_union_kmv
  FROM ur GROUP BY 1, 2
)
SELECT p.g_a, p.g_b,
       CAST(p.n_a_exact AS BIGINT) AS n_a_exact,
       CAST(p.n_b_exact AS BIGINT) AS n_b_exact,
       CAST(coalesce(ie.n_inter_exact, 0) AS BIGINT) AS n_inter_exact,
       CAST(p.n_a_kmv AS BIGINT) AS n_a_kmv,
       CAST(p.n_b_kmv AS BIGINT) AS n_b_kmv,
       CAST((coalesce(sh.n_shared, 0) * 281474976710656) // p.theta
            AS BIGINT) AS n_inter_kmv,
       CAST(un.n_union_kmv AS BIGINT) AS n_union_kmv
FROM pairs p
LEFT JOIN shared sh ON sh.g_a = p.g_a AND sh.g_b = p.g_b
LEFT JOIN ie ON ie.g_a = p.g_a AND ie.g_b = p.g_b
JOIN un ON un.g_a = p.g_a AND un.g_b = p.g_b""",
        "events_watermark_audit": f"""
WITH ev AS (
  SELECT event_id, epoch_us(ts) AS event_us,
         epoch_us(ts) + ({_hex16_sql("CAST(event_id AS VARCHAR)")}
                         % 7200) * 1000000 AS arrival_us
  FROM events
),
eb AS (
  SELECT event_id, event_us,
         arrival_us // 3600000000 AS batch_id
  FROM ev
),
dim AS (
  SELECT batch_id,
         max(max(event_us)) OVER (ORDER BY batch_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - 1800 * 1000000 AS wm_us
  FROM eb GROUP BY batch_id
),
j AS (
  SELECT e.batch_id, d.wm_us, e.event_id,
         e.event_us < d.wm_us AS late
  FROM eb e JOIN dim d USING (batch_id)
)
SELECT batch_id, CAST(min(wm_us) AS BIGINT) AS wm_us,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late,
       md5(coalesce(string_agg(
           CASE WHEN late THEN CAST(event_id AS VARCHAR) END, '|'
           ORDER BY CAST(event_id AS VARCHAR)), '')) AS late_digest
FROM j GROUP BY 1""",
        "events_anomaly": """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type, hr, n_events,
         CAST(count(n_events) OVER w AS BIGINT) AS n_prev,
         CAST(coalesce(sum(n_events) OVER w, 0) AS BIGINT) AS s1,
         CAST(coalesce(sum(n_events * n_events) OVER w, 0)
              AS BIGINT) AS s2
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hr
               RANGE BETWEEN INTERVAL 24 HOUR PRECEDING
                     AND INTERVAL 1 HOUR PRECEDING)
),
d AS (
  SELECT event_type, hr, n_events, n_prev,
         CAST(CASE WHEN n_prev > 0
              THEN (n_prev*n_events - s1)*(n_prev*n_events - s1)
              ELSE 0 END AS BIGINT) AS dev_sq,
         CAST(CASE WHEN n_prev > 0
              THEN 4*(n_prev*s2 - s1*s1) ELSE 0 END AS BIGINT)
              AS thresh_sq
  FROM s
)
SELECT event_type, hr, n_events, n_prev, dev_sq, thresh_sq,
       CAST(n_prev >= 6 AND dev_sq > thresh_sq AS INT) AS anomaly
FROM d""",
        "orders_fk_audit": "\nUNION ALL\n".join(f"""
SELECT '{name}' AS relation,
       CAST((SELECT count(*) FROM {child}) AS BIGINT) AS n_child,
       CAST((SELECT count(*) FROM {child} WHERE {fk} IS NULL)
            AS BIGINT) AS n_null_fk,
       CAST((SELECT count(*) FROM {child} c
             WHERE c.{fk} IS NOT NULL AND NOT EXISTS
               (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk}))
            AS BIGINT) AS n_orphans,
       CAST((SELECT count(DISTINCT {pk}) FROM {parent}) AS BIGINT)
           AS n_parent,
       CAST((SELECT count(*) FROM (SELECT {pk} FROM {parent}
             GROUP BY 1 HAVING count(*) > 1)) AS BIGINT) AS n_dup_pk,
       (SELECT count(*) FROM {child} WHERE {fk} IS NULL) = 0
         AND (SELECT count(*) FROM {child} c
              WHERE c.{fk} IS NOT NULL AND NOT EXISTS
                (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})) = 0
         AND (SELECT count(*) FROM (SELECT {pk} FROM {parent}
              GROUP BY 1 HAVING count(*) > 1)) = 0 AS ok"""
            for name, child, fk, parent, pk in [
                ("lineitem.l_orderkey->orders", "lineitem",
                 "l_orderkey", "orders", "o_orderkey"),
                ("orders.o_custkey->customer", "orders", "o_custkey",
                 "customer", "c_custkey"),
                ("customer.c_nationkey->nation", "customer",
                 "c_nationkey", "nation", "n_nationkey"),
                ("lineitem.l_partkey->part", "lineitem", "l_partkey",
                 "part", "p_partkey"),
                ("lineitem.l_suppkey->supplier", "lineitem",
                 "l_suppkey", "supplier", "s_suppkey"),
                ("lineitem.l_suppkey->supplier_halved", "lineitem",
                 "l_suppkey",
                 "(SELECT * FROM supplier WHERE s_suppkey % 2 = 0)",
                 "s_suppkey"),
            ]),
        "tpch_q1": """
SELECT l_returnflag, l_linestatus,
       CAST(floor(sum(l_quantity)) AS BIGINT) AS sum_qty,
       CAST(floor(sum(l_extendedprice) * 100) AS BIGINT) AS sum_base_c,
       CAST(floor(sum(l_extendedprice * (1 - l_discount)) * 100)
            AS BIGINT) AS sum_disc_c,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY 1, 2""",
        "tpch_q3": """
SELECT o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                           * 100) AS BIGINT)) AS BIGINT) AS revenue_c
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY 1, 2
ORDER BY revenue_c DESC, o.o_orderkey
LIMIT 10""",
        "tpch_q6": """
SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_c,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24""",
        "docs_asset_reuse": _oracle("""
SELECT href AS media_ref,
       regexp_extract(href, '^https://([^/]+)/', 1) AS asset_host,
       CAST(count(DISTINCT src_doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_refs,
       count(DISTINCT src_doc_id) >= 3 AS is_hot
FROM web_links_full
WHERE href LIKE '%.png'
GROUP BY 1, 2"""),
        "corpus_profile": " UNION ALL ".join(f"""
SELECT '{c}' AS col_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value
FROM documents""" for c in ("doc_id", "text", "lang", "source",
                            "n_chars")),
        "corpus_zipf": """
WITH toks AS (
  SELECT regexp_replace(
             unnest(string_split_regex(lower(text),
                                       '[ \\t\\n\\r\\f]+')),
             '[^a-z0-9]', '', 'g') AS tok
  FROM documents),
f AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq
  FROM toks WHERE tok <> '' GROUP BY 1),
tot AS (SELECT sum(freq) AS n FROM f),
top AS (
  SELECT tok, freq,
         CAST(row_number() OVER (ORDER BY freq DESC, tok)
              AS BIGINT) AS rank
  FROM f ORDER BY freq DESC, tok LIMIT 50)
SELECT t.tok, t.rank, t.freq,
       CAST(t.freq * 1000000 // tot.n AS BIGINT) AS share_ppm,
       CAST(t.freq * t.rank * 1000000 // tot.n AS BIGINT)
         AS zipf_c_ppm
FROM top t, tot""",
        "events_mann_kendall": """
WITH d AS (
  SELECT event_type AS etype, date_trunc('day', ts) AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
s AS (
  SELECT a.etype,
         CAST(sum(CASE WHEN b.x > a.x THEN 1
                       WHEN b.x < a.x THEN -1 ELSE 0 END)
              AS BIGINT) AS s_stat
  FROM d a JOIN d b ON b.etype = a.etype AND a.d < b.d
  GROUP BY 1),
n AS (SELECT etype, CAST(count(*) AS BIGINT) AS n_days
      FROM d GROUP BY 1),
t AS (
  SELECT n.etype, n.n_days,
         coalesce(s.s_stat, 0) AS s_stat,
         CAST(CASE WHEN n.n_days >= 2 THEN
                coalesce(s.s_stat, 0) * 1000000
                  // ((n.n_days * (n.n_days - 1)) // 2)
              END AS BIGINT) AS tau_ppm
  FROM n LEFT JOIN s ON s.etype = n.etype)
SELECT etype AS event_type, n_days, s_stat, tau_ppm,
       CASE WHEN tau_ppm >= 200000 THEN 'up'
            WHEN tau_ppm <= -200000 THEN 'down'
            ELSE 'flat' END AS trend
FROM t""",
        "events_autocorr": """
WITH hc AS (
  SELECT event_type AS etype, date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
b AS (SELECT min(h) AS mn, max(h) AS mx FROM hc),
hours AS (
  SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
  FROM b),
ty AS (SELECT DISTINCT etype FROM hc),
dense AS (
  SELECT ty.etype, hours.h, coalesce(hc.x, 0) AS x
  FROM ty CROSS JOIN hours
  LEFT JOIN hc ON hc.etype = ty.etype AND hc.h = hours.h),
tot AS (
  SELECT etype, sum(x) AS s, CAST(count(*) AS BIGINT) AS n
  FROM dense GROUP BY 1),
c AS (
  SELECT d.etype, d.h, t.n,
         CAST(t.n * d.x - t.s AS HUGEINT) AS c
  FROM dense d JOIN tot t USING (etype)),
l AS (
  SELECT etype, n, c,
         lead(c, 1) OVER w AS c_1, lead(c, 2) OVER w AS c_2,
         lead(c, 3) OVER w AS c_3, lead(c, 24) OVER w AS c_24
  FROM c WINDOW w AS (PARTITION BY etype ORDER BY h)),
d0 AS (
  SELECT etype, max(n) AS n_hours, sum(c * c) AS d0
  FROM l GROUP BY 1),
pl AS (
  SELECT etype, lag, sum(p) AS dk FROM (
    SELECT etype, 1 AS lag, c * c_1 AS p FROM l
    UNION ALL SELECT etype, 2, c * c_2 FROM l
    UNION ALL SELECT etype, 3, c * c_3 FROM l
    UNION ALL SELECT etype, 24, c * c_24 FROM l) u
  WHERE p IS NOT NULL GROUP BY 1, 2)
SELECT pl.etype AS event_type, CAST(pl.lag AS BIGINT) AS lag,
       CAST(d0.n_hours AS BIGINT) AS n_hours,
       CAST(CASE WHEN d0.d0 <> 0 THEN pl.dk * 1000000 // d0.d0 END
            AS BIGINT) AS r_ppm
FROM pl JOIN d0 USING (etype)""",
        "graph_spectral": _spectral_unrolled_sql(4),
        "text_filter_agreement": _filter_agreement_sql(),
        "corpus_encoding_plan": """
WITH p AS (
  SELECT 'doc_id' AS col_name,
         coalesce(CAST(doc_id AS VARCHAR), '') AS val FROM documents
  UNION ALL SELECT 'text', coalesce(text, '') FROM documents
  UNION ALL SELECT 'lang', coalesce(lang, '') FROM documents
  UNION ALL SELECT 'source', coalesce(source, '') FROM documents
  UNION ALL SELECT 'n_chars',
                   coalesce(CAST(n_chars AS VARCHAR), '')
            FROM documents),
vg AS (
  SELECT col_name, val, CAST(count(*) AS BIGINT) AS n
  FROM p GROUP BY 1, 2),
per AS (
  SELECT col_name,
         CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(strlen(val) * n) AS BIGINT) AS plain_bytes,
         CAST(sum(strlen(val)) AS BIGINT) AS dict_bytes
  FROM vg GROUP BY 1),
c AS (
  SELECT *,
         CAST(CASE WHEN n_distinct <= 1 THEN 0
              ELSE length(bin(n_distinct - 1)) END AS BIGINT)
           AS code_bits
  FROM per),
t AS (
  SELECT *,
         CAST(dict_bytes + (n_rows * code_bits + 7) // 8 AS BIGINT)
           AS dict_total_bytes
  FROM c)
SELECT col_name, n_rows, n_distinct, plain_bytes, dict_bytes,
       code_bits, dict_total_bytes,
       dict_total_bytes < plain_bytes AS use_dictionary,
       CAST(CASE WHEN plain_bytes > 0 THEN
              (plain_bytes - dict_total_bytes) * 1000000
                // plain_bytes END AS BIGINT) AS savings_ppm
FROM t""",
        "corpus_filter_funnel": _filter_funnel_sql(),
        "embed_triplets": """
WITH a AS (
  SELECT vec_id AS a_id, CAST(embedding AS DOUBLE[]) AS a_vec,
         label AS a_label
  FROM embeddings WHERE vec_id % 97 = 0),
j AS (
  SELECT a.a_id, a.a_label, e.vec_id AS b_id, e.label AS b_label,
         CAST(floor(
           list_dot_product(CAST(e.embedding AS DOUBLE[]), a.a_vec)
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(a.a_vec, a.a_vec)))
           * 1000000) AS BIGINT) AS sim_ppm
  FROM embeddings e, a WHERE e.vec_id <> a.a_id),
pos AS (
  SELECT a_id, a_label, b_id AS pos_id, sim_ppm AS pos_sim_ppm
  FROM j WHERE b_label = a_label
  QUALIFY row_number() OVER (PARTITION BY a_id
                             ORDER BY sim_ppm, b_id) = 1),
neg AS (
  SELECT a_id, b_id AS neg_id, sim_ppm AS neg_sim_ppm
  FROM j WHERE b_label <> a_label
  QUALIFY row_number() OVER (PARTITION BY a_id
                             ORDER BY sim_ppm DESC, b_id) = 1)
SELECT p.a_id, p.a_label, p.pos_id, p.pos_sim_ppm,
       n.neg_id, n.neg_sim_ppm,
       CAST(p.pos_sim_ppm - n.neg_sim_ppm AS BIGINT) AS margin_ppm,
       (p.pos_sim_ppm - n.neg_sim_ppm) < 0 AS hard
FROM pos p JOIN neg n USING (a_id)""",
        "media_audio_dup": _audio_dup_sql(),
        "tpch_q4": """
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY 1""",
        "docs_span_gaps": _oracle("""
, surv AS (
  SELECT src_doc_id, k FROM web_links_full
  WHERE (k + length(href)) % 5 <> 0),
g AS (
  SELECT src_doc_id,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(min(k) AS BIGINT) AS span_min,
         CAST(max(k) AS BIGINT) AS span_max
  FROM surv GROUP BY 1)
SELECT p.check_id,
       coalesce(g.n_spans, 0) AS n_spans,
       g.span_min, g.span_max,
       CAST(CASE WHEN g.n_spans > 0 THEN
              g.span_max - g.span_min + 1 - g.n_spans END AS BIGINT)
         AS n_missing,
       CASE WHEN g.n_spans > 0 THEN
            (g.span_max - g.span_min + 1 - g.n_spans) > 0
            OR g.span_min > 1 END AS has_loss
FROM web_pages p LEFT JOIN g ON g.src_doc_id = p.doc_id"""),
        "events_count_min": f"""
WITH exact AS (
  SELECT CAST(user_id AS VARCHAR) AS key,
         CAST(count(*) AS BIGINT) AS exact_n
  FROM events GROUP BY 1),
cells AS (
  SELECT key, exact_n, 0 AS j,
         ({_hex16_sql("'0:' || key")}) % 256 AS b FROM exact
  UNION ALL SELECT key, exact_n, 1,
         ({_hex16_sql("'1:' || key")}) % 256 FROM exact
  UNION ALL SELECT key, exact_n, 2,
         ({_hex16_sql("'2:' || key")}) % 256 FROM exact
  UNION ALL SELECT key, exact_n, 3,
         ({_hex16_sql("'3:' || key")}) % 256 FROM exact),
sk AS (
  SELECT j, b, CAST(sum(exact_n) AS BIGINT) AS cell
  FROM cells GROUP BY 1, 2),
est AS (
  SELECT c.key, max(c.exact_n) AS exact_n, min(sk.cell) AS cms_n
  FROM cells c JOIN sk ON sk.j = c.j AND sk.b = c.b
  GROUP BY 1),
tot AS (SELECT CAST(sum(exact_n) AS BIGINT) AS n_total FROM exact),
rk AS (
  SELECT key, exact_n, cms_n,
         CAST(row_number() OVER (ORDER BY exact_n DESC, key)
              AS BIGINT) AS rank
  FROM est)
SELECT r.key, r.exact_n, r.cms_n,
       CAST(r.cms_n - r.exact_n AS BIGINT) AS overcount_n,
       CAST(2 * t.n_total // 256 AS BIGINT) AS bound_n, r.rank,
       (r.cms_n - r.exact_n) <= (2 * t.n_total // 256)
         AS within_bound
FROM rk r, tot t WHERE r.rank <= 10""",
        "embed_mips_bias": """
WITH aug AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> x * ((100 + (vec_id % 7) * 5) / 100.0))
           AS v
  FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS q_vec FROM aug WHERE vec_id < 5),
j AS (
  SELECT q.q_id, a.vec_id,
         CAST(floor(list_dot_product(a.v, q.q_vec) * 1000000)
              AS BIGINT) AS dot_ppm,
         CAST(floor(
           list_dot_product(a.v, q.q_vec)
           / (sqrt(list_dot_product(a.v, a.v))
              * sqrt(list_dot_product(q.q_vec, q.q_vec)))
           * 1000000) AS BIGINT) AS cos_ppm
  FROM aug a, q WHERE a.vec_id <> q.q_id),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY dot_ppm DESC, vec_id) AS rm,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_ppm DESC, vec_id) AS rc
  FROM j),
ov AS (
  SELECT q_id, CAST(count(*) AS BIGINT) AS overlap_at_5
  FROM r WHERE rm <= 5 AND rc <= 5 GROUP BY 1),
tm AS (SELECT q_id, vec_id AS top_mip_id FROM r WHERE rm = 1),
tc AS (SELECT q_id, vec_id AS top_cos_id FROM r WHERE rc = 1)
SELECT tm.q_id, coalesce(ov.overlap_at_5, 0) AS overlap_at_5,
       tm.top_mip_id, tc.top_cos_id,
       tm.top_mip_id = tc.top_cos_id AS same_top,
       CAST(100 + (tm.top_mip_id % 7) * 5 AS BIGINT)
         AS top_mip_scale_pct
FROM tm JOIN tc USING (q_id) LEFT JOIN ov USING (q_id)""",
        "embed_jl_audit": _jl_sql(),
        "orders_basket_rules": """
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM ob),
per AS (SELECT brand, CAST(count(*) AS BIGINT) AS n_b
        FROM ob GROUP BY 1),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM ob a JOIN ob b ON b.o = a.o AND a.brand < b.brand
  GROUP BY 1, 2)
SELECT p.brand_a, p.brand_b, p.n_both,
       pa.n_b AS n_a, pb.n_b AS n_b, n.n_orders,
       CAST(p.n_both * 1000000 // pa.n_b AS BIGINT) AS conf_ppm,
       CAST(CAST(p.n_both AS HUGEINT) * n.n_orders * 1000000
            // (CAST(pa.n_b AS HUGEINT) * pb.n_b) AS BIGINT)
         AS lift_ppm,
       CAST(CAST(p.n_both AS HUGEINT) * n.n_orders * 1000000
            // (CAST(pa.n_b AS HUGEINT) * pb.n_b) AS BIGINT)
         > 1000000 AS positive
FROM pairs p
JOIN per pa ON pa.brand = p.brand_a
JOIN per pb ON pb.brand = p.brand_b, n""",
        "events_interarrival": """
WITH d AS (
  SELECT event_type,
         (epoch_us(ts) - epoch_us(lag(ts) OVER (
              PARTITION BY user_id ORDER BY ts, event_id)))
           // 1000000 AS v
  FROM events),
hist AS (
  SELECT event_type, CAST(v AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS c
  FROM d WHERE v IS NOT NULL GROUP BY 1, 2),
cum AS (
  SELECT event_type, v, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM hist)
SELECT event_type, CAST(max(n) AS BIGINT) AS n_rows,
       CAST(min(CASE WHEN cum >= (50 * n + 99) // 100 THEN v END)
            AS BIGINT) AS p50,
       CAST(min(CASE WHEN cum >= (95 * n + 99) // 100 THEN v END)
            AS BIGINT) AS p95,
       CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN v END)
            AS BIGINT) AS p99
FROM cum GROUP BY 1""",
        "orders_pareto": """
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS r
  FROM orders GROUP BY 1),
hist AS (
  SELECT r, CAST(count(*) AS BIGINT) AS nc FROM rev GROUP BY 1),
tot AS (
  SELECT CAST(sum(nc) AS BIGINT) AS n_custs,
         CAST(sum(r * nc) AS BIGINT) AS r_total
  FROM hist),
dec AS (
  SELECT h.r, h.nc,
         coalesce(sum(h.nc) OVER (ORDER BY h.r DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         t.n_custs, t.r_total
  FROM hist h, tot t),
per AS (
  SELECT cum_before * 10 // n_custs AS decile,
         CAST(sum(nc) AS BIGINT) AS n_custs,
         CAST(sum(r * nc) AS BIGINT) AS revenue_c,
         max(r_total) AS r_total
  FROM dec GROUP BY 1)
SELECT CAST(decile AS BIGINT) AS decile, n_custs, revenue_c,
       CAST(revenue_c * 1000000 // r_total AS BIGINT) AS share_ppm,
       CAST(sum(revenue_c * 1000000 // r_total) OVER (
              ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_share_ppm
FROM per""",
        "tpch_q2": """
WITH ps AS (
  SELECT p.p_partkey, p.p_type, s.s_suppkey, s.s_name, n.n_name,
         CAST(min(CAST(floor(l.l_extendedprice / l.l_quantity * 100)
                       AS BIGINT)) AS BIGINT) AS unit_centi
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_size = 25
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE'
  GROUP BY 1, 2, 3, 4, 5)
SELECT p_partkey, p_type, s_suppkey, s_name, n_name, unit_centi
FROM (SELECT *, rank() OVER (PARTITION BY p_partkey
                             ORDER BY unit_centi) AS rnk FROM ps)
WHERE rnk = 1""",
        "tpch_q11": """
WITH per AS (
  SELECT l_partkey,
         CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS value_c,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY 1),
tot AS (SELECT CAST(sum(value_c) AS BIGINT) AS total_c,
               CAST(count(*) AS BIGINT) AS n_parts FROM per)
SELECT per.l_partkey AS p_partkey, per.value_c, per.n_lines,
       CAST(CAST(per.value_c AS HUGEINT) * 100000 // tot.total_c
            AS BIGINT) AS share_ppcm
FROM per, tot
WHERE CAST(per.value_c AS HUGEINT) * 3 * tot.n_parts
      > CAST(tot.total_c AS HUGEINT) * 4""",
        "tpch_q12": """
SELECT CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS ship_year,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT)
           AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT)
           AS low_line_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
GROUP BY 1""",
        "tpch_q20": """
WITH ps AS (
  SELECT l.l_partkey, l.l_suppkey,
         CAST(sum(CAST(floor(l.l_quantity * 100) AS BIGINT))
              AS BIGINT) AS sup_qty
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
             AND p.p_name LIKE 'red%'
  GROUP BY 1, 2),
pt AS (
  SELECT l_partkey, CAST(sum(sup_qty) AS BIGINT) AS part_qty,
         CAST(count(*) AS BIGINT) AS n_supp
  FROM ps GROUP BY 1),
dom AS (
  SELECT ps.l_suppkey, ps.sup_qty FROM ps
  JOIN pt ON pt.l_partkey = ps.l_partkey
  WHERE CAST(ps.sup_qty AS HUGEINT) * pt.n_supp
        > CAST(pt.part_qty AS HUGEINT) * 3)
SELECT s.s_suppkey, s.s_name,
       CAST(count(*) AS BIGINT) AS n_parts_dominated,
       CAST(sum(dom.sup_qty) AS BIGINT) AS qty_centi
FROM dom JOIN supplier s ON s.s_suppkey = dom.l_suppkey
GROUP BY 1, 2""",
        "tpch_q21": """
WITH osup AS (
  SELECT l.l_orderkey, l.l_suppkey,
         max(CASE WHEN l.l_shipdate > o.o_orderdate
                       + INTERVAL 90 DAY THEN 1 ELSE 0 END)
             AS was_late
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2),
per_o AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_supp,
         CAST(sum(was_late) AS BIGINT) AS n_late_supp
  FROM osup GROUP BY 1)
SELECT s.s_suppkey, s.s_name,
       CAST(count(*) AS BIGINT) AS numwait
FROM osup
JOIN per_o USING (l_orderkey)
JOIN supplier s ON s.s_suppkey = osup.l_suppkey
WHERE osup.was_late = 1 AND per_o.n_supp >= 2
  AND per_o.n_late_supp = 1
GROUP BY 1, 2
ORDER BY numwait DESC, s.s_suppkey
LIMIT 20""",
        "tpch_q5": """
SELECT n.n_name,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                           * 100) AS BIGINT)) AS BIGINT) AS revenue_c,
       CAST(count(*) AS BIGINT) AS n_lines
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
               AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1""",
        "tpch_q7": """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS ship_year,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                           * 100) AS BIGINT)) AS BIGINT) AS revenue_c,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY 1, 2, 3""",
        "tpch_q14": """
WITH a AS (
  SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN
                CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                           * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS promo_c,
         CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                             * 100) AS BIGINT)) AS BIGINT) AS total_c,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
    AND l.l_shipdate < TIMESTAMP '1997-04-01')
SELECT promo_c, total_c, n_lines,
       CAST(CAST(promo_c AS HUGEINT) * 10000 // total_c AS BIGINT)
           AS promo_bp
FROM a""",
        "tpch_q18": """
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
              AS BIGINT) AS qty_centi,
         CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS gross_c
  FROM lineitem GROUP BY 1
  HAVING sum(CAST(floor(l_quantity * 100) AS BIGINT)) > 30000)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       big.qty_centi, big.gross_c
FROM big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey""",
        "graph_edge_cut": _oracle(f"""
, e AS (
  SELECT {_hex16_sql("src_host")} % 4 AS from_shard,
         {_hex16_sql("tgt_host")} % 4 AS to_shard
  FROM web_links_full WHERE k % 4 <> 0),
cells AS (
  SELECT CAST(from_shard AS BIGINT) AS from_shard,
         CAST(to_shard AS BIGINT) AS to_shard,
         CAST(count(*) AS BIGINT) AS n_edges
  FROM e GROUP BY 1, 2),
tot AS (SELECT CAST(sum(n_edges) AS BIGINT) AS total FROM cells)
SELECT from_shard, to_shard, n_edges,
       from_shard <> to_shard AS is_cut,
       CAST(CAST(n_edges AS HUGEINT) * 10000 // total AS BIGINT)
           AS share_bp
FROM cells, tot"""),
        "docs_span_transitions": _oracle("""
, s AS (
  SELECT src_doc_id, k,
         CASE WHEN href LIKE '%.png' THEN 'media'
              ELSE 'text' END AS kind
  FROM web_links_full),
t AS (
  SELECT kind AS from_kind,
         lead(kind) OVER (PARTITION BY src_doc_id ORDER BY k)
             AS to_kind
  FROM s),
cells AS (
  SELECT from_kind, to_kind, CAST(count(*) AS BIGINT) AS n
  FROM t WHERE to_kind IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells)
SELECT from_kind, to_kind, n,
       CAST(CAST(n AS HUGEINT) * 10000 // total AS BIGINT)
           AS share_bp
FROM cells, tot"""),
        "crawl_url_templates": _oracle("""
, t AS (
  SELECT src_host,
         regexp_replace(
           regexp_extract(href, '^(?:https://[^/]+)?(/[^?#]*)', 1),
           '[0-9]+', '#', 'g') AS template,
         tgt_doc_id
  FROM web_links_full)
SELECT src_host, template,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT tgt_doc_id) AS BIGINT) AS n_targets,
       CAST(CAST(count(DISTINCT tgt_doc_id) AS HUGEINT) * 10000
            // count(*) AS BIGINT) AS fanout_bp
FROM t WHERE template <> ''
GROUP BY 1, 2"""),
        "graph_two_hop": _oracle("""
, e AS (
  SELECT DISTINCT src_doc_id AS u, tgt_doc_id AS v
  FROM web_links_full
  WHERE k % 4 <> 0 AND src_doc_id <> tgt_doc_id),
two AS (
  SELECT a.u, CAST(count(DISTINCT b.v) AS BIGINT) AS reach_2
  FROM e a JOIN e b ON b.u = a.v
  WHERE b.v <> a.u
  GROUP BY 1),
deg AS (
  SELECT u, CAST(count(DISTINCT v) AS BIGINT) AS out_deg
  FROM e GROUP BY 1)
SELECT deg.u AS doc_id, deg.out_deg,
       CAST(coalesce(two.reach_2, 0) AS BIGINT) AS reach_2
FROM deg LEFT JOIN two USING (u)
ORDER BY reach_2 DESC, doc_id
LIMIT 50"""),
        "crawl_fairness_index": _oracle(f"""
, hosts AS (
  SELECT host, CAST(count(*) AS BIGINT) AS x
  FROM web_pages GROUP BY 1),
shards AS (
  SELECT {_hex16_sql("host")} % 4 AS shard,
         CAST(sum(x) AS BIGINT) AS x
  FROM hosts GROUP BY 1)
SELECT 'host_pages' AS level, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(x) AS BIGINT) AS total,
       CAST(CAST(sum(x) AS HUGEINT) * sum(x) * 1000000
            // (count(*) * sum(CAST(x AS HUGEINT) * x)) AS BIGINT)
           AS jain_ppm
FROM hosts
UNION ALL
SELECT 'shard_load' AS level, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(x) AS BIGINT) AS total,
       CAST(CAST(sum(x) AS HUGEINT) * sum(x) * 1000000
            // (count(*) * sum(CAST(x AS HUGEINT) * x)) AS BIGINT)
           AS jain_ppm
FROM shards"""),
        "crawl_seen_sizing": _oracle("""
, fpp(fpp, bits_per_key_milli, k_hashes) AS (
  VALUES ('1e-2', CAST(9586 AS BIGINT), CAST(7 AS BIGINT)),
         ('1e-3', CAST(14378 AS BIGINT), CAST(10 AS BIGINT)),
         ('1e-4', CAST(19171 AS BIGINT), CAST(13 AS BIGINT))),
n AS (
  SELECT CAST(count(DISTINCT md5(tgt_host || CASE WHEN k % 4 = 0
           THEN '/img' || CAST(tgt_doc_id AS VARCHAR) || '.png'
           ELSE tgt_path END)) AS BIGINT) AS n_keys
  FROM web_links_full WHERE k % 4 <> 0)
SELECT fpp.fpp, n.n_keys, fpp.bits_per_key_milli, fpp.k_hashes,
       CAST(CAST(n.n_keys AS HUGEINT) * fpp.bits_per_key_milli
            // 1000 AS BIGINT) AS m_bits,
       CAST(CAST(n.n_keys AS HUGEINT) * fpp.bits_per_key_milli
            // 1000 // 8 AS BIGINT) AS total_bytes,
       CAST(CAST(n.n_keys AS HUGEINT) * fpp.bits_per_key_milli
            // 1000 // 8 // 32 AS BIGINT) AS slab_bytes
FROM n, fpp"""),
        "orders_hhi": """
WITH bs AS (
  SELECT p.p_brand, l.l_suppkey,
         CAST(sum(CAST(floor(l.l_quantity * 100) AS BIGINT))
              AS BIGINT) AS q
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2)
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(q) AS BIGINT) AS total_centi,
       CAST(sum(CAST(q AS HUGEINT) * q) * 1000000
            // (CAST(sum(q) AS HUGEINT) * sum(q)) AS BIGINT)
           AS hhi_ppm
FROM bs GROUP BY 1""",
        "events_new_users": """
WITH first AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS d
  FROM events GROUP BY 1),
daily AS (
  SELECT d, CAST(count(*) AS BIGINT) AS new_users
  FROM first GROUP BY 1)
SELECT strftime(d, '%Y-%m-%d') AS day, new_users,
       CAST(sum(new_users) OVER (ORDER BY d
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
FROM daily""",
        "orders_mom_growth": """
WITH per AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) * 12
              + EXTRACT(month FROM o_orderdate) AS BIGINT) AS m,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS revenue_c,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1)
SELECT lpad(CAST((per.m - 1) // 12 AS VARCHAR), 4, '0') || '-'
       || lpad(CAST((per.m - 1) % 12 + 1 AS VARCHAR), 2, '0')
           AS month,
       per.revenue_c, per.n_orders,
       CAST((CAST(per.revenue_c AS HUGEINT) - p2.revenue_c) * 10000
            // p2.revenue_c AS BIGINT) AS growth_bp
FROM per LEFT JOIN per p2 ON p2.m = per.m - 1""",
        "orders_cohort_retention": """
WITH cm AS (
  SELECT DISTINCT o_custkey,
         CAST(EXTRACT(year FROM o_orderdate) * 12
              + EXTRACT(month FROM o_orderdate) AS BIGINT) AS m
  FROM orders),
first AS (
  SELECT o_custkey, CAST(min(m) AS BIGINT) AS cohort_m
  FROM cm GROUP BY 1),
size AS (
  SELECT cohort_m, CAST(count(DISTINCT o_custkey) AS BIGINT)
             AS cohort_size
  FROM first GROUP BY 1),
act AS (
  SELECT f.cohort_m, CAST(cm.m - f.cohort_m AS BIGINT)
             AS months_since,
         CAST(count(DISTINCT cm.o_custkey) AS BIGINT) AS n_active
  FROM cm JOIN first f USING (o_custkey)
  GROUP BY 1, 2)
SELECT lpad(CAST((a.cohort_m - 1) // 12 AS VARCHAR), 4, '0') || '-'
       || lpad(CAST((a.cohort_m - 1) % 12 + 1 AS VARCHAR), 2, '0')
           AS cohort,
       a.months_since, a.n_active, s.cohort_size,
       CAST(CAST(a.n_active AS HUGEINT) * 10000 // s.cohort_size
            AS BIGINT) AS retained_bp
FROM act a JOIN size s USING (cohort_m)""",
        "embed_reciprocal_nn": """
WITH sims AS (
  SELECT q.vec_id AS q_id, e.vec_id,
         CAST(floor(
           list_dot_product(CAST(e.embedding AS DOUBLE[]),
                            CAST(q.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[]))))
           * 1000000) AS BIGINT) AS sim_ppm
  FROM embeddings e, embeddings q WHERE e.vec_id <> q.vec_id),
knn AS (
  SELECT q_id, vec_id, sim_ppm,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY sim_ppm DESC, vec_id) AS BIGINT) AS rank
  FROM sims
  QUALIFY rank <= 3)
SELECT a.q_id AS id_a, a.vec_id AS id_b, a.sim_ppm,
       a.rank AS rank_ab, b.rank AS rank_ba
FROM knn a
JOIN knn b ON b.q_id = a.vec_id AND b.vec_id = a.q_id
WHERE a.q_id < a.vec_id""",
        "events_trigrams": """
WITH t AS (
  SELECT user_id, event_type AS step1,
         lead(event_type, 1) OVER w AS step2,
         lead(event_type, 2) OVER w AS step3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT step1, step2, step3,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM t WHERE step3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, step1, step2, step3
LIMIT 20""",
        "tpch_q8": """
WITH asia_cust AS (
  SELECT c.c_custkey FROM customer c
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'ASIA'),
n3_supp AS (
  SELECT s.s_suppkey FROM supplier s
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_3'),
a AS (
  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
         CAST(sum(CASE WHEN l.l_suppkey IN
                    (SELECT s_suppkey FROM n3_supp)
              THEN CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                              * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS nation_rev_c,
         CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                             * 100) AS BIGINT)) AS BIGINT)
             AS total_rev_c
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'STANDARD'
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_custkey IN (SELECT c_custkey FROM asia_cust)
  GROUP BY 1)
SELECT o_year, nation_rev_c, total_rev_c,
       CAST(CAST(nation_rev_c AS HUGEINT) * 10000 // total_rev_c
            AS BIGINT) AS mkt_share_bp
FROM a""",
        "tpch_q9": """
SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                           * 100) AS BIGINT))
            - sum(CAST(CAST(floor(p.p_retailprice * 100) AS HUGEINT)
                       * CAST(floor(l.l_quantity) AS BIGINT)
                       AS BIGINT)) AS BIGINT) AS profit_c,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
           AND p.p_name LIKE '%widget'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1, 2""",
        "tpch_q16": """
SELECT p.p_brand, p.p_type,
       CAST(p.p_size // 10 AS BIGINT) AS size_band,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt,
       CAST(count(DISTINCT l.l_partkey) AS BIGINT) AS part_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#5' AND p.p_size BETWEEN 10 AND 30
GROUP BY 1, 2, 3""",
        "tpch_q19": """
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(coalesce(sum(CAST(floor(l.l_extendedprice
            * (1 - l.l_discount) * 100) AS BIGINT)), 0) AS BIGINT)
           AS revenue_c
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)""",
        "tpch_q13": """
WITH per AS (
  SELECT c.c_custkey,
         CAST(count(o.o_custkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                    AND o.o_orderpriority <> '1-URGENT'
  GROUP BY 1)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per GROUP BY 1""",
        "tpch_q15": """
WITH rev AS (
  SELECT l_suppkey AS s_suppkey,
         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                             * 100) AS BIGINT)) AS BIGINT)
             AS total_rev_c
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY 1)
SELECT s.s_suppkey, s.s_name, rev.total_rev_c
FROM rev JOIN supplier s USING (s_suppkey)
WHERE rev.total_rev_c = (SELECT max(total_rev_c) FROM rev)""",
        "tpch_q17": """
WITH li AS (
  SELECT l.l_partkey,
         CAST(floor(l.l_quantity * 100) AS BIGINT) AS qty_centi,
         CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS price_c
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_brand = 'Brand#1'),
avg AS (
  SELECT l_partkey AS pk,
         CAST(sum(qty_centi) AS BIGINT) AS qty_sum,
         CAST(count(*) AS BIGINT) AS n
  FROM li GROUP BY 1),
small AS (
  SELECT li.price_c FROM li
  JOIN avg ON avg.pk = li.l_partkey
  WHERE li.qty_centi * 5 * avg.n < avg.qty_sum)
SELECT CAST(count(*) AS BIGINT) AS n_small_lines,
       CAST(coalesce(sum(price_c), 0) AS BIGINT) AS revenue_c,
       CAST(coalesce(sum(price_c), 0) // 7 AS BIGINT) AS avg_yearly_c
FROM small""",
        "tpch_q22": """
WITH pos AS (
  SELECT c_custkey, c_nationkey,
         CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
  FROM customer
  WHERE CAST(floor(c_acctbal * 100) AS BIGINT) > 0),
a AS (SELECT CAST(sum(bal_c) AS BIGINT) // CAST(count(*) AS BIGINT)
          AS avg_c FROM pos),
idle AS (
  SELECT p.c_nationkey, p.bal_c FROM pos p, a
  WHERE p.bal_c > a.avg_c
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = p.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01'))
SELECT n.n_name, CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(bal_c) AS BIGINT) AS totacctbal_c
FROM idle JOIN nation n ON n.n_nationkey = idle.c_nationkey
GROUP BY 1""",
        "tpch_q10": """
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                           * 100) AS BIGINT)) AS BIGINT) AS lost_c
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-07-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY lost_c DESC, c.c_custkey
LIMIT 20""",
        "events_conversion_lag": """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY 1),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purch, min(v.t_view) AS t_view
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= v.t_view
  GROUP BY 1),
d AS (
  SELECT (epoch_us(t_purch) - epoch_us(t_view)) // 1000000 AS v
  FROM p),
hist AS (
  SELECT CAST(v AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS c
  FROM d GROUP BY 1),
cum AS (
  SELECT v, c,
         sum(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER () AS n
  FROM hist)
SELECT CAST(max(n) AS BIGINT) AS n_converted,
       CAST(min(CASE WHEN cum >= (50 * n + 99) // 100 THEN v END)
            AS BIGINT) AS p50,
       CAST(min(CASE WHEN cum >= (95 * n + 99) // 100 THEN v END)
            AS BIGINT) AS p95,
       CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN v END)
            AS BIGINT) AS p99
FROM cum""",
        "events_anomaly_mad": """
WITH hc AS (
  SELECT event_type AS g, date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
mh AS (
  SELECT g, x AS v, CAST(count(*) AS BIGINT) AS c
  FROM hc GROUP BY 1, 2),
mc AS (
  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY g) AS n
  FROM mh),
med AS (
  SELECT g, CAST(min(CASE WHEN cum >= (50 * n + 99) // 100
                     THEN v END) AS BIGINT) AS med
  FROM mc GROUP BY 1),
dev AS (
  SELECT hc.g, hc.x, med.med, abs(hc.x - med.med) AS ad
  FROM hc JOIN med USING (g)),
ah AS (
  SELECT g, ad AS v, CAST(count(*) AS BIGINT) AS c
  FROM dev GROUP BY 1, 2),
ac AS (
  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY g) AS n
  FROM ah),
mad AS (
  SELECT g, CAST(min(CASE WHEN cum >= (50 * n + 99) // 100
                     THEN v END) AS BIGINT) AS mad
  FROM ac GROUP BY 1)
SELECT d.g AS event_type,
       CAST(count(*) AS BIGINT) AS n_hours,
       CAST(max(d.med) AS BIGINT) AS med,
       CAST(max(m.mad) AS BIGINT) AS mad,
       CAST(sum(CASE WHEN d.ad > 3 * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged,
       CAST(max(d.ad * 1000000 // greatest(m.mad, 1)) AS BIGINT)
         AS max_robust_z_ppm
FROM dev d JOIN mad m USING (g)
GROUP BY 1""",
        "graph_katz": _katz_unrolled_sql(4),
        "events_chi2_hour": """
WITH o AS (
  SELECT event_type AS t, CAST(hour(ts) AS BIGINT) AS h,
         CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2),
rt AS (SELECT t, CAST(sum(o) AS BIGINT) AS rt FROM o GROUP BY 1),
ct AS (SELECT h, CAST(sum(o) AS BIGINT) AS ct FROM o GROUP BY 1),
n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
dense AS (
  SELECT rt.t, ct.h, rt.rt, ct.ct, coalesce(o.o, 0) AS o, n.n
  FROM rt CROSS JOIN ct
  LEFT JOIN o ON o.t = rt.t AND o.h = ct.h, n),
cells AS (
  SELECT t, rt,
         (CAST(o AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct)
           * (CAST(o AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct)
           * 1000 // (CAST(n AS HUGEINT) * rt * ct) AS c
  FROM dense)
SELECT t AS event_type,
       CAST(max(rt) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(c) AS BIGINT) AS chi2_milli
FROM cells GROUP BY 1""",
        "crawl_shard_rebalance": _oracle(f"""
, hosts AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_pages,
         ({_hex16_sql('host')}) % 4 AS shard
  FROM web_pages GROUP BY 1),
loads AS (
  SELECT shard, CAST(sum(n_pages) AS BIGINT) AS load
  FROM hosts GROUP BY 1),
tot AS (SELECT CAST(sum(load) AS BIGINT) AS total FROM loads),
tgt AS (
  SELECT l.shard, l.load, t.total // 4 AS target
  FROM loads l, tot t),
und AS (
  SELECT shard AS to_shard, load AS to_load
  FROM tgt ORDER BY load, shard LIMIT 1)
SELECT h.host, h.n_pages,
       CAST(h.shard AS BIGINT) AS from_shard,
       g.load AS from_load, CAST(u.to_shard AS BIGINT) AS to_shard,
       u.to_load,
       CAST(g.load - h.n_pages AS BIGINT) AS new_from_load,
       CAST(u.to_load + h.n_pages AS BIGINT) AS new_to_load
FROM hosts h
JOIN tgt g ON g.shard = h.shard
CROSS JOIN und u
WHERE g.load > g.target AND h.shard <> u.to_shard
  AND abs(g.load - h.n_pages - g.target)
      + abs(u.to_load + h.n_pages - g.target)
      < abs(g.load - g.target) + abs(u.to_load - g.target)"""),
        "topk_orders_per_cust": """
WITH r AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rank
  FROM orders
)
SELECT o_custkey, rank, o_orderkey,
       CAST(floor(o_totalprice * 100) AS BIGINT) AS price_c
FROM r WHERE rank <= 3""",
        "events_qdigest": _qdigest_unrolled_sql(),
        "embed_matryoshka": _matryoshka_sql(),
        "embed_outliers": """
WITH el AS (
  SELECT vec_id, label, g.i,
         CAST(floor(CAST(embedding AS DOUBLE[])[g.i] * 1048576)
              AS BIGINT) AS e
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)),
cent AS (
  SELECT label, i, sum(e) AS s, count(*) AS n FROM el GROUP BY 1, 2),
c2 AS (
  SELECT label, i, (s - ((s % n + n) % n)) // n AS c FROM cent),
d AS (
  SELECT el.vec_id, el.label,
         CAST(sum((el.e - c2.c) * (el.e - c2.c)) AS BIGINT) AS d2
  FROM el JOIN c2 ON c2.label = el.label AND c2.i = el.i
  GROUP BY 1, 2),
g AS (
  SELECT label, CAST(sum(d2) // count(*) AS BIGINT) AS mean_d2
  FROM d GROUP BY 1)
SELECT d.vec_id, d.label, d.d2, g.mean_d2,
       CAST(CASE WHEN g.mean_d2 > 0
                 THEN CAST(d.d2 AS HUGEINT) * 1000000 // g.mean_d2
                 ELSE 0 END AS BIGINT) AS ratio_ppm,
       d.d2 * 10 > g.mean_d2 * 30 AS outlier
FROM d JOIN g USING (label)""",
        "embed_quantize": """
WITH pairs AS (
  SELECT u.i - 1 AS dim, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings,
       UNNEST(generate_series(1, len(embedding))) AS u(i)
),
sc AS (SELECT dim, max(abs(x)) AS scale FROM pairs GROUP BY 1),
q AS (
  SELECT p.dim, s.scale,
         CASE WHEN s.scale > 0
              THEN CAST(floor(p.x * 127 / s.scale + 0.5) AS BIGINT)
         END AS code,
         p.x
  FROM pairs p JOIN sc s ON s.dim = p.dim
),
e AS (
  SELECT dim, scale, code,
         CASE WHEN scale > 0
              THEN CAST(floor(abs(x - code * scale / 127)
                              / scale * 1000000) AS BIGINT)
         END AS err_ppm
  FROM q
)
SELECT CAST(dim AS INTEGER) AS dim,
       CAST(count(*) AS BIGINT) AS n,
       CAST(floor(max(scale) * 1000000) AS BIGINT) AS scale_ppm,
       CAST(sum(CASE WHEN abs(code) >= 127 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_saturated,
       CAST(sum(CASE WHEN code IS NULL OR code = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_zero_code,
       CAST(max(err_ppm) AS BIGINT) AS max_err_ppm,
       CAST(sum(err_ppm) AS BIGINT) AS sum_err_ppm
FROM e GROUP BY 1""",
        "media_vad": f"""
WITH par AS (
  SELECT 'm-' || CAST(doc_id AS VARCHAR) AS media_id,
         20 + {_hex16_sql("'vad:' || CAST(doc_id AS VARCHAR)")} % 8
           AS g,
         700 + ({_hex16_sql("'vad:' || CAST(doc_id AS VARCHAR)")}
                // 8) % 500 AS n
  FROM documents
),
fr AS (
  SELECT media_id, g, u.f AS f
  FROM par, UNNEST(generate_series(0, n // 80 - 1)) AS u(f)
),
sm AS (
  SELECT media_id, g, f,
         CASE WHEN (u2.i // 100) % 2 = 1 THEN 0
              ELSE ((u2.i % 50) - 25) * g END AS s
  FROM fr, UNNEST(generate_series(f * 80, f * 80 + 79)) AS u2(i)
),
en AS (SELECT media_id, g, f, sum(s * s) AS e
       FROM sm GROUP BY 1, 2, 3),
act AS (SELECT media_id, f, (e > 10000 * g * g) AS a FROM en),
isl AS (
  SELECT media_id, f, a,
         f - row_number() OVER (PARTITION BY media_id, a
                                ORDER BY f) AS grp
  FROM act
),
seg AS (SELECT media_id, grp, count(*) AS run
        FROM isl WHERE a GROUP BY 1, 2),
agg AS (SELECT media_id, count(*) AS n_segments,
               max(run) AS longest_run, sum(run) AS n_active
        FROM seg GROUP BY 1),
tot AS (SELECT media_id, count(*) AS n_frames FROM act GROUP BY 1)
SELECT p.media_id,
       CAST(t.n_frames AS BIGINT) AS n_frames,
       CAST(coalesce(a.n_active, 0) AS BIGINT) AS n_active,
       CAST(coalesce(a.n_segments, 0) AS BIGINT) AS n_segments,
       CAST(coalesce(a.longest_run, 0) AS BIGINT) AS longest_run,
       CAST((1000000 * coalesce(a.n_active, 0)) // t.n_frames
            AS BIGINT) AS active_ppm
FROM par p
JOIN tot t USING (media_id)
LEFT JOIN agg a USING (media_id)""",
        "media_sniff": f"""
WITH b AS (
  SELECT doc_id,
         ({_SNIFF_CASE_HEX.replace(chr(10), ' ')})
         || upper(md5(CAST(doc_id AS VARCHAR))) AS h
  FROM documents)
SELECT doc_id,
       CASE WHEN h LIKE '52494646%' AND substr(h, 17, 8) = '57415645'
                 THEN 'wav'
            WHEN h LIKE '89504E470D0A1A0A%' THEN 'png'
            WHEN h LIKE 'FFD8FF%' THEN 'jpeg'
            WHEN h LIKE '47494638%' THEN 'gif'
            WHEN h LIKE '25504446%' THEN 'pdf'
            WHEN h LIKE '1F8B%' THEN 'gzip'
            WHEN h LIKE '50360A%' THEN 'ppm'
            ELSE 'unknown' END AS kind,
       CAST(len(h) / 2 AS BIGINT) AS n_bytes
FROM b""",
        "text_rrf_topk": f"""
WITH fused AS (
  SELECT doc_id, sum(pt) AS rrf_score, count(*) AS n_lists
  FROM (
    SELECT doc_id, 1000000 // (60 + rank) AS pt
    FROM ({tfidf_sql(SEARCH_TERMS, k=20)}) ta
    UNION ALL
    SELECT doc_id, 1000000 // (60 + rank) AS pt
    FROM ({bm25_sql(SEARCH_TERMS, k=20)}) tb
  ) u GROUP BY 1
),
r AS (
  SELECT CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
              AS INT) AS rank,
         doc_id, CAST(rrf_score AS BIGINT) AS rrf_score,
         CAST(n_lists AS BIGINT) AS n_lists
  FROM fused)
SELECT rank, doc_id, rrf_score, n_lists FROM r WHERE rank <= 10""",
        "corpus_zonemap_audit": """
WITH base AS (SELECT doc_id AS id, n_chars AS k FROM documents),
ra AS (SELECT k, (row_number() OVER (ORDER BY id) - 1) // 25 AS f
       FROM base),
rs AS (SELECT k, (row_number() OVER (ORDER BY k, id) - 1) // 25 AS f
       FROM base),
fa AS (SELECT f, min(k) AS lo, max(k) AS hi FROM ra GROUP BY 1),
fs AS (SELECT f, min(k) AS lo, max(k) AS hi FROM rs GROUP BY 1),
p AS (SELECT u.i AS pred_id, 48 + 64 * u.i AS lo,
             48 + 64 * u.i + 63 AS hi
      FROM UNNEST(generate_series(0, 7)) AS u(i)),
sa AS (SELECT p.pred_id,
              sum(CASE WHEN fa.hi >= p.lo AND fa.lo <= p.hi
                  THEN 1 ELSE 0 END) AS files_arrival,
              count(*) AS n_files
       FROM fa CROSS JOIN p GROUP BY 1),
ss AS (SELECT p.pred_id,
              sum(CASE WHEN fs.hi >= p.lo AND fs.lo <= p.hi
                  THEN 1 ELSE 0 END) AS files_sorted
       FROM fs CROSS JOIN p GROUP BY 1),
r AS (SELECT p.pred_id, count(*) AS n_rows
      FROM base JOIN p ON base.k BETWEEN p.lo AND p.hi GROUP BY 1)
SELECT CAST(p.pred_id AS INT) AS pred_id,
       CAST(p.lo AS BIGINT) AS lo, CAST(p.hi AS BIGINT) AS hi,
       CAST(sa.n_files AS BIGINT) AS n_files,
       CAST(sa.files_arrival AS BIGINT) AS files_arrival,
       CAST(ss.files_sorted AS BIGINT) AS files_sorted,
       CAST(coalesce(r.n_rows, 0) AS BIGINT) AS n_rows
FROM p JOIN sa USING (pred_id) JOIN ss USING (pred_id)
LEFT JOIN r USING (pred_id)""",
        "text_vocab_drift": f"""
WITH sa AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
sb AS (SELECT CASE WHEN doc_id % 14 = 1
              THEN text || ' megaspam casino casino'
              ELSE text END AS text
       FROM documents WHERE doc_id % 2 = 1),
ca AS (SELECT unnest(regexp_extract_all({norm}, '\\S+')) AS token
       FROM sa),
cb AS (SELECT unnest(regexp_extract_all({norm}, '\\S+')) AS token
       FROM sb),
ga AS (SELECT token, count(*) AS n_a FROM ca GROUP BY 1),
gb AS (SELECT token, count(*) AS n_b FROM cb GROUP BY 1),
j0 AS (
  SELECT coalesce(ga.token, gb.token) AS token,
         coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
  FROM ga FULL OUTER JOIN gb ON ga.token = gb.token),
tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j0),
chi AS (
  SELECT token, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         CAST(((ta + tb)::HUGEINT
               * (n_a::HUGEINT * (tb - n_b) - n_b::HUGEINT * (ta - n_a))
               * (n_a::HUGEINT * (tb - n_b) - n_b::HUGEINT * (ta - n_a))
               * 1000000)
              // ((n_a + n_b)::HUGEINT * (ta + tb - n_a - n_b)
                  * ta::HUGEINT * tb::HUGEINT) AS BIGINT) AS chi_ppm
  FROM j0 CROSS JOIN tot WHERE n_a + n_b >= 5)
SELECT token, n_a, n_b, chi_ppm FROM chi
ORDER BY chi_ppm DESC, token LIMIT 20""",
        "events_cusum": """
WITH hourly AS (
  SELECT event_type AS g,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
         count(*) AS x
  FROM events GROUP BY 1, 2),
dims AS (
  SELECT g, count(*) AS n, sum(x) AS t,
         sum(x) * 1000 // 10000 AS a
  FROM hourly GROUP BY 1),
arr AS (
  SELECT h.g, list(h.x ORDER BY h.hr) AS xl,
         list(h.hr ORDER BY h.hr) AS hl
  FROM hourly h GROUP BY 1),
idx AS (
  SELECT arr.g, hl[u.i] AS hr, xl[u.i] AS x, d.t,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(xl[1:u.i], v -> d.n * v - d.t - d.a)),
           (acc, v) -> greatest(acc + v, 0)) AS s
  FROM arr JOIN dims d USING (g),
       UNNEST(generate_series(1, len(xl))) AS u(i))
SELECT g AS event_type, CAST(hr AS BIGINT) AS hr,
       CAST(x AS BIGINT) AS n_events,
       CAST(s AS BIGINT) AS s_scaled,
       CAST(s > t AS INT) AS alarm
FROM idx""",
        "crawl_slo_burn": """
WITH hourly AS (
  SELECT 'h' || CAST(user_id % 20 AS VARCHAR) AS host,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS errs
  FROM events GROUP BY 1, 2),
w AS (
  SELECT host, hr, n, errs,
         sum(n) OVER sw AS ns, sum(errs) OVER sw AS es,
         sum(n) OVER lw AS nl, sum(errs) OVER lw AS el
  FROM hourly
  WINDOW sw AS (PARTITION BY host ORDER BY hr
                RANGE BETWEEN 0 PRECEDING AND CURRENT ROW),
         lw AS (PARTITION BY host ORDER BY hr
                RANGE BETWEEN 5 PRECEDING AND CURRENT ROW))
SELECT host, hr, n AS n_events, errs AS n_errors,
       CAST(1000000 * es // ns AS BIGINT) AS burn_short_ppm,
       CAST(1000000 * el // nl AS BIGINT) AS burn_long_ppm,
       (1000000 * es > 200000 * ns AND 1000000 * el > 200000 * nl)
       AS alert
FROM w""",
        "crawl_delay_compliance": """
WITH f AS (
  SELECT 'h' || CAST(user_id % 20 AS VARCHAR) AS host,
         CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id AS tie
  FROM events),
hosts AS (
  SELECT DISTINCT host, CAST(substr(host, 2, 3) AS INT) AS i
  FROM f),
delays AS (
  SELECT host, CAST(5 + (i % 4) * 5 AS BIGINT) AS crawl_delay
  FROM hosts WHERE i % 5 <> 3),
g AS (
  SELECT host,
         t - lag(t) OVER (PARTITION BY host ORDER BY t, tie) AS gap
  FROM f)
SELECT g.host, max(d.crawl_delay) AS crawl_delay,
       CAST(count(gap) + 1 AS BIGINT) AS n_fetches,
       CAST(count(gap) AS BIGINT) AS n_gaps,
       CAST(min(gap) AS BIGINT) AS min_gap,
       CAST(coalesce(sum(CASE WHEN gap < d.crawl_delay
                          THEN 1 ELSE 0 END), 0) AS BIGINT)
       AS n_violations,
       CAST(coalesce(max(CASE WHEN gap < d.crawl_delay
                          THEN d.crawl_delay - gap END), 0)
            AS BIGINT) AS worst_deficit,
       coalesce(sum(CASE WHEN gap < d.crawl_delay
                     THEN 1 ELSE 0 END), 0) = 0 AS compliant
FROM g JOIN delays d USING (host)
GROUP BY g.host""",
        "events_bot_regularity": """
WITH ranked AS (
  SELECT user_id, ts, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS k
  FROM events),
base AS (
  SELECT user_id AS client, event_id AS tie,
         CASE WHEN user_id % 10 = 0
              THEN 1700000000 + user_id
                   + k * (60 + (user_id % 7) * 10)
                   + (user_id * 31 + k * 17) % 10
              ELSE CAST(floor(epoch(ts)) AS BIGINT) END AS t
  FROM ranked),
g AS (
  SELECT client,
         t - lag(t) OVER (PARTITION BY client
                          ORDER BY t, tie) AS gap
  FROM base),
h AS (
  SELECT client, gap, CAST(count(*) AS BIGINT) AS c
  FROM g WHERE gap IS NOT NULL GROUP BY 1, 2),
modal AS (
  SELECT client, gap AS modal_gap, c AS modal_cnt
  FROM h
  QUALIFY row_number() OVER (PARTITION BY client
                             ORDER BY c DESC, gap) = 1),
s AS (
  SELECT client, CAST(sum(c) AS BIGINT) AS n_gaps,
         CAST(sum(gap * c) AS BIGINT) AS sum_gap,
         CAST(sum(gap * gap * c) AS BIGINT) AS qq
  FROM h GROUP BY 1)
SELECT s.client, s.n_gaps, s.sum_gap,
       CAST(s.n_gaps * s.qq - s.sum_gap * s.sum_gap AS BIGINT)
       AS var_num,
       CAST(m.modal_gap AS BIGINT) AS modal_gap,
       m.modal_cnt,
       (s.n_gaps >= 5 AND
        (10000 * (s.n_gaps * s.qq - s.sum_gap * s.sum_gap)
         < 100 * s.sum_gap * s.sum_gap
         OR 4 * m.modal_cnt >= 3 * s.n_gaps)) AS is_bot
FROM s JOIN modal m USING (client)""",
        "events_holt_forecast": """
WITH RECURSIVE hourly AS (
  SELECT event_type AS g,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
         count(*) AS x
  FROM events GROUP BY 1, 2),
obs AS (
  SELECT g, hr, x,
         row_number() OVER (PARTITION BY g ORDER BY hr) AS i
  FROM hourly),
rec AS (
  SELECT g, i, x * 256 AS l, CAST(0 AS BIGINT) AS t
  FROM obs WHERE i = 1
  UNION ALL
  SELECT o.g, o.i,
         (o.x * 256 + r.l + r.t + 1099511627776) // 2
           - 549755813888 AS l,
         r.t + ((((o.x * 256 + r.l + r.t + 1099511627776) // 2
                  - 549755813888) - r.l - r.t + 1099511627776) // 4
                - 274877906944) AS t
  FROM rec r JOIN obs o ON o.g = r.g AND o.i = r.i + 1
)
SELECT o.g AS event_type, CAST(o.hr AS BIGINT) AS hr,
       CAST(o.x AS BIGINT) AS n_events,
       CAST(p.l + p.t AS BIGINT) AS forecast_q,
       CAST(abs(o.x * 256 - (p.l + p.t)) AS BIGINT) AS abs_err_q
FROM obs o JOIN rec p ON p.g = o.g AND p.i = o.i - 1""",
        "events_decay_score": """
WITH e AS (
  SELECT event_type AS g,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr
  FROM events),
a AS (SELECT max(hr) AS ah FROM e),
k AS (SELECT g, (ah - hr) // 24 AS k FROM e CROSS JOIN a)
SELECT g AS event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN k <= 7 THEN 1 ELSE 0 END) AS BIGINT)
       AS n_live,
       CAST(sum(CASE WHEN k <= 7 THEN (CAST(1 AS BIGINT) << (7 - k))
                ELSE 0 END) AS BIGINT) AS decayed_q
FROM k GROUP BY g""",
        "crawl_aimd_budgets": """
WITH o AS (
  SELECT 'h' || CAST(user_id % 20 AS VARCHAR) AS host,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS wave,
         max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         AS failed
  FROM events GROUP BY 1, 2),
arr AS (
  SELECT host, list(failed ORDER BY wave) AS fl,
         list(wave ORDER BY wave) AS wl
  FROM o GROUP BY 1),
idx AS (
  SELECT host, wl[u.i] AS wave, fl[u.i] AS failed,
         list_reduce(list_prepend(4, fl[1:u.i]),
                     (a, x) -> CASE WHEN x > 0
                               THEN greatest(a // 2, 1)
                               ELSE least(a + 1, 8) END) AS budget
  FROM arr, UNNEST(generate_series(1, len(fl))) AS u(i))
SELECT host, CAST(wave AS BIGINT) AS wave,
       CAST(failed AS INT) AS failed,
       CAST(budget AS BIGINT) AS budget
FROM idx""",
        "corpus_merkle_diff": """
WITH a AS (SELECT doc_id, text FROM documents),
b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 101 = 7 THEN text || ' v2' ELSE text END
         AS text
  FROM a WHERE doc_id % 97 <> 3
  UNION ALL
  SELECT doc_id + 10000, text FROM a WHERE doc_id % 89 = 11
),
d AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS key,
         CASE WHEN b.doc_id IS NULL THEN 'missing_b'
              WHEN a.doc_id IS NULL THEN 'missing_a'
              ELSE 'changed' END AS status
  FROM a FULL OUTER JOIN b
    ON a.doc_id = b.doc_id
  WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.text <> b.text
)
SELECT CAST(key - key % 16 AS BIGINT) AS leaf,
       CAST(key AS BIGINT) AS key, status
FROM d""",
    }
    # one truth, two physical strategies: the prefix-filtered exact
    # tier (E133) must match the very SQL the plain tier matches
    sql["dedup_prefix_jaccard"] = sql["dedup_ngram_jaccard"]
    return sql
