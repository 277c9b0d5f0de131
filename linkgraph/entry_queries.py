"""Driver-contract queries and their DuckDB oracle SQL (SURVEY.md §5.4).

Every operator from SURVEY.md §2 gets a (queries()[name],
oracle_sql()[name]) pair evaluated by the driver at sf=0.01 — including
the iterative kernels (PageRank via a recursive-CTE power iteration, LPA
via unrolled vote/argmax rounds) and the hash-sketch ops (MinHash/SimHash
via the engine-portable md5 hash family, fingerprint via a HUGEINT
mod-2^64 fold).  Exact numpy oracles for the production hash family and
convergence-mode kernels live in tests/.

Column names and value rounding are mirrored exactly between the Spark
query and the SQL string (the driver hash-compares values).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.sources import derive
from linkgraph.tableio import read_testdata

BFS_MAX_LEVELS = 8  # shared bound between msbfs and the recursive-CTE oracle


# --------------------------------------------------------------------- helpers
def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_testdata(spark, sf_dir, name)


def copurchase_graph(spark: SparkSession, sf_dir: str) -> LinkGraph:
    return LinkGraph(derive.copurchase_edges(_t(spark, sf_dir, "lineitem")))


def user_graph(spark: SparkSession, sf_dir: str) -> LinkGraph:
    return LinkGraph(derive.events_user_edges(_t(spark, sf_dir, "events")))


_COPURCHASE_E = """
pk AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
e AS (SELECT DISTINCT a.p AS src, b.p AS dst FROM pk a JOIN pk b
      ON a.k = b.k AND a.p <> b.p)
"""

_USER_E = """
uk AS (SELECT DISTINCT event_type AS k, user_id AS u FROM events),
e AS (SELECT DISTINCT a.u AS src, b.u AS dst FROM uk a JOIN uk b
      ON a.k = b.k AND a.u <> b.u)
"""

# MATERIALIZED variant for iterative oracles: DuckDB re-evaluates plain
# CTEs referenced from a recursive term / repeated unrolled steps, turning
# the events self-join into a per-iteration cost (measured 28.6s -> 1.0s).
_USER_E_MAT = """
uk AS MATERIALIZED (SELECT DISTINCT event_type AS k, user_id AS u FROM events),
e AS MATERIALIZED (SELECT DISTINCT a.u AS src, b.u AS dst FROM uk a JOIN uk b
      ON a.k = b.k AND a.u <> b.u)
"""


# ------------------------------------------------------------- graph operators
def q_degree_topk(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    return (
        g.degrees()
        .orderBy(F.col("deg").desc(), F.col("vid").asc())
        .limit(20)
        .select("vid", F.col("deg").cast("long").alias("deg"))
    )


SQL_DEGREE_TOPK = f"""
WITH {_COPURCHASE_E}
SELECT src AS vid, CAST(COUNT(*) AS BIGINT) AS deg
FROM e GROUP BY src ORDER BY deg DESC, vid ASC LIMIT 20
"""


def q_edges_shared_key(spark, sf_dir):
    """S7 shared-key self-join derivation — full directed edge list."""
    return derive.copurchase_edges(_t(spark, sf_dir, "lineitem")).select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )


SQL_EDGES_SHARED_KEY = f"""
WITH {_COPURCHASE_E}
SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst FROM e
"""


def q_edges_events_user(spark, sf_dir):
    """S7 on the deliberately-skewed events table (hub event_types)."""
    return derive.events_user_edges(_t(spark, sf_dir, "events")).select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )


SQL_EDGES_EVENTS_USER = f"""
WITH {_USER_E}
SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst FROM e
"""


def q_turn_adjacency(spark, sf_dir):
    """S8 stable-ordered adjacency derivation (window + lead)."""
    return derive.events_adjacency(_t(spark, sf_dir, "events")).select(
        "src_type", "dst_type", F.col("cnt").cast("long").alias("cnt")
    )


SQL_TURN_ADJACENCY = """
WITH o AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
           AS next_type
  FROM events)
SELECT event_type AS src_type, next_type AS dst_type, CAST(COUNT(*) AS BIGINT) AS cnt
FROM o WHERE next_type IS NOT NULL GROUP BY event_type, next_type
"""


def _bfs_sources_sql() -> str:
    return "SELECT DISTINCT l_partkey AS s FROM lineitem ORDER BY s ASC LIMIT 8"


def q_bfs_distances(spark, sf_dir):
    """Batched MS-BFS distances from the 8 lowest part keys (bounded levels)."""
    from linkgraph.algos.msbfs import msbfs

    g = copurchase_graph(spark, sf_dir)
    srcs = [
        r[0]
        for r in _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("s"))
        .distinct()
        .orderBy("s")
        .limit(8)
        .collect()
    ]
    res = msbfs(g, srcs, emit_distances=True, max_levels=BFS_MAX_LEVELS)
    return res.distances_df.select(
        F.col("src").cast("long").alias("src"),
        F.col("vid").cast("long").alias("vid"),
        F.col("dist").cast("int").alias("dist"),
    )


SQL_BFS_DISTANCES = f"""
WITH RECURSIVE {_COPURCHASE_E},
srcs AS ({_bfs_sources_sql()}),
bfs(src, v, dist) AS (
  SELECT s, s, 0 FROM srcs
  UNION
  SELECT bfs.src, e.dst, bfs.dist + 1 FROM bfs JOIN e ON e.src = bfs.v
  WHERE bfs.dist < {BFS_MAX_LEVELS})
SELECT CAST(src AS BIGINT) AS src, CAST(v AS BIGINT) AS vid,
       CAST(MIN(dist) AS INT) AS dist
FROM bfs GROUP BY src, v
"""


def q_eccentricity(spark, sf_dir):
    """Per-source truncated eccentricity + reach over the bfs_distances
    sample — free from the MS-BFS lane accounting (diameter/radius come
    from max/min over a full-coverage batch)."""
    from linkgraph.algos.msbfs import eccentricity, msbfs

    g = copurchase_graph(spark, sf_dir)
    srcs = [
        r[0]
        for r in _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("s"))
        .distinct()
        .orderBy("s")
        .limit(8)
        .collect()
    ]
    res = msbfs(g, srcs, max_levels=BFS_MAX_LEVELS)
    return eccentricity(g, res)


SQL_ECCENTRICITY = f"""
WITH RECURSIVE {_COPURCHASE_E},
srcs AS ({_bfs_sources_sql()}),
bfs(src, v, dist) AS (
  SELECT s, s, 0 FROM srcs
  UNION
  SELECT bfs.src, e.dst, bfs.dist + 1 FROM bfs JOIN e ON e.src = bfs.v
  WHERE bfs.dist < {BFS_MAX_LEVELS}),
md AS (SELECT src, v, MIN(dist) AS dist FROM bfs GROUP BY src, v)
SELECT CAST(src AS BIGINT) AS src, CAST(MAX(dist) AS BIGINT) AS ecc,
       CAST(COUNT(*) AS BIGINT) AS r
FROM md GROUP BY src
"""


def q_anf(spark, sf_dir):
    """Approximate-neighborhood-function over the bfs_distances source
    sample: cumulative (source, vertex) pairs within distance h.  Zero
    extra distributed work beyond the MS-BFS accounting; oracle is the
    running total of the recursive-CTE distance histogram."""
    from linkgraph.algos.msbfs import msbfs, neighborhood_function

    g = copurchase_graph(spark, sf_dir)
    srcs = [
        r[0]
        for r in _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("s"))
        .distinct()
        .orderBy("s")
        .limit(8)
        .collect()
    ]
    res = msbfs(g, srcs, max_levels=BFS_MAX_LEVELS)
    return neighborhood_function(g, res)


SQL_ANF = f"""
WITH RECURSIVE {_COPURCHASE_E},
srcs AS ({_bfs_sources_sql()}),
bfs(src, v, dist) AS (
  SELECT s, s, 0 FROM srcs
  UNION
  SELECT bfs.src, e.dst, bfs.dist + 1 FROM bfs JOIN e ON e.src = bfs.v
  WHERE bfs.dist < {BFS_MAX_LEVELS}),
md AS (SELECT src, v, MIN(dist) AS dist FROM bfs GROUP BY src, v),
hist AS (SELECT dist AS h, COUNT(*) AS c FROM md GROUP BY dist)
SELECT CAST(h AS INT) AS h,
       CAST(SUM(c) OVER (ORDER BY h) AS BIGINT) AS nf
FROM hist
"""


ANF_FULL_K = 8  # FM lanes shared with the SQL oracle (error ~0.78/sqrt(k))
ANF_FULL_H = 8  # curve depth shared with the oracle's recursion bound


def q_anf_full(spark, sf_dir):
    """Full-graph ANF: FM probabilistic-counter lanes over ALL vertices
    (the scale path; `anf` above is exact over an 8-source sample).  The
    portable md5 hash family makes the sketches bit-identical in DuckDB,
    so the oracle recomputes them from an all-pairs recursive-CTE distance
    closure and the ESTIMATES hash-match exactly — the whole sketch
    pipeline (init, bit_or propagation, lowest-zero-bit estimator) is
    checked, not just row counts."""
    from linkgraph.algos.anf import anf_full

    g = copurchase_graph(spark, sf_dir)
    return anf_full(g, k=ANF_FULL_K, max_h=ANF_FULL_H, hash_mode="portable")


def _fm_rs_cte(k: int, levels: int) -> str:
    """Shared DuckDB prologue for the FM-sketch oracles: copurchase edges,
    md5 lane init, `levels` unrolled bit_or propagation steps, ending in
    `rs(h, v, S)` — the per-vertex lowest-zero-bit sum at every depth.
    Used by both the anf_full and hyperball_harmonic oracles."""
    steps = []
    for h in range(1, levels + 1):
        steps.append(
            f"""m{h} AS MATERIALIZED (
  SELECT p.v, p.j, p.m | COALESCE(a.am, 0) AS m
  FROM m{h - 1} p LEFT JOIN (
    SELECT e.dst AS v, q.j, bit_or(q.m) AS am
    FROM e JOIN m{h - 1} q ON q.v = e.src GROUP BY e.dst, q.j) a
  ON a.v = p.v AND a.j = p.j)"""
        )
    per_h = "\nUNION ALL\n".join(
        f"SELECT {h} AS h, v, j, m FROM m{h}" for h in range(0, levels + 1)
    )
    step_sql = ",\n".join(steps)
    return f"""
WITH
pk AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
e AS MATERIALIZED (SELECT DISTINCT a.p AS src, b.p AS dst FROM pk a JOIN pk b
      ON a.k = b.k AND a.p <> b.p),
verts AS MATERIALIZED (SELECT DISTINCT src AS v FROM e),
js AS (SELECT unnest(generate_series(0, {k - 1})) AS j),
m0 AS MATERIALIZED (
  SELECT v, j,
         CASE WHEN h60 = 0 THEN 1::BIGINT << 59
              ELSE 1::BIGINT << CAST(bit_count((h60 & -h60) - 1) AS INT) END AS m
  FROM (SELECT verts.v, js.j,
               CAST('0x' || substr(md5(CAST(verts.v AS VARCHAR) || '#anf#'
                                        || CAST(js.j AS VARCHAR)), 1, 15)
                    AS BIGINT) AS h60
        FROM verts CROSS JOIN js)),
{step_sql},
allm AS ({per_h}),
rs AS (SELECT h, v, SUM(bit_count(xor(m, m + 1)) - 1) AS S
       FROM allm GROUP BY h, v)"""


def _anf_full_sql(k: int, levels: int) -> str:
    """Unrolled FM-sketch propagation oracle.

    The first-cut oracle derived sketches from an all-pairs recursive-CTE
    distance closure — fully independent, but Θ(|V|²·deg) join probes made
    it 519 s at sf0.01 (1.6 s at sf0.001).  This form instead unrolls the
    propagation m_h(v) = m_{h-1}(v) | bit_or(m_{h-1}(neighbors)) level
    by level, the same MATERIALIZED-step pattern as the betweenness
    oracle: Θ(levels·|E|·k) — 2 s at sf0.01.  The sketches are provably
    equal to the ball form (OR is idempotent/monotone), and the bit-level
    ball-sketch equivalence is independently pytest-checked against a pure
    numpy all-pairs oracle on the ER fixture (tests/test_newalgos.py)."""
    return f"""{_fm_rs_cte(k, levels)},
hist AS (SELECT h, S, COUNT(*) AS c FROM rs GROUP BY h, S)
SELECT CAST(h AS INT) AS h,
       ROUND(SUM(c * POW(2, S / {k}.0)) / 0.77351, 3) AS nf
FROM hist GROUP BY h ORDER BY h
"""


def _hyperball_sql(k: int, levels: int) -> str:
    """HyperBall-harmonic oracle: same unrolled FM propagation, then the
    per-vertex S values pivot into columns s0..s{levels} and feed the SAME
    fixed-order exact-float projection the Spark side uses
    (`anf.harmonic_projection_sql` — shift-decomposed 2^(S/k), string-cast
    constants), so the per-vertex hc doubles agree bit for bit."""
    from linkgraph.algos.anf import harmonic_projection_sql

    pivots = ",\n       ".join(
        f"MAX(CASE WHEN h = {h} THEN S END) AS s{h}" for h in range(levels + 1)
    )
    return f"""{_fm_rs_cte(k, levels)},
sv AS (SELECT v,
       {pivots}
       FROM rs GROUP BY v)
SELECT CAST(v AS BIGINT) AS vid,
       {harmonic_projection_sql(k, levels, 'duck')} AS hc
FROM sv
"""


SQL_ANF_FULL = _anf_full_sql(ANF_FULL_K, ANF_FULL_H)
SQL_HYPERBALL = _hyperball_sql(ANF_FULL_K, ANF_FULL_H)


def q_hyperball_harmonic(spark, sf_dir):
    """Per-vertex harmonic centrality over ALL vertices via HyperBall
    [Boldi & Vigna 2013] FM-sketch lanes — the scale path for "harmonic
    centrality of every vertex" that the exact 512-source MS-BFS batch
    cannot give on a 10^9-vertex graph.  Portable md5 hash family + the
    exact shift-decomposed float projection make the per-vertex estimates
    hash-match DuckDB bit for bit (same protocol as `anf_full`)."""
    from linkgraph.algos.anf import hyperball_harmonic

    g = copurchase_graph(spark, sf_dir)
    return hyperball_harmonic(g, k=ANF_FULL_K, max_h=ANF_FULL_H, hash_mode="portable")


BETW_LEVELS = 8  # forward-pass unroll depth shared with the SQL oracle
BETW_ROOTS = 8  # Brandes-Pich sample: the 8 lowest part keys (as bfs_distances)


def q_betweenness(spark, sf_dir):
    """Sampled-Brandes betweenness (8 roots, n/|S| estimator) on the
    copurchase graph — hash-checked against an unrolled DuckDB oracle
    mirroring the forward sigma / backward delta recurrences level for
    level.  Round-6 absorbs cross-engine summation order (~1e-16)."""
    from linkgraph.algos.betweenness import betweenness

    g = copurchase_graph(spark, sf_dir)
    roots = [
        r[0]
        for r in _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("s"))
        .distinct()
        .orderBy("s")
        .limit(BETW_ROOTS)
        .collect()
    ]
    return betweenness(g, roots, max_levels=BETW_LEVELS)


def _betweenness_oracle_sql(levels: int, n_roots: int) -> str:
    parts = [
        "srcs AS MATERIALIZED (" + _bfs_sources_sql() + ")",
        "verts AS MATERIALIZED (SELECT DISTINCT src AS v FROM e)",
        "s0 AS MATERIALIZED (SELECT s AS root, s AS vid, 1.0 AS sigma FROM srcs)",
        "st0 AS MATERIALIZED (SELECT root, vid FROM s0)",
    ]
    for l in range(1, levels + 1):
        parts.append(
            f"""s{l} AS MATERIALIZED (
  SELECT p.root, e.dst AS vid, SUM(p.sigma) AS sigma
  FROM s{l - 1} p JOIN e ON e.src = p.vid
  LEFT JOIN st{l - 1} x ON x.root = p.root AND x.vid = e.dst
  WHERE x.vid IS NULL
  GROUP BY p.root, e.dst)"""
        )
        parts.append(
            f"st{l} AS MATERIALIZED (SELECT root, vid FROM st{l - 1} "
            f"UNION ALL SELECT root, vid FROM s{l})"
        )
    parts.append(
        f"w{levels} AS MATERIALIZED "
        f"(SELECT root, vid, sigma, 0.0 AS delta FROM s{levels})"
    )
    for l in range(levels - 1, -1, -1):
        parts.append(
            f"""w{l} AS MATERIALIZED (
  SELECT u.root, u.vid, u.sigma,
         COALESCE(SUM(u.sigma / w.sigma * (1.0 + w.delta)), 0.0) AS delta
  FROM s{l} u
  LEFT JOIN e ON e.src = u.vid
  LEFT JOIN w{l + 1} w ON w.root = u.root AND w.vid = e.dst
  GROUP BY u.root, u.vid, u.sigma)"""
        )
    union = " UNION ALL ".join(
        f"SELECT root, vid, delta FROM w{l}" for l in range(levels + 1)
    )
    return (
        "WITH " + _COPURCHASE_E + ",\n"
        + ",\n".join(parts)
        + f""",
alld AS ({union})
SELECT CAST(vid AS BIGINT) AS vid,
       ROUND(SUM(delta) * ((SELECT CAST(COUNT(*) AS DOUBLE) FROM verts) / {n_roots}.0), 6) AS bc
FROM alld WHERE vid <> root GROUP BY vid"""
    )


SQL_BETWEENNESS = _betweenness_oracle_sql(BETW_LEVELS, BETW_ROOTS)


def q_closeness(spark, sf_dir):
    """Top-degree 64-source batch closeness (the reference's flagship app)."""
    from linkgraph.algos.msbfs import closeness, msbfs

    g = copurchase_graph(spark, sf_dir)
    srcs = g.top_degree_vids(64)
    res = msbfs(g, srcs, max_levels=BFS_MAX_LEVELS + 4)
    return closeness(g, res).select(
        "src", "r", "s", F.round("c", 6).alias("c")
    )


SQL_CLOSENESS = f"""
WITH RECURSIVE {_COPURCHASE_E},
deg AS (SELECT src AS vid, COUNT(*) AS d FROM e GROUP BY src),
n AS (SELECT COUNT(*) AS n FROM deg),
srcs AS (SELECT vid AS s FROM deg ORDER BY d DESC, vid ASC LIMIT 64),
bfs(src, v, dist) AS (
  SELECT s, s, 0 FROM srcs
  UNION
  SELECT bfs.src, e.dst, bfs.dist + 1 FROM bfs JOIN e ON e.src = bfs.v
  WHERE bfs.dist < {BFS_MAX_LEVELS + 4}),
md AS (SELECT src, v, MIN(dist) AS dist FROM bfs GROUP BY src, v),
rs AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS r, CAST(SUM(dist) AS BIGINT) AS s
       FROM md GROUP BY src)
SELECT rs.src AS src, rs.r AS r, rs.s AS s,
       ROUND(CASE WHEN rs.s > 0 AND n.n > 1
             THEN (rs.r - 1.0) * (rs.r - 1.0) / ((n.n - 1.0) * rs.s)
             ELSE 0.0 END, 6) AS c
FROM rs, n
"""


CLOSENESS_TOPK_SRCS = 96
CLOSENESS_TOPK_BATCH = 48


def q_closeness_topk(spark, sf_dir):
    """Exact top-10 closeness via the K4 MULTI-BATCH scheduler — the
    [MSBFS15] headline application run through batched_closeness with 2
    batches (96 sources, width 48), so the batch-union path itself is
    oracle-gated.  Top-10 cut ranks on the ROUNDED score with src
    tiebreak (engine-stable)."""
    from linkgraph.algos.msbfs import batched_closeness

    g = copurchase_graph(spark, sf_dir)
    srcs = g.top_degree_vids(CLOSENESS_TOPK_SRCS)
    out, _ = batched_closeness(
        g, srcs, batch_width=CLOSENESS_TOPK_BATCH, max_levels=BFS_MAX_LEVELS + 4
    )
    # (c, src) is a total order, so a top-k sort (no single-partition
    # window) gives the same ten rows
    return (
        out.select("src", "r", "s", F.round("c", 6).alias("c"))
        .orderBy(F.col("c").desc(), F.col("src").asc())
        .limit(10)
    )


SQL_CLOSENESS_TOPK = f"""
WITH RECURSIVE {_COPURCHASE_E},
deg AS (SELECT src AS vid, COUNT(*) AS d FROM e GROUP BY src),
n AS (SELECT COUNT(*) AS n FROM deg),
srcs AS (SELECT vid AS s FROM deg ORDER BY d DESC, vid ASC
         LIMIT {CLOSENESS_TOPK_SRCS}),
bfs(src, v, dist) AS (
  SELECT s, s, 0 FROM srcs
  UNION
  SELECT bfs.src, e.dst, bfs.dist + 1 FROM bfs JOIN e ON e.src = bfs.v
  WHERE bfs.dist < {BFS_MAX_LEVELS + 4}),
md AS (SELECT src, v, MIN(dist) AS dist FROM bfs GROUP BY src, v),
rs AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS r, CAST(SUM(dist) AS BIGINT) AS s
       FROM md GROUP BY src),
cc AS (
  SELECT rs.src AS src, rs.r AS r, rs.s AS s,
         ROUND(CASE WHEN rs.s > 0 AND n.n > 1
               THEN (rs.r - 1.0) * (rs.r - 1.0) / ((n.n - 1.0) * rs.s)
               ELSE 0.0 END, 6) AS c
  FROM rs, n),
rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY c DESC, src ASC) AS rn FROM cc)
SELECT src, r, s, c FROM rk WHERE rn <= 10
"""


def q_harmonic(spark, sf_dir):
    """Harmonic centrality from the same 64-source MS-BFS batch shape as
    closeness — the Σ 1/d variant that stays defined on disconnected
    graphs.  Runs on the skewed events-user graph (exercises the salted /
    bottom-up paths on a hubby topology)."""
    from linkgraph.algos.msbfs import harmonic, msbfs

    g = user_graph(spark, sf_dir)
    srcs = g.top_degree_vids(64)
    res = msbfs(g, srcs, max_levels=BFS_MAX_LEVELS + 4)
    return harmonic(g, res)


SQL_HARMONIC = f"""
WITH RECURSIVE {_USER_E_MAT},
deg AS (SELECT src AS vid, COUNT(*) AS d FROM e GROUP BY src),
n AS (SELECT COUNT(*) AS n FROM deg),
srcs AS (SELECT vid AS s FROM deg ORDER BY d DESC, vid ASC LIMIT 64),
bfs(src, v, dist) AS (
  SELECT s, s, 0 FROM srcs
  UNION
  SELECT bfs.src, e.dst, bfs.dist + 1 FROM bfs JOIN e ON e.src = bfs.v
  WHERE bfs.dist < {BFS_MAX_LEVELS + 4}),
md AS (SELECT src, v, MIN(dist) AS dist FROM bfs GROUP BY src, v),
lv AS (SELECT src, dist, CAST(COUNT(*) AS DOUBLE) AS cnt
       FROM md WHERE dist > 0 GROUP BY src, dist),
hs AS (SELECT src, SUM(cnt / dist) AS h FROM lv GROUP BY src)
SELECT CAST(srcs.s AS BIGINT) AS src,
       ROUND(COALESCE(hs.h, 0.0), 6) AS h_raw,
       ROUND(COALESCE(hs.h, 0.0) / GREATEST(n.n - 1, 1), 6) AS hn
FROM srcs LEFT JOIN hs ON hs.src = srcs.s, n
"""


KHOP_FANOUTS = [4, 4]
KHOP_SEED = 42


def q_khop_sample(spark, sf_dir):
    """GraphSAGE-style 2-hop fanout-4 neighborhood sample from the 8
    lowest part keys.  The rank key is the engine-portable md5 hash, so
    the sample itself (not just its shape) is hash-checked against the
    DuckDB mirror — a seeded rand() sample never could be."""
    from linkgraph.operators.sampling import khop_sample

    g = copurchase_graph(spark, sf_dir)
    seeds = [
        r[0]
        for r in _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("s"))
        .distinct()
        .orderBy("s")
        .limit(8)
        .collect()
    ]
    return khop_sample(g, seeds, KHOP_FANOUTS, seed=KHOP_SEED)


def _khop_oracle_sql(fanouts, seed) -> str:
    parts = [
        "seeds AS MATERIALIZED (" + _bfs_sources_sql() + ")",
        "f0 AS MATERIALIZED (SELECT s AS vid FROM seeds)",
    ]
    for hop, fanout in enumerate(fanouts, start=1):
        salt = f"{seed}:{hop}"
        parts.append(
            f"""h{hop} AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT e.src, e.dst,
           ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY
             CAST('0x' || substr(md5(e.src || ':' || e.dst || ':{salt}'), 1, 15) AS BIGINT) ASC,
             e.dst ASC) AS rk
    FROM e JOIN f{hop - 1} f ON f.vid = e.src) t
  WHERE rk <= {fanout})"""
        )
        parts.append(
            f"f{hop} AS MATERIALIZED (SELECT DISTINCT dst AS vid FROM h{hop})"
        )
    union = " UNION ALL ".join(
        f"SELECT {hop} AS hop, src, dst FROM h{hop}"
        for hop in range(1, len(fanouts) + 1)
    )
    return (
        "WITH " + _COPURCHASE_E + ","
        + ",".join(parts)
        + f"""
SELECT CAST(hop AS INT) AS hop, CAST(src AS BIGINT) AS src,
       CAST(dst AS BIGINT) AS dst
FROM ({union})"""
    )


SQL_KHOP_SAMPLE = _khop_oracle_sql(KHOP_FANOUTS, KHOP_SEED)


def q_connected_components(spark, sf_dir):
    from linkgraph.algos.components import connected_components

    g = user_graph(spark, sf_dir)
    return connected_components(g).select(
        F.col("vid").cast("long").alias("vid"), F.col("comp").cast("long").alias("comp")
    )


def q_cc_two_phase(spark, sf_dir):
    """Same components as q_connected_components, computed by the
    alternating large-star/small-star edge-rewrite kernel (SoCC'14) —
    a cross-kernel consistency gate: both must hash-match the one
    min-label reachability oracle."""
    from linkgraph.algos.components import connected_components_two_phase

    g = user_graph(spark, sf_dir)
    return connected_components_two_phase(g).select(
        F.col("vid").cast("long").alias("vid"), F.col("comp").cast("long").alias("comp")
    )


SQL_CONNECTED_COMPONENTS = f"""
WITH RECURSIVE {_USER_E},
verts AS (SELECT DISTINCT src AS v FROM e),
reach(v, u) AS (
  SELECT v, v FROM verts
  UNION
  SELECT reach.v, e.dst FROM reach JOIN e ON e.src = reach.u)
SELECT CAST(v AS BIGINT) AS vid, CAST(MIN(u) AS BIGINT) AS comp
FROM reach GROUP BY v
"""


KCORE_K = 75  # non-vacuous at the driver SF (1,938/2,000 survive at sf0.01)
KCORE_ROUNDS = 6  # ≥ measured convergence depth at sf0.01 (4 rounds)


def q_k_core(spark, sf_dir):
    """k-core membership + induced degree via fixed-round peel — both
    engines run exactly KCORE_ROUNDS rounds so the hash matches whether or
    not the peel has converged (it has, at sf0.01: 4 rounds)."""
    from linkgraph.algos.kcore import k_core

    g = copurchase_graph(spark, sf_dir)
    return k_core(g, KCORE_K, rounds=KCORE_ROUNDS)


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    steps = []
    for i in range(1, rounds + 1):
        prev = "c0" if i == 1 else f"c{i - 1}"
        steps.append(f"""
c{i} AS MATERIALIZED (
  SELECT a.src AS vid FROM e a
  JOIN {prev} s ON s.vid = a.src
  JOIN {prev} d ON d.vid = a.dst
  GROUP BY a.src HAVING COUNT(*) >= {k})""")
    return (
        f"WITH {_COPURCHASE_E},"
        "c0 AS MATERIALIZED (SELECT DISTINCT src AS vid FROM e),"
        + ",".join(steps)
        + f"""
SELECT CAST(a.src AS BIGINT) AS vid, CAST(COUNT(*) AS BIGINT) AS core_deg
FROM e a
JOIN c{rounds} s ON s.vid = a.src
JOIN c{rounds} d ON d.vid = a.dst
GROUP BY a.src"""
    )


SQL_K_CORE = _kcore_oracle_sql(KCORE_K, KCORE_ROUNDS)


def q_k_core_fixpoint(spark, sf_dir):
    """k_core's fixpoint path (rounds=None): peel until the surviving edge
    set stops shrinking.  The oracle unrolls twice KCORE_ROUNDS rounds;
    rounds after convergence are identity."""
    from linkgraph.algos.kcore import k_core

    return k_core(copurchase_graph(spark, sf_dir), KCORE_K)


SQL_K_CORE_FIXPOINT = _kcore_oracle_sql(KCORE_K, 2 * KCORE_ROUNDS)


def q_triangle_count(spark, sf_dir):
    from linkgraph.algos.triangles import triangle_count

    g = user_graph(spark, sf_dir)
    return spark.createDataFrame(
        [(triangle_count(g, by_degree=True),)], "n_triangles long"
    )


SQL_TRIANGLE_COUNT = f"""
WITH {_USER_E},
o AS (SELECT src AS a, dst AS b FROM e WHERE src < dst)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM o e1 JOIN o e2 ON e1.b = e2.a JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b
"""


def q_triangles_per_vertex(spark, sf_dir):
    from linkgraph.algos.triangles import triangles_per_vertex

    g = user_graph(spark, sf_dir)
    return triangles_per_vertex(g).select(
        F.col("vid").cast("long").alias("vid"), F.col("tri").cast("long").alias("tri")
    )


SQL_TRIANGLES_PER_VERTEX = f"""
WITH {_USER_E},
o AS (SELECT src AS a, dst AS b FROM e WHERE src < dst),
t AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
      FROM o e1 JOIN o e2 ON e1.b = e2.a JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b),
corners AS (SELECT a AS vid FROM t UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t)
SELECT CAST(vid AS BIGINT) AS vid, CAST(COUNT(*) AS BIGINT) AS tri
FROM corners GROUP BY vid
"""


PR_ITERS = 12  # fixed power-iteration budget shared with the SQL oracle


def q_pagerank(spark, sf_dir):
    """Fixed-budget PageRank (PR_ITERS iterations, tol=0) — hash-checked
    against a DuckDB recursive-CTE power iteration.  Round to 9 decimals:
    both engines compute the identical IEEE-double recurrence; the only
    divergence is summation order (~1e-15 relative), far inside round-9.
    (Convergence-mode tol=1e-6 is exercised by the numpy oracle in
    tests/test_algos.py — an iteration count chosen by a tolerance cannot
    be mirrored in SQL.)"""
    from linkgraph.algos.pagerank import pagerank

    g = user_graph(spark, sf_dir)
    pr = pagerank(g, tol=0, max_iter=PR_ITERS)
    return pr.select(F.col("vid").cast("long").alias("vid"), F.round("pr", 9).alias("pr"))


SQL_PAGERANK = f"""
WITH RECURSIVE {_USER_E_MAT},
deg AS MATERIALIZED (SELECT src AS vid, CAST(COUNT(*) AS DOUBLE) AS deg FROM e GROUP BY src),
nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
pr(it, vid, pr) AS (
  SELECT 0, vid, 1.0/(SELECT n FROM nv) FROM deg
  UNION ALL
  SELECT p.it + 1, e.dst,
         (1.0 - 0.85)/(SELECT n FROM nv) + 0.85*SUM(p.pr/dd.deg)
  FROM pr p JOIN deg dd ON dd.vid = p.vid JOIN e ON e.src = p.vid
  WHERE p.it < {PR_ITERS}
  GROUP BY p.it + 1, e.dst
)
SELECT CAST(vid AS BIGINT) AS vid, ROUND(pr, 9) AS pr FROM pr WHERE it = {PR_ITERS}
"""


PPR_SEEDS = 4  # personalized-PR seed count shared with the SQL oracle


def q_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank: teleport (and dangling mass) uniform over
    the 4 top-degree seeds — fixed-budget, hash-checked against a DuckDB
    recursive-CTE power iteration with the same restricted reset vector.
    Same round-9 rationale as q_pagerank."""
    from linkgraph.algos.pagerank import pagerank

    g = user_graph(spark, sf_dir)
    seeds = g.top_degree_vids(PPR_SEEDS)
    pr = pagerank(g, tol=0, max_iter=PR_ITERS, sources=seeds)
    return pr.select(
        F.col("vid").cast("long").alias("vid"), F.round("pr", 9).alias("ppr")
    )


SQL_PERSONALIZED_PAGERANK = f"""
WITH RECURSIVE {_USER_E_MAT},
deg AS MATERIALIZED (SELECT src AS vid, CAST(COUNT(*) AS DOUBLE) AS deg FROM e GROUP BY src),
seeds AS MATERIALIZED (
  SELECT vid, 1.0/{PPR_SEEDS} AS rv FROM (
    SELECT vid FROM deg ORDER BY deg DESC, vid ASC LIMIT {PPR_SEEDS})),
pr(it, vid, pr) AS (
  SELECT 0, d.vid, COALESCE(s.rv, 0.0)
  FROM deg d LEFT JOIN seeds s ON s.vid = d.vid
  UNION ALL
  SELECT p.it + 1, e.dst,
         (1.0 - 0.85)*COALESCE(s.rv, 0.0) + 0.85*SUM(p.pr/dd.deg)
  FROM pr p JOIN deg dd ON dd.vid = p.vid JOIN e ON e.src = p.vid
       LEFT JOIN seeds s ON s.vid = e.dst
  WHERE p.it < {PR_ITERS}
  GROUP BY p.it + 1, e.dst, s.rv
)
SELECT CAST(vid AS BIGINT) AS vid, ROUND(pr, 9) AS ppr FROM pr WHERE it = {PR_ITERS}
"""


PUSH_ROUNDS = 6
PUSH_EPS = 1e-4
PUSH_ALPHA = 0.15


def q_ppr_push(spark, sf_dir):
    """Forward-push personalized PageRank (ACL FOCS'06): 6 threshold-gated
    push sweeps from the 4 top-degree seeds; work bounded by 1/(eps*alpha)
    independent of graph size.  Hash-checked against the identically
    unrolled DuckDB sweep chain (estimate AND residual columns both
    compared)."""
    from linkgraph.algos.pagerank import ppr_forward_push

    g = user_graph(spark, sf_dir)
    seeds = g.top_degree_vids(PPR_SEEDS)
    st = ppr_forward_push(
        g, seeds, alpha=PUSH_ALPHA, eps=PUSH_EPS, rounds=PUSH_ROUNDS
    )
    return st.select(
        F.col("vid").cast("long").alias("vid"),
        F.round("p", 9).alias("p"),
        F.round("r", 9).alias("r"),
    )


def _ppr_push_oracle_sql(rounds: int) -> str:
    steps = []
    for k in range(1, rounds + 1):
        steps.append(f"""
s{k} AS (
  SELECT s.vid, s.deg,
         s.p + CASE WHEN s.r > {PUSH_EPS}*s.deg THEN {PUSH_ALPHA}*s.r ELSE 0.0 END AS p,
         CASE WHEN s.r > {PUSH_EPS}*s.deg THEN 0.0 ELSE s.r END + COALESCE(c.c, 0.0) AS r
  FROM s{k - 1} s LEFT JOIN (
    SELECT e.dst AS vid, SUM((1.0-{PUSH_ALPHA})*q.r/q.deg) AS c
    FROM s{k - 1} q JOIN e ON e.src = q.vid
    WHERE q.r > {PUSH_EPS}*q.deg
    GROUP BY e.dst) c ON c.vid = s.vid
)""")
    chain = ",".join(steps)
    return f"""
WITH RECURSIVE {_USER_E_MAT},
deg AS MATERIALIZED (SELECT src AS vid, CAST(COUNT(*) AS DOUBLE) AS deg FROM e GROUP BY src),
seeds AS MATERIALIZED (
  SELECT vid, 1.0/{PPR_SEEDS} AS r0 FROM (
    SELECT vid FROM deg ORDER BY deg DESC, vid ASC LIMIT {PPR_SEEDS})),
s0 AS (
  SELECT d.vid, d.deg, 0.0 AS p, COALESCE(s.r0, 0.0) AS r
  FROM deg d LEFT JOIN seeds s ON s.vid = d.vid),
{chain}
SELECT CAST(vid AS BIGINT) AS vid, ROUND(p, 9) AS p, ROUND(r, 9) AS r
FROM s{rounds}
"""


SQL_PPR_PUSH = _ppr_push_oracle_sql(PUSH_ROUNDS)


HH_K = 50


def q_heavy_hitters(spark, sf_dir):
    """Exact token heavy hitters (freq > n/k) by Misra-Gries candidate
    pass + exact verify pass — result provably equals the plain
    GROUP BY ... HAVING oracle, without ever building a full-cardinality
    aggregate."""
    from linkgraph.textops.sketches import token_heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    return token_heavy_hitters(docs, HH_K).select(
        "token", F.col("cnt").cast("long").alias("cnt")
    )


SQL_HEAVY_HITTERS = f"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents),
tot AS (SELECT COUNT(*) AS n FROM tok)
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
FROM tok GROUP BY token
HAVING COUNT(*) * {HH_K} > (SELECT n FROM tot)
"""


PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_event_pivot(spark, sf_dir):
    """PIVOT surface: per-user wide table of event counts and value sums
    by event_type, via groupBy().pivot(values=...) with an EXPLICIT value
    list — one shuffle, no distinct-values pre-pass, deterministic column
    set (the implicit-values form runs an extra job and couples the
    schema to the data).  Oracle: conditional-aggregation CASE WHEN
    mirror.  Sums are integer cents (value is 2dp) so the wide columns
    hash exactly."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    wide = (
        ev.select("user_id", "event_type", cents.alias("cents"))
        .groupBy("user_id")
        .pivot("event_type", PIVOT_TYPES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("cents"), F.lit(0)).alias("cents"),
        )
    )
    cols = [F.col("user_id").cast("long").alias("user_id")]
    for t in PIVOT_TYPES:
        cols.append(F.coalesce(f"{t}_n", F.lit(0)).cast("long").alias(f"{t}_n"))
        cols.append(
            F.coalesce(f"{t}_cents", F.lit(0)).cast("long").alias(f"{t}_cents")
        )
    return wide.select(*cols)


def _pivot_cols_sql() -> str:
    parts = []
    for t in PIVOT_TYPES:
        parts.append(
            f"CAST(COUNT(*) FILTER (event_type = '{t}') AS BIGINT) AS {t}_n"
        )
        parts.append(
            f"CAST(COALESCE(SUM(CAST(ROUND(value*100) AS BIGINT)) "
            f"FILTER (event_type = '{t}'), 0) AS BIGINT) AS {t}_cents"
        )
    return ",\n       ".join(parts)


SQL_EVENT_PIVOT = f"""
SELECT CAST(user_id AS BIGINT) AS user_id,
       {_pivot_cols_sql()}
FROM events GROUP BY user_id
"""


REC_K = 5
REC_CAP = 64


def q_recommend(spark, sf_dir):
    """Item-item collaborative filtering: top-5 unowned parts per customer
    by summed basket-cosine similarity (basket-capped pair generation,
    rounded-score rank keys so rank boundaries are engine-portable)."""
    from linkgraph.operators.recommend import item_item_cosine, recommend_topk

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    baskets = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p")
    )
    sim = item_item_cosine(baskets, basket_cap=REC_CAP)
    ub = orders.join(
        li, li["l_orderkey"] == orders["o_orderkey"]
    ).select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p"))
    return recommend_topk(ub, sim, k=REC_K).select(
        F.col("u").cast("long").alias("u"),
        F.col("rec").cast("long").alias("rec"),
        F.col("score"),
        F.col("rk").cast("long").alias("rk"),
    )


SQL_RECOMMEND = f"""
WITH pk AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
ni AS (SELECT p, COUNT(*) AS n FROM pk GROUP BY p),
small AS (SELECT pk.k, pk.p FROM pk JOIN (
    SELECT k FROM pk GROUP BY k HAVING COUNT(*) <= {REC_CAP}) s ON s.k = pk.k),
co AS (SELECT a.p AS i, b.p AS j, COUNT(*) AS nij
       FROM small a JOIN small b ON a.k = b.k AND a.p < b.p GROUP BY a.p, b.p),
sim0 AS (SELECT i, j, nij/sqrt(ni.n * nj.n) AS sim
         FROM co JOIN ni ni ON ni.p = co.i JOIN ni nj ON nj.p = co.j),
sim AS (SELECT i, j, sim FROM sim0 UNION ALL SELECT j, i, sim FROM sim0),
ub AS (SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS j
       FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
sc AS (SELECT ub.u, s.j AS rec, ROUND(SUM(s.sim), 9) AS score
       FROM ub JOIN sim s ON s.i = ub.j GROUP BY ub.u, s.j),
unowned AS (SELECT sc.* FROM sc LEFT JOIN ub ON ub.u = sc.u AND ub.j = sc.rec
            WHERE ub.u IS NULL),
rk AS (SELECT u, rec, score,
       ROW_NUMBER() OVER (PARTITION BY u ORDER BY score DESC, rec ASC) AS rk
       FROM unowned)
SELECT CAST(u AS BIGINT) AS u, CAST(rec AS BIGINT) AS rec, score,
       CAST(rk AS BIGINT) AS rk
FROM rk WHERE rk <= {REC_K}
"""


def q_table_diff(spark, sf_dir):
    """Bucket-checksum snapshot reconciliation: diff `orders` against a
    deterministically perturbed copy (keys %101 deleted, totalprice
    changed on keys %97).  The oracle is the INDEPENDENT ground truth
    (the perturbation rule itself), not a mirror of the bucket plan —
    so the checksum route must find exactly the planted differences."""
    from linkgraph.operators.reconcile import table_diff

    o = _t(spark, sf_dir, "orders")
    right = o.where(F.col("o_orderkey") % 101 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    return table_diff(
        o, right, ["o_orderkey"], ["o_custkey", "o_totalprice"]
    ).select(F.col("o_orderkey").cast("long").alias("o_orderkey"), "status")


SQL_TABLE_DIFF = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CASE WHEN o_orderkey % 101 = 0 THEN 'left_only'
            ELSE 'changed' END AS status
FROM orders
WHERE o_orderkey % 101 = 0 OR o_orderkey % 97 = 0
"""


def q_ssjoin_prefix(spark, sf_dir):
    """Exact set-similarity self-join at Jaccard ≥ 0.7 via prefix
    filtering (AllPairs/PPJoin): candidates only on rarest-prefix tokens,
    integer-exact threshold — oracle is the BRUTE-FORCE all-shared-token
    join, so the prefix filter's completeness is what's being graded."""
    from linkgraph.textops.dedup import prefix_filter_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(docs, 7, 10).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        "jac",
    )


SQL_SSJOIN_PREFIX = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS w
  FROM documents),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       ROUND(CAST(i AS DOUBLE)/(sa.sz + sb.sz - i), 6) AS jac
FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
WHERE i*10 >= 7*(sa.sz + sb.sz - i)
"""


def q_event_hopping(spark, sf_dir):
    """Hopping-window surface: window(ts, '1 hour', '15 minutes') — each
    event lands in 4 overlapping windows; the one sliding-window shape
    tumbling/session queries don't cover.  Oracle unrolls the 4 window
    memberships with a range(4) cross join on epoch-aligned starts."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.select(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            cents.alias("cents"),
        )
        .groupBy(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("wstart")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )


SQL_EVENT_HOPPING = """
SELECT strftime(to_timestamp(CAST(floor(epoch(ts)/900) AS BIGINT)*900 - j.j*900),
                '%Y-%m-%d %H:%M:%S') AS wstart,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS cents
FROM events, (SELECT unnest(range(4)) AS j) j
GROUP BY 1
"""


def q_partition_cut(spark, sf_dir):
    """Edge-cut of hash vs range partitioning on the user graph — the
    locality measurement behind the relabel-then-range layout decision."""
    from linkgraph.operators.skew import partition_cut_report

    g = user_graph(spark, sf_dir)
    return partition_cut_report(g.edges.select("src", "dst"), parts=32)


SQL_PARTITION_CUT = f"""
WITH {_USER_E},
mx AS (SELECT GREATEST(MAX(src), MAX(dst)) AS m FROM e),
tagged AS (
  SELECT CASE WHEN CAST('0x' || substr(md5(CAST(src AS VARCHAR)), 1, 15) AS BIGINT) % 32
            <> CAST('0x' || substr(md5(CAST(dst AS VARCHAR)), 1, 15) AS BIGINT) % 32
          THEN 1 ELSE 0 END AS hcut,
         CASE WHEN FLOOR(src*32/(m+1)) <> FLOOR(dst*32/(m+1)) THEN 1 ELSE 0 END AS rcut
  FROM e, mx)
SELECT 'hash' AS partitioner, CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(SUM(hcut) AS BIGINT) AS cut_edges,
       ROUND(CAST(SUM(hcut) AS DOUBLE)/COUNT(*), 6) AS cut_frac FROM tagged
UNION ALL
SELECT 'range', CAST(COUNT(*) AS BIGINT), CAST(SUM(rcut) AS BIGINT),
       ROUND(CAST(SUM(rcut) AS DOUBLE)/COUNT(*), 6) FROM tagged
"""


Z_FILES = 64


def q_zorder_layout(spark, sf_dir):
    """Z-order layout report over lineitem (l_partkey × l_suppkey): the
    per-file min-max statistics a Morton-keyed write would hand the
    reader's pruning — both dimensions' extents bounded per file, which
    a single-column sort cannot give."""
    from linkgraph.operators.layout import zorder_layout_report

    li = _t(spark, sf_dir, "lineitem")
    return zorder_layout_report(li, "l_partkey", "l_suppkey", files=Z_FILES)


def _zorder_oracle_sql(files: int, bits: int = 16) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"(((xq >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"(((yq >> {i}) & 1) << {2 * i})")
    z = " + ".join(terms)
    return f"""
WITH b AS (SELECT MIN(l_partkey) AS xmn, MAX(l_partkey) AS xmx,
                  MIN(l_suppkey) AS ymn, MAX(l_suppkey) AS ymx FROM lineitem),
q AS (SELECT l_partkey AS x, l_suppkey AS y,
        CAST(FLOOR(((l_partkey - xmn) * {(1 << bits) - 1})
                   / CAST(GREATEST(1, xmx - xmn) AS DOUBLE)) AS BIGINT) AS xq,
        CAST(FLOOR(((l_suppkey - ymn) * {(1 << bits) - 1})
                   / CAST(GREATEST(1, ymx - ymn) AS DOUBLE)) AS BIGINT) AS yq
      FROM lineitem, b),
k AS (SELECT x, y, {z} AS z FROM q),
f AS (SELECT x, y, NTILE({files}) OVER (ORDER BY z, x, y) AS file_id FROM k)
SELECT CAST(file_id AS BIGINT) AS file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
       CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y
FROM f GROUP BY 1
"""


SQL_ZORDER_LAYOUT = _zorder_oracle_sql(Z_FILES)


TRIAD_QTY = 38


def q_triad_census(spark, sf_dir):
    """Holland-Leinhardt 16-class directed triad census of the sequential
    co-purchase graph (Batagelj-Mrvar wedge decomposition — 003 never
    enumerated); oracle mirrors the same decomposition with the same
    generated tricode table."""
    from linkgraph.algos.triads import triad_census
    from linkgraph.sources.derive import sequential_copurchase_edges

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > TRIAD_QTY)
    return triad_census(sequential_copurchase_edges(li))


def _triad_oracle_sql(qty: int) -> str:
    from linkgraph.algos.triads import TRIAD_CLASSES, TRICODE_CLASS

    lut = ", ".join(f"'{c}'" for c in TRICODE_CLASS)
    classes = ", ".join(f"('{c}')" for c in TRIAD_CLASSES)
    return f"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT l_partkey AS u, nxt AS v FROM (
    SELECT l_partkey,
           lead(l_partkey) OVER (PARTITION BY l_orderkey
                                 ORDER BY l_linenumber, l_partkey) AS nxt
    FROM lineitem WHERE l_quantity > {qty})
  WHERE nxt IS NOT NULL AND nxt <> l_partkey),
dy AS MATERIALIZED (
  SELECT LEAST(u, v) AS a, GREATEST(u, v) AS b,
         SUM(CASE WHEN u < v THEN 1 ELSE 2 END) AS st
  FROM e GROUP BY 1, 2),
nv AS (SELECT COUNT(*) AS n FROM (SELECT u AS x FROM e UNION SELECT v FROM e)),
nb AS (SELECT a AS x, b AS y FROM dy UNION ALL SELECT b, a FROM dy),
wedges AS MATERIALIZED (
  SELECT l.x AS x, l.y AS p, r.y AS q
  FROM nb l JOIN nb r ON r.x = l.x AND l.y < r.y),
triples AS (
  SELECT DISTINCT LEAST(x, p, q) AS a, x + p + q - LEAST(x, p, q) - GREATEST(x, p, q) AS b,
         GREATEST(x, p, q) AS c
  FROM wedges),
coded AS (
  SELECT COALESCE(d1.st, 0) + COALESCE(d2.st, 0)*4 + COALESCE(d3.st, 0)*16 AS code
  FROM triples t
  LEFT JOIN dy d1 ON d1.a = t.a AND d1.b = t.b
  LEFT JOIN dy d2 ON d2.a = t.a AND d2.b = t.c
  LEFT JOIN dy d3 ON d3.a = t.b AND d3.b = t.c),
connected AS (
  SELECT list_extract([{lut}], CAST(code AS INT) + 1) AS klass, COUNT(*) AS cnt
  FROM coded GROUP BY 1),
degs AS (SELECT x, COUNT(*) AS deg FROM nb GROUP BY x),
cn AS (
  SELECT w.p, w.q, COUNT(*) AS cn FROM wedges w
  WHERE EXISTS (SELECT 1 FROM dy WHERE dy.a = w.p AND dy.b = w.q)
  GROUP BY w.p, w.q),
lone AS (
  SELECT CASE WHEN dy.st = 3 THEN '102' ELSE '012' END AS klass,
         SUM((SELECT n FROM nv) - 2 - (da.deg + db.deg - 2 - COALESCE(cn.cn, 0))) AS cnt
  FROM dy
  LEFT JOIN cn ON cn.p = dy.a AND cn.q = dy.b
  JOIN degs da ON da.x = dy.a
  JOIN degs db ON db.x = dy.b
  GROUP BY 1),
partial AS (SELECT * FROM connected UNION ALL SELECT * FROM lone),
empty AS (
  SELECT '003' AS klass,
         (SELECT n*(n-1)*(n-2)/6 FROM nv) - (SELECT SUM(cnt) FROM partial) AS cnt),
allp AS (SELECT * FROM partial UNION ALL SELECT * FROM empty),
classes(klass) AS (VALUES {classes})
SELECT classes.klass AS klass, CAST(COALESCE(allp.cnt, 0) AS BIGINT) AS cnt
FROM classes LEFT JOIN allp ON allp.klass = classes.klass
"""


SQL_TRIAD_CENSUS = _triad_oracle_sql(TRIAD_QTY)


REC_SPLIT = "2000-01-01"


def q_recommend_eval(spark, sf_dir):
    """End-to-end offline recommender evaluation with a TEMPORAL split
    (train < 2000-01-01, test after): similarities and user baskets come
    from train orders only; truth = test-period purchases of items the
    user had NOT bought in train.  One summary row: evaluated users,
    rec/truth/hit counts, precision@k and recall@k — the leakage-safe
    eval shape (same-period evaluation would grade memorization)."""
    from linkgraph.operators.recommend import item_item_cosine, recommend_topk

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    split = F.lit(REC_SPLIT).cast("timestamp")
    tr_o = orders.where(F.col("o_orderdate") < split)
    te_o = orders.where(F.col("o_orderdate") >= split)

    def pairs(o):
        return (
            o.join(li, li["l_orderkey"] == o["o_orderkey"])
            .select(
                F.col("o_custkey").alias("u"),
                F.col("l_orderkey").alias("k"),
                F.col("l_partkey").alias("p"),
            )
        )

    tr = pairs(tr_o)
    sim = item_item_cosine(tr.select("k", "p"), basket_cap=REC_CAP)
    ub_train = tr.select("u", "p").distinct()
    recs = recommend_topk(ub_train, sim, k=REC_K)
    truth = (
        pairs(te_o)
        .select("u", "p")
        .distinct()
        .join(ub_train, ["u", "p"], "left_anti")
    )
    users = recs.select("u").distinct().join(
        truth.select("u").distinct(), "u", "left_semi"
    )
    r_e = recs.join(users, "u", "left_semi")
    t_e = truth.join(users, "u", "left_semi")
    hits = r_e.join(
        t_e.select("u", F.col("p").alias("rec")), ["u", "rec"], "left_semi"
    )
    n_users = users.count()
    n_recs = r_e.count()
    n_truth = t_e.count()
    n_hits = hits.count()
    return spark.createDataFrame(
        [
            (
                n_users,
                n_recs,
                n_truth,
                n_hits,
                round(n_hits / n_recs, 6) if n_recs else 0.0,
                round(n_hits / n_truth, 6) if n_truth else 0.0,
            )
        ],
        "n_users long, n_recs long, n_truth long, n_hits long, "
        "precision_at_k double, recall_at_k double",
    )


SQL_RECOMMEND_EVAL = f"""
WITH tr AS (
  SELECT o.o_custkey AS u, l.l_orderkey AS k, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate < TIMESTAMP '{REC_SPLIT}'),
pk AS (SELECT DISTINCT k, p FROM tr),
ni AS (SELECT p, COUNT(*) AS n FROM pk GROUP BY p),
small AS (SELECT pk.k, pk.p FROM pk JOIN (
    SELECT k FROM pk GROUP BY k HAVING COUNT(*) <= {REC_CAP}) s ON s.k = pk.k),
co AS (SELECT a.p AS i, b.p AS j, COUNT(*) AS nij
       FROM small a JOIN small b ON a.k = b.k AND a.p < b.p GROUP BY a.p, b.p),
sim0 AS (SELECT i, j, nij/sqrt(ni.n * nj.n) AS sim
         FROM co JOIN ni ni ON ni.p = co.i JOIN ni nj ON nj.p = co.j),
sim AS (SELECT i, j, sim FROM sim0 UNION ALL SELECT j, i, sim FROM sim0),
ub AS (SELECT DISTINCT u, p AS j FROM tr),
sc AS (SELECT ub.u, s.j AS rec, ROUND(SUM(s.sim), 9) AS score
       FROM ub JOIN sim s ON s.i = ub.j GROUP BY ub.u, s.j),
unowned AS (SELECT sc.* FROM sc LEFT JOIN ub ON ub.u = sc.u AND ub.j = sc.rec
            WHERE ub.u IS NULL),
recs AS (SELECT u, rec FROM (
  SELECT u, rec, ROW_NUMBER() OVER (PARTITION BY u ORDER BY score DESC, rec ASC) AS rk
  FROM unowned) WHERE rk <= {REC_K}),
truth AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate >= TIMESTAMP '{REC_SPLIT}'
  EXCEPT SELECT u, j FROM ub),
users AS (SELECT u FROM (SELECT DISTINCT u FROM recs)
          WHERE u IN (SELECT u FROM truth)),
r_e AS (SELECT recs.* FROM recs WHERE u IN (SELECT u FROM users)),
t_e AS (SELECT truth.* FROM truth WHERE u IN (SELECT u FROM users)),
m AS (SELECT
    (SELECT COUNT(*) FROM users) AS n_users,
    (SELECT COUNT(*) FROM r_e) AS n_recs,
    (SELECT COUNT(*) FROM t_e) AS n_truth,
    (SELECT COUNT(*) FROM r_e JOIN t_e ON t_e.u = r_e.u AND t_e.p = r_e.rec) AS n_hits)
SELECT CAST(n_users AS BIGINT) AS n_users, CAST(n_recs AS BIGINT) AS n_recs,
       CAST(n_truth AS BIGINT) AS n_truth, CAST(n_hits AS BIGINT) AS n_hits,
       ROUND(CAST(n_hits AS DOUBLE)/n_recs, 6) AS precision_at_k,
       ROUND(CAST(n_hits AS DOUBLE)/n_truth, 6) AS recall_at_k
FROM m
"""


LPA_ITERS = 5  # fixed budget shared with the SQL oracle (fixpoint-stable:
#                the Spark loop may stop early at changed==0, after which
#                further unrolled SQL iterations are identity)


def q_label_propagation(spark, sf_dir):
    """Synchronous deterministic LPA, hash-checked against an unrolled
    DuckDB oracle (LPA_ITERS iterations of vote → argmax with min-label
    tie-break — integer-exact, no float divergence possible)."""
    from linkgraph.algos.labelprop import label_propagation

    g = user_graph(spark, sf_dir)
    return label_propagation(g, max_iter=LPA_ITERS).select(
        F.col("vid").cast("long").alias("vid"),
        F.col("label").cast("long").alias("label"),
    )


def _lpa_oracle_sql(iters: int) -> str:
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
l{k} AS (
  SELECT v.vid AS vid, COALESCE(w.new_label, v.label) AS label
  FROM l{k - 1} v LEFT JOIN (
    SELECT dst, l AS new_label FROM (
      SELECT e.dst AS dst, p.label AS l, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY e.dst
                                ORDER BY COUNT(*) DESC, p.label ASC) AS rk
      FROM l{k - 1} p JOIN e ON e.src = p.vid
      GROUP BY e.dst, p.label) t
    WHERE rk = 1) w ON w.dst = v.vid
)""")
    return (
        f"WITH {_USER_E_MAT},\n"
        "l0 AS (SELECT DISTINCT src AS vid, src AS label FROM e),"
        + ",".join(steps)
        + f"\nSELECT CAST(vid AS BIGINT) AS vid, CAST(label AS BIGINT) AS label FROM l{iters}"
    )


SQL_LABEL_PROPAGATION = _lpa_oracle_sql(LPA_ITERS)


def q_clustering_ari(spark, sf_dir):
    """Adjusted Rand Index between 5-round LPA communities and connected
    components on the user graph — pair-counting agreement, integer up to
    the final ratio; oracle recomputes BOTH clusterings (unrolled LPA +
    recursive-CTE CC) and the same algebra."""
    from linkgraph.algos.components import connected_components
    from linkgraph.algos.gstats import clustering_agreement
    from linkgraph.algos.labelprop import label_propagation

    g = user_graph(spark, sf_dir)
    lpa = label_propagation(g, max_iter=LPA_ITERS)
    cc = connected_components(g).select("vid", F.col("comp").alias("label"))
    return clustering_agreement(lpa, cc)


def _ari_oracle_sql(iters: int) -> str:
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
l{k} AS (
  SELECT v.vid AS vid, COALESCE(w.new_label, v.label) AS label
  FROM l{k - 1} v LEFT JOIN (
    SELECT dst, l AS new_label FROM (
      SELECT e.dst AS dst, p.label AS l, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY e.dst
                                ORDER BY COUNT(*) DESC, p.label ASC) AS rk
      FROM l{k - 1} p JOIN e ON e.src = p.vid
      GROUP BY e.dst, p.label) t
    WHERE rk = 1) w ON w.dst = v.vid
)""")
    chain = ",".join(steps)
    return f"""
WITH RECURSIVE {_USER_E_MAT},
l0 AS (SELECT DISTINCT src AS vid, src AS label FROM e),{chain},
verts AS (SELECT DISTINCT src AS v FROM e),
reach(v, u) AS (
  SELECT v, v FROM verts
  UNION
  SELECT reach.v, e.dst FROM reach JOIN e ON e.src = reach.u),
cc AS (SELECT v AS vid, MIN(u) AS label FROM reach GROUP BY v),
j AS (SELECT l.vid, l.label AS lx, c.label AS ly
      FROM l{iters} l JOIN cc c ON c.vid = l.vid),
cont AS (SELECT lx, ly, COUNT(*) AS nij FROM j GROUP BY lx, ly),
s AS (SELECT
    (SELECT COUNT(*) FROM j) AS n,
    (SELECT CAST(SUM(ni*(ni-1)//2) AS BIGINT) FROM
        (SELECT COUNT(*) AS ni FROM j GROUP BY lx)) AS ax,
    (SELECT CAST(SUM(nj*(nj-1)//2) AS BIGINT) FROM
        (SELECT COUNT(*) AS nj FROM j GROUP BY ly)) AS ay,
    (SELECT CAST(SUM(nij*(nij-1)//2) AS BIGINT) FROM cont) AS bt)
SELECT CAST(n AS BIGINT) AS n_items, ax AS pairs_x, ay AS pairs_y,
       bt AS pairs_both,
       CASE WHEN (ax + ay)/2.0 = ax*CAST(ay AS DOUBLE)/(n*(n-1)//2) THEN 1.0
            ELSE ROUND((bt - ax*CAST(ay AS DOUBLE)/(n*(n-1)//2))
                       / ((ax + ay)/2.0 - ax*CAST(ay AS DOUBLE)/(n*(n-1)//2)), 6)
       END AS ari
FROM s
"""


SQL_CLUSTERING_ARI = _ari_oracle_sql(LPA_ITERS)


def q_rollup_lineitem(spark, sf_dir):
    """A9 grouping-sets surface: ROLLUP over (returnflag, linestatus) with
    grouping level — the metrics-reporting shape (rollup(iter, part_id))."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("rf"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("ls"),
            "n_rows",
            "sum_qty",
        )
    )


SQL_ROLLUP_LINEITEM = """
SELECT COALESCE(l_returnflag, 'ALL') AS rf,
       COALESCE(l_linestatus, 'ALL') AS ls,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


def q_customers_without_urgent_orders(spark, sf_dir):
    """J3/U2 set-difference surface: left-anti join as the except operator.

    Customers with no URGENT-priority order (the name says exactly what the
    restriction is — round-3 ADVICE).  Subtracting only URGENT orders keeps
    the expected output non-empty at every sf (~200 rows at sf0.01) — a
    0-row anti-join proves nothing about the operator (the unrestricted
    form was vacuously green)."""
    from linkgraph.operators.setops import except_keys

    cust = _t(spark, sf_dir, "customer")
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return except_keys(cust, orders, "c_custkey").select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.col("c_name").alias("c_name"),
    )


SQL_CUSTOMERS_WITHOUT_URGENT_ORDERS = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name
FROM customer
WHERE c_custkey NOT IN (
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
"""


def q_event_props_hourly(spark, sf_dir):
    """§2.8 JSON + time-window surface: parse events.props with from_json,
    roll up to hourly tumbling windows (window(ts, '1 hour'))."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        F.window("ts", "1 hour").alias("w"),
        F.from_json(F.col("props"), "k INT")["k"].alias("k"),
    )
    return (
        parsed.groupBy(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour")
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").cast("int").alias("max_k"),
        )
    )


SQL_EVENT_PROPS_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
FROM events GROUP BY 1
"""


# --------------------------------------------------------------- training-data
def q_dedup_exact(spark, sf_dir):
    from linkgraph.textops.dedup import exact_duplicates

    return exact_duplicates(_t(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS n_dups,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id
FROM documents GROUP BY md5(text)
"""

_SQL_TOKENS = "regexp_extract_all(lower(text), '[a-z0-9]+')"
_SQL_STOP = "['the','a','an','and','or','of','to','in','is','it']"


def q_text_stats(spark, sf_dir):
    from linkgraph.textops.textstats import text_stats

    return text_stats(_t(spark, sf_dir, "documents"))


SQL_TEXT_STATS = f"""
WITH tok AS (
  SELECT doc_id, text, {_SQL_TOKENS} AS ts FROM documents),
m AS (
  SELECT doc_id,
         CAST(LENGTH(text) AS BIGINT) AS n_chars,
         CAST(len(ts) AS BIGINT) AS n_tokens,
         CAST(COALESCE(list_sum(list_transform(ts, x -> LENGTH(x))), 0) AS DOUBLE) AS tok_chars,
         CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) AS n_punct,
         CAST(len(list_filter(ts, x -> list_contains({_SQL_STOP}, x))) AS DOUBLE) AS n_stop
  FROM tok)
SELECT doc_id, n_chars, n_tokens,
  ROUND(CASE WHEN n_tokens > 0 THEN tok_chars / n_tokens ELSE 0.0 END, 4) AS avg_token_len,
  ROUND(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END, 4) AS punct_ratio,
  ROUND(CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END, 4) AS stopword_ratio,
  ROUND(
    (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 0.4 ELSE 0.0 END)
    + (CASE WHEN n_tokens > 0 AND tok_chars / n_tokens >= 3.0 AND tok_chars / n_tokens <= 12.0
            THEN 0.3 ELSE 0.0 END)
    + (CASE WHEN n_chars = 0 OR n_punct / n_chars <= 0.2 THEN 0.3 ELSE 0.0 END), 4) AS quality
FROM m
"""


def q_language_id(spark, sf_dir):
    from linkgraph.textops.textstats import language_id

    return language_id(_t(spark, sf_dir, "documents"))


SQL_LANGUAGE_ID = f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents),
m AS (SELECT doc_id, len(ts) AS nt,
             len(list_filter(ts, x -> list_contains({_SQL_STOP}, x))) AS en
      FROM tok)
SELECT doc_id,
  ROUND(CASE WHEN nt > 0 THEN CAST(en AS DOUBLE) / nt ELSE 0.0 END, 4) AS en_ratio,
  CASE WHEN nt > 0 AND CAST(en AS DOUBLE) / nt >= 0.05 THEN 'en' ELSE 'other' END AS lang_pred
FROM m
"""


def q_lang_agreement(spark, sf_dir):
    """Declared-vs-detected language confusion matrix: does the corpus's
    `lang` column agree with the stopword-heuristic detector?  The QA
    audit a multilingual ingest runs before trusting either label.
    Returns (lang, lang_pred, n_docs, share_of_lang) — share within the
    declared language.  Pure composition: language_id's per-doc verdict
    joined back on doc_id, one rollup."""
    from linkgraph.textops.textstats import language_id

    docs = _t(spark, sf_dir, "documents")
    pred = language_id(docs).select("doc_id", "lang_pred")
    cell = docs.select("doc_id", "lang").join(pred, "doc_id").groupBy(
        "lang", "lang_pred"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    tot = cell.groupBy("lang").agg(F.sum("n_docs").alias("n_lang"))
    return cell.join(tot, "lang").select(
        "lang",
        "lang_pred",
        "n_docs",
        F.round(F.col("n_docs") / F.col("n_lang"), 6).alias("share_of_lang"),
    )


SQL_LANG_AGREEMENT = f"""
WITH tok AS (SELECT doc_id, lang, {_SQL_TOKENS} AS ts FROM documents),
m AS (SELECT doc_id, lang, len(ts) AS nt,
             len(list_filter(ts, x -> list_contains({_SQL_STOP}, x))) AS en
      FROM tok),
p AS (SELECT lang,
             CASE WHEN nt > 0 AND CAST(en AS DOUBLE) / nt >= 0.05
                  THEN 'en' ELSE 'other' END AS lang_pred
      FROM m),
cell AS (SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM p GROUP BY 1, 2),
tot AS (SELECT lang, SUM(n_docs) AS n_lang FROM cell GROUP BY lang)
SELECT cell.lang, lang_pred, n_docs,
       ROUND(n_docs / CAST(n_lang AS DOUBLE), 6) AS share_of_lang
FROM cell JOIN tot ON tot.lang = cell.lang
"""


def q_token_totals(spark, sf_dir):
    from linkgraph.textops.textstats import token_count_total

    return token_count_total(_t(spark, sf_dir, "documents"))


SQL_TOKEN_TOTALS = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN LENGTH(TRIM(text)) > 0
                THEN len(regexp_split_to_array(TRIM(text), '\\s+'))
                ELSE 0 END) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+')))
            AS BIGINT) AS total_bpe_tokens,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
FROM documents
"""


def q_jaccard_pairs(spark, sf_dir):
    """Exact n-gram (word) Jaccard near-dup pairs, df-capped candidates."""
    from linkgraph.textops.dedup import word_jaccard_pairs

    return word_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.3, max_df=50
    ).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        "jac",
    )


SQL_JACCARD_PAIRS = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({_SQL_TOKENS})) AS w FROM documents),
capped AS (
  SELECT doc_id, w FROM tok
  WHERE w IN (SELECT w FROM tok GROUP BY w HAVING COUNT(*) <= 50)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM capped GROUP BY doc_id),
inter AS (
  SELECT t1.doc_id AS a, t2.doc_id AS b, COUNT(*) AS i
  FROM capped t1 JOIN capped t2 ON t1.w = t2.w AND t1.doc_id < t2.doc_id
  GROUP BY t1.doc_id, t2.doc_id)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jac
FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.3
"""


def q_ann_cosine_topk(spark, sf_dir):
    from linkgraph.textops.simsearch import cosine_topk

    return cosine_topk(_t(spark, sf_dir, "embeddings"), query_id=0, k=10)


SQL_ANN_COSINE_TOPK = """
WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id = 0),
d AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id <> 0)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       ROUND(list_dot_product(v, qv) /
             (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
FROM d, q ORDER BY sim DESC, vec_id ASC LIMIT 10
"""


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs: sign-bucket LSH blocking + exact
    double-cosine verify.  The fixture embeddings are i.i.d. (no planted
    dups — max all-pairs cosine ≈ 0.51), so the threshold sits at the top
    of the actual similarity distribution to keep the query non-vacuous
    (~135 pairs at sf0.01, ~2k at sf0.1)."""
    from linkgraph.textops.dedup import embedding_near_duplicates

    return embedding_near_duplicates(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, planes=4
    )


SQL_EMBEDDING_NEAR_DUP = """
WITH b AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         (CASE WHEN embedding[1] < 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] < 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] < 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] < 0 THEN 8 ELSE 0 END) AS bkt
  FROM embeddings
),
n AS (SELECT vec_id, v, bkt, sqrt(list_dot_product(v, v)) AS nrm FROM b)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       ROUND(list_dot_product(a.v, c.v) / (a.nrm * c.nrm), 6) AS cos
FROM n a JOIN n c ON a.bkt = c.bkt AND a.vec_id < c.vec_id
WHERE list_dot_product(a.v, c.v) / (a.nrm * c.nrm) >= 0.3
"""


def q_embedding_near_dup_banded(spark, sf_dir):
    """Banded random-hyperplane LSH near-dup — the PRODUCTION blocking
    (recall-amplified, per-bucket cost bounded by 2^r), vs the axis-aligned
    single-band variant above which exists for engine portability.

    The oracle is the UNBLOCKED all-pairs truth: random hyperplanes are not
    SQL-portable, but with b=64 bands x r=4 seeded planes the blocking
    achieves measured recall 1.0 on this fixture at sf0.001 and sf0.01
    (deterministic seed, so the equality is stable run to run), and
    precision is structurally 1.0 (exact in-place float64 verify).  Hash
    equality against the exact SQL therefore checks the verify arithmetic
    AND evidences full recall at oracle scale; production corpora trade b
    down / r up per the collision-probability bound in the operator doc."""
    from linkgraph.textops.dedup import embedding_near_duplicates_banded

    return embedding_near_duplicates_banded(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.3,
        bands=64,
        planes_per_band=4,
        seed=42,
    )


SQL_EMBEDDING_NEAR_DUP_BANDED = """
WITH b AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM b)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       ROUND(list_dot_product(a.v, c.v) / (a.nrm * c.nrm), 6) AS cos
FROM n a JOIN n c ON a.vec_id < c.vec_id
WHERE list_dot_product(a.v, c.v) / (a.nrm * c.nrm) >= 0.3
"""


def q_ivf_cosine_topk(spark, sf_dir):
    """IVF-ANN end-to-end: spherical-k-means coarse quantizer → inverted
    file (vec_id → centroid cell) → probe → exact cosine rerank.  Probing
    every cell (nprobe = n_centroids) makes the result provably identical
    to brute force, so the whole train/assign/probe pipeline is
    hash-gated against the DuckDB brute-force oracle; partial-probe
    recall is covered in tests/test_textops.py."""
    from linkgraph.textops.simsearch import build_ivf_index, ivf_knn

    emb = _t(spark, sf_dir, "embeddings")
    idx = build_ivf_index(emb, n_centroids=8, iters=3)
    out = ivf_knn(emb, query_id=1, index=idx, k=10, nprobe=8)
    # drop the cache handle: the returned plan recomputes deterministically
    idx.unpersist()
    return out


SQL_IVF_COSINE_TOPK = """
WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id = 1),
d AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id <> 1)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       ROUND(list_dot_product(v, qv) /
             (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS sim
FROM d, q ORDER BY sim DESC, vec_id ASC LIMIT 10
"""


def q_minhash_lsh(spark, sf_dir):
    """Full MinHash+LSH pipeline (signatures → banding → bucket self-join →
    exact-Jaccard verify) with the engine-portable md5 hash family, so every
    stage is hash-checked against DuckDB.  Production default stays xxhash64
    (same pipeline, faster hash; recall oracle in tests)."""
    from linkgraph.textops.dedup import minhash_near_duplicates

    return minhash_near_duplicates(
        _t(spark, sf_dir, "documents"),
        threshold=0.3,
        num_hashes=64,
        bands=16,
        hash_family="md5",
    ).select(
        F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b"), "jac"
    )


# portable token hash: identical in Spark (conv/substr/md5) and DuckDB
_SQL_H60 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"

# shared MinHash pair-pipeline CTE chain (signatures → banding → bucket
# self-join → exact-Jaccard verify); consumed by SQL_MINHASH_LSH and by the
# dedup_clusters oracle (which runs components over the same pair graph)
_SQL_MINHASH_CTES = f"""tok AS (
  SELECT doc_id, unnest(list_distinct({_SQL_TOKENS})) AS w FROM documents),
th AS (
  SELECT doc_id, s.seed,
         MIN({_SQL_H60.format(x="w || '#' || s.seed")}) AS mh
  FROM tok, (SELECT unnest(range(64)) AS seed) s
  GROUP BY doc_id, s.seed),
banded AS (
  SELECT doc_id, seed // 4 AS band,
         string_agg(mh::VARCHAR, '_' ORDER BY seed) AS bucket
  FROM th GROUP BY doc_id, seed // 4),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket
  WHERE x.doc_id < y.doc_id),
tok2 AS (
  SELECT doc_id, unnest(list_distinct({_SQL_TOKENS})) AS w FROM documents),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok2 GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, COUNT(*) AS i
  FROM cand c JOIN tok2 ta ON ta.doc_id = c.a JOIN tok2 tb
    ON tb.doc_id = c.b AND tb.w = ta.w
  GROUP BY c.a, c.b),
jac AS (
  SELECT c.a, c.b,
         ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE)
               / (sa.sz + sb.sz - COALESCE(i.i, 0)), 6) AS jac
  FROM cand c LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
  JOIN sizes sa ON sa.doc_id = c.a JOIN sizes sb ON sb.doc_id = c.b)"""

SQL_MINHASH_LSH = f"""
WITH {_SQL_MINHASH_CTES}
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, jac
FROM jac WHERE jac >= 0.3
"""


def q_simhash(spark, sf_dir):
    """60-bit portable SimHash (md5 family, pure JVM expressions) —
    hash-checked against DuckDB bit-by-bit.  The 64-bit xxhash64 Arrow
    kernel stays the production default (determinism + hamming-locality
    oracles in tests)."""
    from linkgraph.textops.dedup import simhash_portable

    return simhash_portable(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"), "simhash"
    )


def _simhash_oracle_sql() -> str:
    bits_cnt = ",\n       ".join(f"SUM((h >> {j}) & 1) AS c{j}" for j in range(60))
    pack = "\n     + ".join(
        f"(CASE WHEN 2*c{j} > n THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END)"
        for j in range(60)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({_SQL_TOKENS})) AS w FROM documents),
th AS (SELECT doc_id, {_SQL_H60.format(x="w")} AS h FROM tok),
cnt AS (SELECT doc_id, COUNT(*) AS n,
       {bits_cnt}
       FROM th GROUP BY doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST({pack} AS BIGINT) AS simhash FROM cnt
"""


SQL_SIMHASH = _simhash_oracle_sql()


def q_fingerprint(spark, sf_dir):
    """Winnowing fingerprint (rolling poly-hash mod 2^64, window 16) —
    hash-checked against a DuckDB HUGEINT fold oracle.  The oracle reads
    bytes via ord(); the documents fixture is ASCII so codepoint == utf-8
    byte (the Spark kernel hashes utf-8 bytes)."""
    from linkgraph.textops.textstats import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"))


SQL_FINGERPRINT = """
WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
wins AS (
  SELECT doc_id, text, LEAST(len, 16) AS w,
         unnest(range(0, GREATEST(len - LEAST(len, 16) + 1, 0))) AS a
  FROM d WHERE len > 0),
hashes AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS HUGEINT),
             list_transform(range(a + 1, a + w + 1),
                            i -> CAST(ord(substr(text, i, 1)) AS HUGEINT))),
           (acc, b) -> (acc * 1000003 + b) % CAST('18446744073709551616' AS HUGEINT)
         ) AS h
  FROM wins),
mins AS (SELECT doc_id, MIN(h) AS m FROM hashes GROUP BY doc_id)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(CASE WHEN m IS NULL THEN 0
                 WHEN m >= CAST('9223372036854775808' AS HUGEINT)
                   THEN m - CAST('18446744073709551616' AS HUGEINT)
                 ELSE m END AS BIGINT) AS fp
FROM d LEFT JOIN mins ON mins.doc_id = d.doc_id
"""


def q_text_integrity(spark, sf_dir):
    """Per-row sha256 audit of the text column (end-to-end text equality)."""
    return (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("doc_id"), F.sha2(F.col("text"), 256).alias("sha"))
    )


SQL_TEXT_INTEGRITY = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, sha256(text) AS sha FROM documents
"""


# --------------------------------------------------- round-4 analytics widening
LINKPRED_HUB_CAP = 150  # non-vacuous at sf0.01 (degrees 42-206, median 115)
LINKPRED_TOPK = 100


def q_link_prediction(spark, sf_dir):
    """Common-neighbor / Adamic-Adar link prediction, hub-capped wedge
    enumeration, top-100 non-adjacent pairs by rounded score."""
    from linkgraph.algos.linkpred import link_prediction

    g = copurchase_graph(spark, sf_dir)
    return link_prediction(
        g, hub_cap=LINKPRED_HUB_CAP, min_cn=1, topk=LINKPRED_TOPK
    )


SQL_LINK_PREDICTION = f"""
WITH {_COPURCHASE_E},
d AS MATERIALIZED (SELECT src AS z, COUNT(*) AS deg FROM e GROUP BY src),
zw AS MATERIALIZED (
  SELECT z, 1.0 / LN(deg) AS w FROM d WHERE deg >= 2 AND deg <= {LINKPRED_HUB_CAP}),
wed AS MATERIALIZED (
  SELECT e1.dst AS u, e2.dst AS v, COUNT(*) AS cn, ROUND(SUM(zw.w), 6) AS aa
  FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
  JOIN zw ON zw.z = e1.src
  GROUP BY e1.dst, e2.dst)
SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
       CAST(cn AS BIGINT) AS cn, aa
FROM wed w
WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = w.u AND e.dst = w.v)
ORDER BY aa DESC, cn DESC, u ASC, v ASC LIMIT {LINKPRED_TOPK}
"""


def q_vertex_similarity(spark, sf_dir):
    """Common-neighbor cosine/Jaccard vertex similarity (Salton index),
    hub-capped wedge enumeration, top-100 pairs by rounded cosine."""
    from linkgraph.algos.linkpred import vertex_similarity

    g = copurchase_graph(spark, sf_dir)
    return vertex_similarity(
        g, hub_cap=LINKPRED_HUB_CAP, min_cn=2, topk=LINKPRED_TOPK
    )


SQL_VERTEX_SIMILARITY = f"""
WITH {_COPURCHASE_E},
d AS MATERIALIZED (SELECT src AS vid, COUNT(*) AS deg FROM e GROUP BY src),
c AS MATERIALIZED (SELECT vid FROM d WHERE deg >= 2 AND deg <= {LINKPRED_HUB_CAP}),
wed AS MATERIALIZED (
  SELECT e1.dst AS u, e2.dst AS v, COUNT(*) AS cn
  FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
  JOIN c ON c.vid = e1.src
  GROUP BY e1.dst, e2.dst
  HAVING COUNT(*) >= 2)
SELECT CAST(w.u AS BIGINT) AS u, CAST(w.v AS BIGINT) AS v,
       CAST(w.cn AS BIGINT) AS cn,
       ROUND(w.cn / SQRT(CAST(du.deg AS DOUBLE) * dv.deg), 6) AS cosine,
       ROUND(CAST(w.cn AS DOUBLE) / (du.deg + dv.deg - w.cn), 6) AS jaccard
FROM wed w JOIN d du ON du.vid = w.u JOIN d dv ON dv.vid = w.v
ORDER BY cosine DESC, cn DESC, u ASC, v ASC LIMIT {LINKPRED_TOPK}
"""


def q_graph_stats(spark, sf_dir):
    """Whole-graph summary: |V|, |E|, mean/max degree, assortativity."""
    from linkgraph.algos.gstats import graph_stats

    return graph_stats(copurchase_graph(spark, sf_dir))


SQL_GRAPH_STATS = f"""
WITH {_COPURCHASE_E},
d AS MATERIALIZED (SELECT src AS vid, COUNT(*) AS deg FROM e GROUP BY src),
ed AS MATERIALIZED (
  SELECT CAST(ds.deg AS DOUBLE) AS dx, CAST(dd.deg AS DOUBLE) AS dy
  FROM e JOIN d ds ON ds.vid = e.src JOIN d dd ON dd.vid = e.dst),
mo AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS m, SUM(dx) AS sx, SUM(dx*dx) AS sxx,
         SUM(dy) AS sy, SUM(dy*dy) AS syy, SUM(dx*dy) AS sxy
  FROM ed)
SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_vertices,
       CAST(m AS BIGINT) AS n_edges,
       ROUND(m / (SELECT COUNT(*) FROM d), 6) AS avg_deg,
       CAST((SELECT MAX(deg) FROM d) AS BIGINT) AS max_deg,
       ROUND((m*sxy - sx*sy) / SQRT((m*sxx - sx*sx) * (m*syy - sy*sy)), 6)
         AS assortativity
FROM mo
"""


HITS_ROUNDS = 8


def q_hits(spark, sf_dir):
    """HITS hubs/authorities on the ORIENTED (src < dst) co-purchase
    graph — orientation makes hub and authority genuinely distinct (on a
    symmetric graph both collapse to eigenvector centrality)."""
    from linkgraph.algos.hits import hits

    g = copurchase_graph(spark, sf_dir)
    oriented = LinkGraph(
        g.edges.where(F.col("src") < F.col("dst")).select("src", "dst"),
        materialize=False,
    )
    out = hits(oriented, rounds=HITS_ROUNDS).localCheckpoint(eager=True)
    oriented.unpersist()
    return out


def _hits_oracle_sql(rounds: int) -> str:
    parts = [
        "ed AS MATERIALIZED (SELECT src, dst FROM e WHERE src < dst)",
        "v AS MATERIALIZED (SELECT DISTINCT vid FROM "
        "(SELECT src AS vid FROM ed UNION ALL SELECT dst AS vid FROM ed))",
        "h0 AS MATERIALIZED (SELECT vid, 1.0 / SQRT((SELECT COUNT(*) FROM v)) AS x FROM v)",
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""ra{i} AS MATERIALIZED (
  SELECT v.vid, COALESCE(s.acc, 0) AS x FROM v LEFT JOIN (
    SELECT ed.dst AS vid, SUM(h.x) AS acc FROM ed JOIN h{i - 1} h ON h.vid = ed.src
    GROUP BY ed.dst) s USING (vid))""")
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT vid, x / SQRT((SELECT SUM(x*x) FROM ra{i})) AS x FROM ra{i})"
        )
        parts.append(f"""rh{i} AS MATERIALIZED (
  SELECT v.vid, COALESCE(s.acc, 0) AS x FROM v LEFT JOIN (
    SELECT ed.src AS vid, SUM(a.x) AS acc FROM ed JOIN a{i} a ON a.vid = ed.dst
    GROUP BY ed.src) s USING (vid))""")
        parts.append(
            f"h{i} AS MATERIALIZED (SELECT vid, x / SQRT((SELECT SUM(x*x) FROM rh{i})) AS x FROM rh{i})"
        )
    return (
        f"WITH {_COPURCHASE_E},"
        + ",".join(parts)
        + f"""
SELECT CAST(v.vid AS BIGINT) AS vid, ROUND(h.x, 6) AS hub, ROUND(a.x, 6) AS auth
FROM v JOIN h{rounds} h USING (vid) JOIN a{rounds} a USING (vid)"""
    )


SQL_HITS = _hits_oracle_sql(HITS_ROUNDS)


SSSP_ROUNDS = 6  # >= measured convergence depth at sf0.01 (4 rounds)
# integer inverse-strength cost: rare co-occurrence = expensive edge, so
# shortest paths genuinely trade hop count against tie strength
_SSSP_COST = "(100 + w - 1)"


def q_sssp(spark, sf_dir):
    """Weighted shortest paths (frontier Bellman-Ford) over the
    co-purchase graph with integer inverse-strength costs."""
    from linkgraph.algos.sssp import sssp

    ew = derive.copurchase_weighted_edges(_t(spark, sf_dir, "lineitem")).select(
        "src", "dst", F.expr("CAST((100 + w - 1) DIV w AS BIGINT)").alias("w")
    )
    g = LinkGraph(ew, symmetric=True)
    seeds = [
        r[0]
        for r in _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("s"))
        .distinct()
        .orderBy("s")
        .limit(4)
        .collect()
    ]
    out = sssp(g, seeds, rounds=SSSP_ROUNDS).localCheckpoint(eager=True)
    g.unpersist()
    return out


def _sssp_oracle_sql(rounds: int) -> str:
    parts = [
        """ew AS MATERIALIZED (
  SELECT src, dst, (100 + w - 1) // w AS w FROM (
    SELECT a.p AS src, b.p AS dst, COUNT(*) AS w
    FROM pk a JOIN pk b ON a.k = b.k AND a.p <> b.p
    GROUP BY a.p, b.p))""",
        "seeds AS MATERIALIZED (SELECT DISTINCT l_partkey AS s FROM lineitem ORDER BY s ASC LIMIT 4)",
        "d0 AS MATERIALIZED (SELECT s AS vid, CAST(0 AS BIGINT) AS dist FROM seeds)",
        "f0 AS MATERIALIZED (SELECT vid, dist FROM d0)",
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""c{i} AS MATERIALIZED (
  SELECT ew.dst AS vid, MIN(f.dist + ew.w) AS nd
  FROM ew JOIN f{i - 1} f ON f.vid = ew.src GROUP BY ew.dst)""")
        parts.append(f"""m{i} AS MATERIALIZED (
  SELECT COALESCE(d.vid, c.vid) AS vid,
         LEAST(COALESCE(d.dist, c.nd), COALESCE(c.nd, d.dist)) AS dist,
         (d.dist IS NULL OR c.nd < d.dist) AS improved
  FROM d{i - 1} d FULL OUTER JOIN c{i} c ON d.vid = c.vid)""")
        parts.append(f"d{i} AS MATERIALIZED (SELECT vid, dist FROM m{i})")
        parts.append(f"f{i} AS MATERIALIZED (SELECT vid, dist FROM m{i} WHERE improved)")
    return (
        f"WITH {_COPURCHASE_E},"
        + ",".join(parts)
        + f"""
SELECT CAST(vid AS BIGINT) AS vid, CAST(dist AS BIGINT) AS dist FROM d{rounds}"""
    )


SQL_SSSP = _sssp_oracle_sql(SSSP_ROUNDS)


WALKS_PER_SEED = 4
WALK_LEN = 6
WALK_SEED = 42


def q_random_walks(spark, sf_dir):
    """Deterministic DeepWalk-style random-walk corpus: the hash-argmin
    step choice makes the WALKS THEMSELVES hash-checkable against the
    DuckDB mirror."""
    from linkgraph.operators.walks import random_walks

    g = copurchase_graph(spark, sf_dir)
    seeds = [
        r[0]
        for r in _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("s"))
        .distinct()
        .orderBy("s")
        .limit(8)
        .collect()
    ]
    return random_walks(
        g, seeds, walk_len=WALK_LEN, walks_per_seed=WALKS_PER_SEED, seed=WALK_SEED
    )


def _walks_oracle_sql(walk_len: int, walks_per_seed: int, seed: int) -> str:
    parts = [
        "seeds AS MATERIALIZED (" + _bfs_sources_sql() + ")",
        f"""w0 AS MATERIALIZED (
  SELECT s AS seed, gs.w AS walk, s AS vid FROM seeds
  CROSS JOIN (SELECT UNNEST(range({walks_per_seed})) AS w) gs)""",
    ]
    for i in range(1, walk_len + 1):
        parts.append(f"""w{i} AS MATERIALIZED (
  SELECT seed, walk, dst AS vid FROM (
    SELECT c.seed, c.walk, e.dst,
           ROW_NUMBER() OVER (PARTITION BY c.seed, c.walk ORDER BY
             CAST('0x' || substr(md5(e.src || ':' || e.dst || ':' || c.walk || ':{seed}:{i}'), 1, 15) AS BIGINT) ASC,
             e.dst ASC) AS rk
    FROM e JOIN w{i - 1} c ON c.vid = e.src) t
  WHERE rk = 1)""")
    union = " UNION ALL ".join(
        f"SELECT seed, walk, {i} AS step, vid FROM w{i}" for i in range(walk_len + 1)
    )
    return (
        f"WITH {_COPURCHASE_E},"
        + ",".join(parts)
        + f"""
SELECT CAST(seed AS BIGINT) AS seed, CAST(walk AS BIGINT) AS walk,
       CAST(step AS INT) AS step, CAST(vid AS BIGINT) AS vid
FROM ({union})"""
    )


SQL_RANDOM_WALKS = _walks_oracle_sql(WALK_LEN, WALKS_PER_SEED, WALK_SEED)


N2V_P = 0.25  # return-biased: weights (w_ret, w_tri, w_out) = (16, 4, 1)
N2V_Q = 4.0


def q_node2vec_walks(spark, sf_dir):
    """node2vec p/q-biased walk corpus: integer-copy hash-argmin races make
    the BIASED walks themselves hash-checkable against the DuckDB mirror
    (same determinism argument as random_walks; the copy counts realize
    the 1/p : 1 : 1/q class weights exactly, no float sampling)."""
    from linkgraph.operators.walks import node2vec_walks

    g = copurchase_graph(spark, sf_dir)
    seeds = [
        r[0]
        for r in _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("s"))
        .distinct()
        .orderBy("s")
        .limit(8)
        .collect()
    ]
    return node2vec_walks(
        g,
        seeds,
        walk_len=WALK_LEN,
        p=N2V_P,
        q=N2V_Q,
        walks_per_seed=WALKS_PER_SEED,
        seed=WALK_SEED,
    )


def _node2vec_oracle_sql(
    walk_len: int, walks_per_seed: int, seed: int, p: float, q: float
) -> str:
    from linkgraph.operators.walks import _biased_weights

    w_ret, w_tri, w_out = _biased_weights(p, q)

    def lk(step: int, copies: int) -> str:
        hs = [
            "CAST('0x' || substr(md5(src || ':' || dst || ':' || walk || "
            f"':{seed}:{step}:{c}'), 1, 15) AS BIGINT)"
            for c in range(copies)
        ]
        return hs[0] if len(hs) == 1 else "LEAST(" + ", ".join(hs) + ")"

    parts = [
        "seeds AS MATERIALIZED (" + _bfs_sources_sql() + ")",
        f"""w0 AS MATERIALIZED (
  SELECT s AS seed, gs.w AS walk, s AS vid FROM seeds
  CROSS JOIN (SELECT UNNEST(range({walks_per_seed})) AS w) gs)""",
        f"""w1 AS MATERIALIZED (
  SELECT seed, walk, src AS prev, dst AS vid FROM (
    SELECT c.*, ROW_NUMBER() OVER (PARTITION BY seed, walk ORDER BY
             {lk(1, 1)} ASC, dst ASC) AS rk
    FROM (SELECT p.seed, p.walk, e.src, e.dst
          FROM e JOIN w0 p ON p.vid = e.src) c) x
  WHERE rk = 1)""",
    ]
    for i in range(2, walk_len + 1):
        key = (
            f"CASE WHEN dst = prev THEN {lk(i, w_ret)} "
            f"WHEN istri THEN {lk(i, w_tri)} "
            f"ELSE {lk(i, w_out)} END"
        )
        parts.append(f"""w{i} AS MATERIALIZED (
  SELECT seed, walk, src AS prev, dst AS vid FROM (
    SELECT c.*, ROW_NUMBER() OVER (PARTITION BY seed, walk ORDER BY
             {key} ASC, dst ASC) AS rk
    FROM (SELECT p.seed, p.walk, p.prev, e.src, e.dst,
                 (t.src IS NOT NULL) AS istri
          FROM e JOIN w{i - 1} p ON p.vid = e.src
          LEFT JOIN e t ON t.src = p.prev AND t.dst = e.dst) c) x
  WHERE rk = 1)""")
    union = " UNION ALL ".join(
        ["SELECT seed, walk, 0 AS step, vid FROM w0"]
        + [f"SELECT seed, walk, {i} AS step, vid FROM w{i}" for i in range(1, walk_len + 1)]
    )
    return (
        f"WITH {_COPURCHASE_E},"
        + ",".join(parts)
        + f"""
SELECT CAST(seed AS BIGINT) AS seed, CAST(walk AS BIGINT) AS walk,
       CAST(step AS INT) AS step, CAST(vid AS BIGINT) AS vid
FROM ({union})"""
    )


SQL_NODE2VEC_WALKS = _node2vec_oracle_sql(
    WALK_LEN, WALKS_PER_SEED, WALK_SEED, N2V_P, N2V_Q
)


def q_clustering_coeff(spark, sf_dir):
    """Per-vertex local clustering coefficient over the co-purchase graph:
    lcc(v) = 2·tri(v)/(deg(v)·(deg(v)−1)).  Triangle counts are
    orientation-invariant, so the degree-ordered Spark plan and the plain
    src<dst oracle enumeration agree exactly."""
    from linkgraph.algos.triangles import clustering_coefficients

    g = copurchase_graph(spark, sf_dir)
    out = clustering_coefficients(g, by_degree=True)
    return out.select("vid", "deg", "tri", F.round("lcc", 6).alias("lcc"))


SQL_CLUSTERING_COEFF = f"""
WITH {_COPURCHASE_E},
d AS MATERIALIZED (SELECT src AS vid, COUNT(*) AS deg FROM e GROUP BY src),
ot AS MATERIALIZED (SELECT src AS a, dst AS b FROM e WHERE src < dst),
tr AS MATERIALIZED (
  SELECT t1.a, t1.b, t2.b AS c
  FROM ot t1 JOIN ot t2 ON t2.a = t1.b
  JOIN ot t3 ON t3.a = t1.a AND t3.b = t2.b),
tpv AS MATERIALIZED (
  SELECT vid, COUNT(*) AS tri FROM (
    SELECT a AS vid FROM tr
    UNION ALL SELECT b FROM tr
    UNION ALL SELECT c FROM tr)
  GROUP BY vid)
SELECT CAST(d.vid AS BIGINT) AS vid, CAST(d.deg AS BIGINT) AS deg,
       CAST(COALESCE(t.tri, 0) AS BIGINT) AS tri,
       ROUND(CASE WHEN d.deg >= 2
                  THEN 2.0 * COALESCE(t.tri, 0) / (d.deg * (d.deg - 1))
                  ELSE 0.0 END, 6) AS lcc
FROM d LEFT JOIN tpv t USING (vid)
"""


PRW_ITERS = 10


def q_pagerank_weighted(spark, sf_dir):
    """Fixed-budget WEIGHTED PageRank over the weighted co-purchase graph
    (edge weight = co-occurrence count; rank flows ∝ w/strength).  Same
    recursive-CTE mirror + round-9 determinism argument as `pagerank`."""
    from linkgraph.algos.pagerank import pagerank

    ew = derive.copurchase_weighted_edges(_t(spark, sf_dir, "lineitem"))
    g = LinkGraph(ew, symmetric=True)
    pr = pagerank(g, tol=0, max_iter=PRW_ITERS, weight_col="w").localCheckpoint(
        eager=True
    )
    g.unpersist()
    return pr.select(
        F.col("vid").cast("long").alias("vid"), F.round("pr", 9).alias("pr")
    )


SQL_PAGERANK_WEIGHTED = f"""
WITH RECURSIVE pk AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
ew AS MATERIALIZED (
  SELECT a.p AS src, b.p AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM pk a JOIN pk b ON a.k = b.k AND a.p <> b.p
  GROUP BY a.p, b.p),
st AS MATERIALIZED (SELECT src AS vid, SUM(w) AS s FROM ew GROUP BY src),
nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM st),
pr(it, vid, pr) AS (
  SELECT 0, vid, 1.0/(SELECT n FROM nv) FROM st
  UNION ALL
  SELECT p.it + 1, ew.dst,
         (1.0 - 0.85)/(SELECT n FROM nv) + 0.85*SUM(p.pr * ew.w / st.s)
  FROM pr p JOIN st ON st.vid = p.vid JOIN ew ON ew.src = p.vid
  WHERE p.it < {PRW_ITERS}
  GROUP BY p.it + 1, ew.dst
)
SELECT CAST(vid AS BIGINT) AS vid, ROUND(pr, 9) AS pr FROM pr WHERE it = {PRW_ITERS}
"""


KTRUSS_K = 12
KTRUSS_ROUNDS = 6  # measured fixpoint at 5 rounds on sf0.01; +1 identity round


def q_k_truss(spark, sf_dir):
    """k-truss of the co-purchase graph (k=12): edges in ≥10 triangles
    within the surviving subgraph, peeled for a fixed SQL-mirrorable
    round budget (fixpoint at 5 rounds on the driver SF, 1127 edges)."""
    from linkgraph.algos.ktruss import k_truss

    g = copurchase_graph(spark, sf_dir)
    return k_truss(g, KTRUSS_K, rounds=KTRUSS_ROUNDS)


def _ktruss_oracle_sql(k: int, rounds: int) -> str:
    parts = ["t0 AS MATERIALIZED (SELECT src, dst FROM e WHERE src < dst)"]
    for i in range(1, rounds + 1):
        parts.append(f"""tr{i} AS MATERIALIZED (
  SELECT t1.src AS a, t1.dst AS b, t2.dst AS c
  FROM t{i - 1} t1 JOIN t{i - 1} t2 ON t2.src = t1.dst
  JOIN t{i - 1} t3 ON t3.src = t1.src AND t3.dst = t2.dst)""")
        parts.append(f"""s{i} AS MATERIALIZED (
  SELECT t.src, t.dst, COALESCE(c.cnt, 0) AS sup
  FROM t{i - 1} t LEFT JOIN (
    SELECT u, v, COUNT(*) AS cnt FROM (
      SELECT a AS u, b AS v FROM tr{i}
      UNION ALL SELECT b, c FROM tr{i}
      UNION ALL SELECT a, c FROM tr{i}) x
    GROUP BY u, v) c ON c.u = t.src AND c.v = t.dst)""")
        parts.append(
            f"t{i} AS MATERIALIZED (SELECT src, dst FROM s{i} WHERE sup >= {k - 2})"
        )
    return (
        f"WITH {_COPURCHASE_E},"
        + ",".join(parts)
        + f"""
SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
       CAST(sup AS BIGINT) AS support
FROM s{rounds} WHERE sup >= {k - 2}"""
    )


SQL_K_TRUSS = _ktruss_oracle_sql(KTRUSS_K, KTRUSS_ROUNDS)


TFIDF_K = 5


def q_tfidf(spark, sf_dir):
    """Top-5 TF-IDF terms per document (shared TOKEN_RE tokenization,
    rounded-score rank so the top-k frontier is engine-portable)."""
    from linkgraph.textops.textstats import tfidf_topk

    return tfidf_topk(_t(spark, sf_dir, "documents"), k=TFIDF_K)


SQL_TFIDF = f"""
WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
tf AS MATERIALIZED (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
dfq AS MATERIALIZED (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
sc AS (SELECT doc_id, term, tf,
              ROUND(tf * LN((SELECT n FROM nd) / df), 6) AS score
       FROM tf JOIN dfq USING (term))
SELECT CAST(doc_id AS BIGINT) AS doc_id, term, CAST(tf AS BIGINT) AS tf, score
FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk FROM sc)
WHERE rk <= {TFIDF_K}
"""


POWERLAW_DMIN = 96  # mid-tail cut at sf0.01 (copurchase degrees 42-206)


def q_degree_hist(spark, sf_dir):
    """Log2-bucketed degree histogram of the co-purchase graph."""
    from linkgraph.algos.gstats import degree_histogram

    return degree_histogram(copurchase_graph(spark, sf_dir))


SQL_DEGREE_HIST = f"""
WITH {_COPURCHASE_E},
d AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src)
SELECT CAST(FLOOR(LOG2(deg)) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_vertices,
       CAST(MIN(deg) AS BIGINT) AS min_deg,
       CAST(MAX(deg) AS BIGINT) AS max_deg
FROM d GROUP BY bucket
"""


def q_powerlaw_alpha(spark, sf_dir):
    """Clauset-Shalizi-Newman power-law exponent MLE over the degree tail."""
    from linkgraph.algos.gstats import powerlaw_alpha

    return powerlaw_alpha(copurchase_graph(spark, sf_dir), dmin=POWERLAW_DMIN)


SQL_POWERLAW_ALPHA = f"""
WITH {_COPURCHASE_E},
d AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src)
SELECT CAST({POWERLAW_DMIN} AS BIGINT) AS dmin,
       CAST(COUNT(*) AS BIGINT) AS n_tail,
       ROUND(1.0 + COUNT(*) / SUM(LN(deg / ({POWERLAW_DMIN} - 0.5))), 6) AS alpha
FROM d WHERE deg >= {POWERLAW_DMIN}
"""


MST_ROUNDS = 3  # sf0.01 copurchase converges in 2; +1 margin, oracle-mirrored
MST_CC_STEPS = 6  # inner merge-CC doubling steps in the unrolled oracle


def q_mst(spark, sf_dir):
    """Boruvka minimum spanning forest over the weighted co-purchase
    graph, fixed-round budget mode (strict (w,u,v) edge order makes the
    forest unique and hash-comparable — no float arithmetic)."""
    from linkgraph.algos.mst import minimum_spanning_forest

    return minimum_spanning_forest(
        derive.copurchase_weighted_edges(_t(spark, sf_dir, "lineitem")),
        rounds=MST_ROUNDS,
    )


def _mst_oracle_sql(rounds: int, dbl: int) -> str:
    parts = [
        """pk AS MATERIALIZED (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem)""",
        """ew AS MATERIALIZED (
  SELECT a.p AS src, b.p AS dst, COUNT(*) AS w
  FROM pk a JOIN pk b ON a.k = b.k AND a.p <> b.p GROUP BY a.p, b.p)""",
        "cmp0 AS MATERIALIZED (SELECT DISTINCT src AS vid, src AS comp FROM ew)",
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""x{i} AS MATERIALIZED (
  SELECT c1.comp AS csrc, c2.comp AS cdst, ew.w,
         LEAST(ew.src, ew.dst) AS u, GREATEST(ew.src, ew.dst) AS v
  FROM ew JOIN cmp{i - 1} c1 ON c1.vid = ew.src
          JOIN cmp{i - 1} c2 ON c2.vid = ew.dst
  WHERE c1.comp <> c2.comp)""")
        parts.append(f"""p{i} AS MATERIALIZED (
  SELECT csrc, w, u, v, cdst FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY csrc ORDER BY w, u, v) AS rk
    FROM x{i}) WHERE rk = 1)""")
        parts.append(
            f"g{i} AS MATERIALIZED (SELECT csrc AS a, cdst AS b FROM p{i} "
            f"UNION SELECT cdst, csrc FROM p{i})"
        )
        parts.append(
            f"l{i}_0 AS MATERIALIZED (SELECT DISTINCT a AS vid, a AS lab FROM g{i})"
        )
        for k in range(1, dbl + 1):
            parts.append(f"""n{i}_{k} AS MATERIALIZED (
  SELECT g.a AS vid, MIN(l.lab) AS nl
  FROM g{i} g JOIN l{i}_{k - 1} l ON l.vid = g.b GROUP BY g.a)""")
            parts.append(f"""s{i}_{k} AS MATERIALIZED (
  SELECT l.vid, LEAST(l.lab, COALESCE(n.nl, l.lab)) AS lab
  FROM l{i}_{k - 1} l LEFT JOIN n{i}_{k} n ON n.vid = l.vid)""")
            parts.append(f"""l{i}_{k} AS MATERIALIZED (
  SELECT s1.vid, LEAST(s1.lab, COALESCE(s2.lab, s1.lab)) AS lab
  FROM s{i}_{k} s1 LEFT JOIN s{i}_{k} s2 ON s2.vid = s1.lab)""")
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT vid AS comp, lab AS nc FROM l{i}_{dbl})"
        )
        parts.append(f"""cmp{i} AS MATERIALIZED (
  SELECT c.vid, COALESCE(m.nc, c.comp) AS comp
  FROM cmp{i - 1} c LEFT JOIN m{i} m ON m.comp = c.comp)""")
    union = " UNION ".join(f"SELECT u, v, w FROM p{i}" for i in range(1, rounds + 1))
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v, CAST(w AS BIGINT) AS w
FROM ({union})"""
    )


SQL_MST = _mst_oracle_sql(MST_ROUNDS, MST_CC_STEPS)


CONDUCTANCE_BUCKETS = 8


def q_partition_conductance(spark, sf_dir):
    """Conductance of an 8-way hash partition of the co-purchase graph —
    the shuffle-cost score of the default vid % k partitioner."""
    from linkgraph.algos.gstats import partition_conductance

    # copurchase_edges is its own transpose by construction
    g = LinkGraph(
        derive.copurchase_edges(_t(spark, sf_dir, "lineitem")), symmetric=True
    )
    labels = g.vertices().select(
        "vid", (F.col("vid") % CONDUCTANCE_BUCKETS).alias("label")
    )
    return partition_conductance(g, labels)


SQL_PARTITION_CONDUCTANCE = f"""
WITH {_COPURCHASE_E},
d AS MATERIALIZED (SELECT src AS vid, COUNT(*) AS deg FROM e GROUP BY src),
lab AS MATERIALIZED (SELECT vid, vid % {CONDUCTANCE_BUCKETS} AS label FROM d),
m2 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM e),
cut AS MATERIALIZED (
  SELECT ls.label AS label, COUNT(*) AS cut
  FROM e JOIN lab ls ON ls.vid = e.src JOIN lab ld ON ld.vid = e.dst
  WHERE ls.label <> ld.label GROUP BY ls.label),
vol AS MATERIALIZED (
  SELECT label, COUNT(*) AS n_vertices, SUM(deg) AS vol
  FROM d JOIN lab USING (vid) GROUP BY label)
SELECT CAST(label AS BIGINT) AS label, CAST(n_vertices AS BIGINT) AS n_vertices,
       CAST(vol AS BIGINT) AS vol, CAST(COALESCE(cut.cut, 0) AS BIGINT) AS cut,
       ROUND(COALESCE(cut.cut, 0) / (CASE
         WHEN LEAST(CAST(vol AS DOUBLE), (SELECT m FROM m2) - vol) > 0
         THEN LEAST(CAST(vol AS DOUBLE), (SELECT m FROM m2) - vol) END), 6)
         AS conductance
FROM vol LEFT JOIN cut USING (label)
"""


def q_activity_profile(spark, sf_dir):
    """Per-user behavioral profile (one aggregate, no window/self-join)."""
    from linkgraph.operators.events import activity_profile

    return activity_profile(_t(spark, sf_dir, "events"))


SQL_ACTIVITY_PROFILE = """
WITH e AS (
  SELECT user_id, event_type, value,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep
  FROM events)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(MAX(ep) - MIN(ep) AS BIGINT) AS span_s,
       ROUND((MAX(ep) - MIN(ep)) / (CASE WHEN COUNT(*) > 1
             THEN CAST(COUNT(*) - 1 AS DOUBLE) END), 6) AS mean_gap_s,
       ROUND(SUM(value), 6) AS total_value
FROM e GROUP BY user_id
"""


def q_transition_entropy(spark, sf_dir):
    """Per-state Shannon entropy of the event-type transition matrix."""
    from linkgraph.operators.events import transition_entropy

    return transition_entropy(_t(spark, sf_dir, "events"))


SQL_TRANSITION_ENTROPY = """
WITH o AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
           AS next_type
  FROM events),
t AS (
  SELECT event_type AS src_type, next_type AS dst_type, COUNT(*) AS cnt
  FROM o WHERE next_type IS NOT NULL GROUP BY event_type, next_type)
SELECT src_type, CAST(SUM(cnt) AS BIGINT) AS n_out,
       CAST(COUNT(*) AS BIGINT) AS n_dst,
       ROUND(LN(CAST(SUM(cnt) AS DOUBLE))
             - SUM(cnt * LN(cnt)) / SUM(cnt), 6) AS entropy
FROM t GROUP BY src_type
"""


CONTAINMENT_T = 0.8


def q_containment(spark, sf_dir):
    """Directed word-set containment pairs (subset-dup signal that
    Jaccard misses: short doc embedded in a long one)."""
    from linkgraph.textops.dedup import containment_pairs

    return containment_pairs(_t(spark, sf_dir, "documents"), threshold=CONTAINMENT_T)


SQL_CONTAINMENT = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest({_SQL_TOKENS}) AS w FROM documents),
sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS MATERIALIZED (
  SELECT t1.doc_id AS a, t2.doc_id AS b, COUNT(*) AS i
  FROM tok t1 JOIN tok t2 ON t1.w = t2.w AND t1.doc_id <> t2.doc_id
  GROUP BY t1.doc_id, t2.doc_id)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       ROUND(i / CAST(sz AS DOUBLE), 6) AS containment
FROM inter JOIN sz ON sz.doc_id = a
WHERE ROUND(i / CAST(sz AS DOUBLE), 6) >= {CONTAINMENT_T}
"""


EIGEN_ROUNDS = 8


def q_eigenvector(spark, sf_dir):
    """Fixed-round eigenvector centrality on the user graph (deferred
    normalization makes the power iteration recursive-CTE-expressible)."""
    from linkgraph.algos.eigen import eigenvector_centrality

    return eigenvector_centrality(user_graph(spark, sf_dir), rounds=EIGEN_ROUNDS)


SQL_EIGENVECTOR = f"""
WITH RECURSIVE {_USER_E_MAT},
deg AS MATERIALIZED (SELECT DISTINCT src AS vid FROM e),
ev(it, vid, x) AS (
  SELECT 0, vid, CAST(1.0 AS DOUBLE) FROM deg
  UNION ALL
  SELECT k.it + 1, e.dst, SUM(k.x)
  FROM ev k JOIN e ON e.src = k.vid
  WHERE k.it < {EIGEN_ROUNDS}
  GROUP BY k.it + 1, e.dst
)
SELECT CAST(vid AS BIGINT) AS vid,
       ROUND(x / (SELECT MAX(x) FROM ev WHERE it = {EIGEN_ROUNDS}), 6) AS ec
FROM ev WHERE it = {EIGEN_ROUNDS}
"""


FIEDLER_ROUNDS = 8


def q_fiedler_partition(spark, sf_dir):
    """Spectral bisection of the user graph: deflated power iteration on
    the shifted Laplacian (algos/spectral.py::fiedler_partition)."""
    from linkgraph.algos.spectral import fiedler_partition

    return fiedler_partition(user_graph(spark, sf_dir), rounds=FIEDLER_ROUNDS)


def _fiedler_oracle_sql(rounds: int) -> str:
    """Unrolled CTE chain (not a recursive CTE: the per-round
    re-centering needs a second aggregate per step, which a recursive
    member cannot express)."""
    ctes = [
        "deg AS MATERIALIZED (SELECT src AS vid, CAST(COUNT(*) AS DOUBLE) "
        "AS deg FROM e GROUP BY src)",
        "dm AS (SELECT MAX(deg) AS dmax FROM deg)",
        "h AS (SELECT vid, "
        "(CAST('0x' || substr(md5(CAST(vid AS VARCHAR) || '#fiedler'), 1, 15) "
        "AS BIGINT) % 1000000) / 1000000.0 AS hv FROM deg)",
        "x0 AS MATERIALIZED (SELECT vid, hv - (SELECT AVG(hv) FROM h) AS x FROM h)",
        "ea AS MATERIALIZED (SELECT src, dst, CAST(1.0 AS DOUBLE) AS w FROM e "
        "UNION ALL SELECT vid, vid, (SELECT dmax FROM dm) - deg FROM deg)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"y{r} AS (SELECT ea.dst AS vid, SUM(x{r - 1}.x * ea.w) AS xr "
            f"FROM x{r - 1} JOIN ea ON ea.src = x{r - 1}.vid GROUP BY ea.dst)"
        )
        ctes.append(
            f"x{r} AS MATERIALIZED (SELECT vid, "
            f"xr - (SELECT AVG(xr) FROM y{r}) AS x FROM y{r})"
        )
    ctes.append(f"mx AS (SELECT MAX(abs(x)) AS m FROM x{rounds})")
    return (
        f"WITH {_USER_E_MAT},\n"
        + ",\n".join(ctes)
        + f"""
SELECT CAST(vid AS BIGINT) AS vid,
       ROUND(x / mx.m, 6) AS fiedler,
       CAST(CASE WHEN ROUND(x / mx.m, 6) >= 0 THEN 1 ELSE 0 END AS BIGINT)
         AS side
FROM x{rounds}, mx
"""
    )


SQL_FIEDLER_PARTITION = _fiedler_oracle_sql(FIEDLER_ROUNDS)


def q_reciprocity(spark, sf_dir):
    """Reciprocity of the DIRECTED sequential co-purchase graph."""
    from linkgraph.algos.gstats import reciprocity
    from linkgraph.sources.derive import sequential_copurchase_edges

    return reciprocity(sequential_copurchase_edges(_t(spark, sf_dir, "lineitem")))


SQL_RECIPROCITY = """
WITH sq AS (
  SELECT l_orderkey, l_linenumber, l_partkey,
         LEAD(l_partkey) OVER (PARTITION BY l_orderkey
                               ORDER BY l_linenumber ASC, l_partkey ASC) AS nxt
  FROM lineitem),
e AS MATERIALIZED (
  SELECT DISTINCT l_partkey AS src, nxt AS dst FROM sq
  WHERE nxt IS NOT NULL AND nxt <> l_partkey)
SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM e a
             WHERE EXISTS (SELECT 1 FROM e b
                           WHERE b.src = a.dst AND b.dst = a.src)) AS BIGINT)
         AS n_reciprocal,
       ROUND((SELECT COUNT(*) FROM e a
              WHERE EXISTS (SELECT 1 FROM e b
                            WHERE b.src = a.dst AND b.dst = a.src))
             / CAST((SELECT COUNT(*) FROM e) AS DOUBLE), 6) AS r
"""


def q_lm2_quality(spark, sf_dir):
    """Corpus-bigram LM score with add-one smoothing (word-order-aware
    perplexity filter signal; see textstats.bigram_logprob)."""
    from linkgraph.textops.textstats import bigram_logprob

    return bigram_logprob(_t(spark, sf_dir, "documents"))


SQL_LM2_QUALITY = f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents),
bg AS MATERIALIZED (
  SELECT doc_id, unnest(ts[1:len(ts)-1]) AS u, unnest(ts[2:len(ts)]) AS v
  FROM tok WHERE len(ts) >= 2),
tf2 AS MATERIALIZED (
  SELECT doc_id, u, v, COUNT(*) AS tf FROM bg GROUP BY doc_id, u, v),
cuv AS MATERIALIZED (SELECT u, v, SUM(tf) AS cuv FROM tf2 GROUP BY u, v),
cu AS MATERIALIZED (SELECT u, SUM(cuv) AS cu FROM cuv GROUP BY u),
vsz AS (SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS v FROM
        (SELECT unnest(ts) AS t FROM tok))
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       ROUND(SUM(tf * LN((cuv + 1.0) / (cu + (SELECT v FROM vsz)))) / SUM(tf), 6)
         AS lm2_logprob
FROM tf2 JOIN cuv USING (u, v) JOIN cu USING (u)
GROUP BY doc_id
"""


def q_embedding_label_stats(spark, sf_dir):
    """Per-label embedding cohesion diagnostics (centroid book + cosine
    roll-up; see simsearch.embedding_label_stats)."""
    from linkgraph.textops.simsearch import embedding_label_stats

    return embedding_label_stats(_t(spark, sf_dir, "embeddings"))


SQL_EMBEDDING_LABEL_STATS = """
WITH flat AS MATERIALIZED (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
         unnest(embedding) AS val
  FROM embeddings),
cent AS MATERIALIZED (
  SELECT label, pos, AVG(val) AS cval FROM flat GROUP BY label, pos),
pv AS MATERIALIZED (
  SELECT f.vec_id, f.label,
         SUM(f.val * c.cval) AS dot,
         SQRT(SUM(f.val * f.val)) AS vn,
         SQRT(SUM(c.cval * c.cval)) AS cn
  FROM flat f JOIN cent c ON c.label = f.label AND c.pos = f.pos
  GROUP BY f.vec_id, f.label)
SELECT CAST(label AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(MAX(cn), 6) AS centroid_norm,
       ROUND(AVG(dot / (vn * cn)), 6) AS mean_cos
FROM pv GROUP BY label
"""


Z_CUT = 3.0


def q_value_outliers(spark, sf_dir):
    """Per-user value anomaly summary (rounded-z threshold, see
    operators/events.py::value_outliers)."""
    from linkgraph.operators.events import value_outliers

    return value_outliers(_t(spark, sf_dir, "events"), z_cut=Z_CUT)


SQL_VALUE_OUTLIERS = f"""
WITH mom AS MATERIALIZED (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         AVG(value) AS mean_raw, STDDEV_SAMP(value) AS std_raw
  FROM events GROUP BY user_id),
fl AS (
  SELECT e.user_id, SUM(CASE WHEN ROUND(ABS(e.value - m.mean_raw) / m.std_raw, 6)
                             > {Z_CUT} THEN 1 ELSE 0 END) AS n_outliers
  FROM events e JOIN mom m USING (user_id)
  WHERE m.std_raw > 0 GROUP BY e.user_id)
SELECT CAST(user_id AS BIGINT) AS user_id, n_events,
       ROUND(mean_raw, 6) AS mean_v, ROUND(std_raw, 6) AS std_v,
       CAST(COALESCE(fl.n_outliers, 0) AS BIGINT) AS n_outliers
FROM mom LEFT JOIN fl USING (user_id)
"""


def q_square_count(spark, sf_dir):
    """Exact 4-cycle count of the user graph (all-integer wedge-pair
    identity; see algos/triangles.py::square_count)."""
    from linkgraph.algos.triangles import square_count

    return square_count(user_graph(spark, sf_dir))


SQL_SQUARE_COUNT = f"""
WITH {_USER_E},
cn AS MATERIALIZED (
  SELECT e1.dst AS u, e2.dst AS v, COUNT(*) AS cn
  FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
  GROUP BY e1.dst, e2.dst)
SELECT CAST(SUM(cn * (cn - 1) // 2) // 2 AS BIGINT) AS n_squares FROM cn
"""


def q_split_leakage(spark, sf_dir):
    """Cross-split near-dup leakage audit (minhash pairs x hash split,
    md5 family so both stages mirror in DuckDB)."""
    from linkgraph.textops.dedup import split_leakage

    return split_leakage(
        _t(spark, sf_dir, "documents"),
        SPLIT_WEIGHTS,
        threshold=0.3,
        hash_family="md5",
    )


SQL_SPLIT_LEAKAGE = f"""
WITH {_SQL_MINHASH_CTES},
sp AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN bkt < 8000 THEN 'train'
              WHEN bkt < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#split'), 1, 15)
                    AS BIGINT) % 10000 AS bkt
        FROM documents))
SELECT LEAST(a.split, b.split) AS split_a,
       GREATEST(a.split, b.split) AS split_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM (SELECT * FROM jac WHERE jac >= 0.3) j
JOIN sp a ON a.doc_id = j.a JOIN sp b ON b.doc_id = j.b
WHERE a.split <> b.split
GROUP BY 1, 2
"""


def q_source_quality(spark, sf_dir):
    """Per-source triage rollup: exact-dup membership rate + mean corpus-
    LM score (see textstats.source_quality_rollup)."""
    from linkgraph.textops.textstats import source_quality_rollup

    return source_quality_rollup(_t(spark, sf_dir, "documents"))


SQL_SOURCE_QUALITY = f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, source, md5(text) AS digest FROM documents),
digc AS MATERIALIZED (SELECT digest, COUNT(*) AS nd FROM d GROUP BY digest),
tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
tf AS MATERIALIZED (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
uni AS MATERIALIZED (SELECT term, SUM(tf) AS cnt FROM tf GROUP BY term),
tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS t FROM uni),
lm AS MATERIALIZED (
  SELECT doc_id, SUM(tf) AS n_tokens,
         ROUND(SUM(tf * LN(cnt)) / SUM(tf) - LN((SELECT t FROM tot)), 6)
           AS lm_logprob
  FROM tf JOIN uni USING (term) GROUP BY doc_id),
pd AS (
  SELECT d.source, CASE WHEN digc.nd > 1 THEN 1 ELSE 0 END AS is_dup,
         lm.n_tokens, lm.lm_logprob
  FROM d JOIN digc USING (digest) LEFT JOIN lm USING (doc_id))
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
       ROUND(SUM(is_dup) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
       ROUND(AVG(n_tokens), 6) AS mean_tokens,
       ROUND(AVG(lm_logprob), 6) AS mean_lm
FROM pd GROUP BY source
"""


CHUNK_W = 128
CHUNK_S = 96


def q_chunk_plan(spark, sf_dir):
    """Per-document sliding-window chunk plan (RAG-prep; integer-exact)."""
    from linkgraph.textops.packing import chunk_plan

    return chunk_plan(_t(spark, sf_dir, "documents"), window=CHUNK_W, stride=CHUNK_S)


SQL_CHUNK_PLAN = f"""
WITH tok AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+'))
              AS BIGINT) AS n_tokens
  FROM documents),
nz AS (SELECT * FROM tok WHERE n_tokens > 0),
c AS (
  SELECT doc_id, n_tokens,
         unnest(range(0, 1 + (greatest(n_tokens - {CHUNK_W}, 0) + {CHUNK_S} - 1)
                          // {CHUNK_S})) AS chunk_id
  FROM nz)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * {CHUNK_S} AS BIGINT) AS tok_start,
       CAST(LEAST(chunk_id * {CHUNK_S} + {CHUNK_W}, n_tokens) AS BIGINT) AS tok_end
FROM c
"""


WL_ROUNDS = 3


def q_wl_colors(spark, sf_dir):
    """1-WL color refinement fingerprints on the co-purchase graph
    (md5-canonical multiset hashing; see algos/wl.py)."""
    from linkgraph.algos.wl import wl_refine

    return wl_refine(copurchase_graph(spark, sf_dir), rounds=WL_ROUNDS)


def _wl_oracle_sql(rounds: int) -> str:
    P = (1 << 61) - 1
    parts = [
        "w0 AS MATERIALIZED (SELECT src AS vid, CAST(COUNT(*) AS VARCHAR) AS color FROM e GROUP BY src)"
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""a{i} AS MATERIALIZED (
  SELECT e.dst,
         SUM(CAST('0x' || substr(md5(x.color), 1, 15) AS BIGINT)) % {P} AS s
  FROM e JOIN w{i - 1} x ON x.vid = e.src GROUP BY e.dst)""")
        parts.append(f"""w{i} AS MATERIALIZED (
  SELECT w.vid, md5(w.color || '|' || CAST(COALESCE(a.s, 0) AS VARCHAR)) AS color
  FROM w{i - 1} w LEFT JOIN a{i} a ON a.dst = w.vid)""")
    return (
        f"WITH {_COPURCHASE_E},"
        + ",".join(parts)
        + f"""
SELECT CAST(vid AS BIGINT) AS vid, color FROM w{rounds}"""
    )


SQL_WL_COLORS = _wl_oracle_sql(WL_ROUNDS)


def q_zipf_fit(spark, sf_dir):
    """Corpus rank-frequency Zipf slope (see textstats.zipf_fit)."""
    from linkgraph.textops.textstats import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"))


SQL_ZIPF_FIT = f"""
WITH tok AS (SELECT unnest({_SQL_TOKENS}) AS term FROM documents),
uni AS MATERIALIZED (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
rk AS (
  SELECT cnt,
         LN(CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS DOUBLE)) AS x,
         LN(CAST(cnt AS DOUBLE)) AS y
  FROM uni)
SELECT CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(SUM(cnt) AS BIGINT) AS total_tokens,
       ROUND((COUNT(*) * SUM(x*y) - SUM(x) * SUM(y))
             / (COUNT(*) * SUM(x*x) - SUM(x) * SUM(x)), 6) AS zipf_slope
FROM rk
"""


RICH_CLUB_KS = [64, 96, 112, 128]  # spans the sf0.01 degree range 42-206


def q_rich_club(spark, sf_dir):
    """Rich-club curve of the co-purchase graph at fixed degree cuts."""
    from linkgraph.algos.gstats import rich_club

    return rich_club(copurchase_graph(spark, sf_dir), ks=RICH_CLUB_KS)


def _rich_club_sql(ks: list[int]) -> str:
    sel = []
    for k in sorted(set(ks)):
        sel.append(f"""SELECT CAST({k} AS BIGINT) AS k,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM d WHERE deg > {k}) AS n_nodes,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM em WHERE m > {k}) AS n_edges,
  ROUND((SELECT COUNT(*) FROM em WHERE m > {k}) / (CASE
    WHEN (SELECT COUNT(*) FROM d WHERE deg > {k}) >= 2
    THEN CAST((SELECT COUNT(*) FROM d WHERE deg > {k})
              * ((SELECT COUNT(*) FROM d WHERE deg > {k}) - 1) AS DOUBLE)
    END), 6) AS phi""")
    body = " UNION ALL ".join(sel)
    return f"""
WITH {_COPURCHASE_E},
d AS MATERIALIZED (SELECT src AS vid, COUNT(*) AS deg FROM e GROUP BY src),
em AS MATERIALIZED (
  SELECT LEAST(ds.deg, dd.deg) AS m
  FROM e JOIN d ds ON ds.vid = e.src JOIN d dd ON dd.vid = e.dst)
{body}
"""


SQL_RICH_CLUB = _rich_club_sql(RICH_CLUB_KS)


ASSORT_LABELS = 4


def q_label_assortativity(spark, sf_dir):
    """Discrete label assortativity of the co-purchase graph under the
    vid % 4 class assignment (exact-integer rearrangement)."""
    from linkgraph.algos.gstats import label_assortativity

    g = copurchase_graph(spark, sf_dir)
    labels = g.vertices().select("vid", (F.col("vid") % ASSORT_LABELS).alias("label"))
    return label_assortativity(g, labels)


SQL_LABEL_ASSORTATIVITY = f"""
WITH {_COPURCHASE_E},
lab AS MATERIALIZED (SELECT DISTINCT src AS vid, src % {ASSORT_LABELS} AS label FROM e),
mix AS MATERIALIZED (
  SELECT l1.label AS ls, l2.label AS ld, COUNT(*) AS c
  FROM e JOIN lab l1 ON l1.vid = e.src JOIN lab l2 ON l2.vid = e.dst
  GROUP BY l1.label, l2.label),
r AS (SELECT ls, SUM(c) AS r FROM mix GROUP BY ls),
s AS (SELECT ld, SUM(c) AS s FROM mix GROUP BY ld),
rssum AS (SELECT SUM(r.r * s.s) AS rs FROM r JOIN s ON s.ld = r.ls),
agg AS (SELECT SUM(c) AS m,
               SUM(CASE WHEN ls = ld THEN c ELSE 0 END) AS n_same FROM mix)
SELECT CAST(m AS BIGINT) AS n_edges, CAST(n_same AS BIGINT) AS n_same,
       ROUND((CAST(m AS DOUBLE) * n_same - rs)
             / (CAST(m AS DOUBLE) * m - rs), 6) AS r
FROM agg, rssum
"""


GDIFF_OLD_QTY = 25  # "old" snapshot: big-lot co-purchases only
GDIFF_NEW_QTY = 45  # "new" snapshot: small/mid lots — overlapping, distinct


def q_graph_diff(spark, sf_dir):
    """Per-vertex edge churn between two overlapping quantity-sliced
    co-purchase snapshots (both add AND remove directions non-empty)."""
    from linkgraph.algos.gstats import graph_diff
    from linkgraph.sources.derive import copurchase_edges

    li = _t(spark, sf_dir, "lineitem")
    old = copurchase_edges(li.where(F.col("l_quantity") > GDIFF_OLD_QTY))
    new = copurchase_edges(li.where(F.col("l_quantity") < GDIFF_NEW_QTY))
    return graph_diff(old, new)


SQL_GRAPH_DIFF = f"""
WITH pko AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
             WHERE l_quantity > {GDIFF_OLD_QTY}),
eo AS MATERIALIZED (SELECT DISTINCT a.p AS src, b.p AS dst
  FROM pko a JOIN pko b ON a.k = b.k AND a.p <> b.p),
pkn AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
        WHERE l_quantity < {GDIFF_NEW_QTY}),
en AS MATERIALIZED (SELECT DISTINCT a.p AS src, b.p AS dst
  FROM pkn a JOIN pkn b ON a.k = b.k AND a.p <> b.p),
ch AS (
  SELECT src AS vid, 1 AS a, 0 AS r FROM en
  WHERE NOT EXISTS (SELECT 1 FROM eo WHERE eo.src = en.src AND eo.dst = en.dst)
  UNION ALL
  SELECT src AS vid, 0 AS a, 1 AS r FROM eo
  WHERE NOT EXISTS (SELECT 1 FROM en WHERE en.src = eo.src AND en.dst = eo.dst))
SELECT CAST(vid AS BIGINT) AS vid, CAST(SUM(a) AS BIGINT) AS n_added,
       CAST(SUM(r) AS BIGINT) AS n_removed,
       CAST(SUM(a) - SUM(r) AS BIGINT) AS net
FROM ch GROUP BY vid
"""


def q_edge_pmi(spark, sf_dir):
    """PMI-reweighted co-purchase edges (association strength vs chance)."""
    from linkgraph.sources.derive import edge_pmi

    return edge_pmi(
        derive.copurchase_weighted_edges(_t(spark, sf_dir, "lineitem"))
    )


SQL_EDGE_PMI = """
WITH pk AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
ew AS MATERIALIZED (
  SELECT a.p AS src, b.p AS dst, COUNT(*) AS w
  FROM pk a JOIN pk b ON a.k = b.k AND a.p <> b.p GROUP BY a.p, b.p),
st AS MATERIALIZED (SELECT src, SUM(w) AS s FROM ew GROUP BY src),
tot AS (SELECT CAST(SUM(w) AS DOUBLE) AS t FROM ew)
SELECT CAST(e.src AS BIGINT) AS src, CAST(e.dst AS BIGINT) AS dst,
       CAST(e.w AS BIGINT) AS w,
       ROUND(LN(e.w * (SELECT t FROM tot) / (CAST(su.s AS DOUBLE) * sv.s)), 6)
         AS pmi
FROM ew e JOIN st su ON su.src = e.src JOIN st sv ON sv.src = e.dst
"""


SPARSIFY_PCT = 10


def q_sparsify(spark, sf_dir):
    """Connectivity-preserving sparsifier: Boruvka forest ∪ deterministic
    10% md5 edge sample (reproducible thin-out; see algos/mst.py)."""
    from linkgraph.algos.mst import sparsify

    return sparsify(
        derive.copurchase_weighted_edges(_t(spark, sf_dir, "lineitem")),
        keep_pct=SPARSIFY_PCT,
        rounds=MST_ROUNDS,
    )


def _sparsify_oracle_sql(rounds: int, dbl: int, pct: int) -> str:
    base = _mst_oracle_sql(rounds, dbl)
    head, tail = base.rsplit("SELECT CAST(u AS BIGINT)", 1)
    union = tail[tail.index("FROM (") + 6 : tail.rindex(")")]
    return (
        head
        + f"""SELECT DISTINCT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
       CAST(w AS BIGINT) AS w
FROM ({union}
      UNION
      SELECT src AS u, dst AS v, w FROM ew
      WHERE src < dst
        AND CAST('0x' || substr(md5(CAST(src AS VARCHAR) || ':' ||
                 CAST(dst AS VARCHAR) || ':sparsify'), 1, 15) AS BIGINT)
            % 10000 < {pct * 100})"""
    )


SQL_SPARSIFY = _sparsify_oracle_sql(MST_ROUNDS, MST_CC_STEPS, SPARSIFY_PCT)


DSWEEP_LEVELS = 16


def q_diameter_lb(spark, sf_dir):
    """Double-sweep diameter lower bound of the co-purchase graph
    (two MS-BFS sweeps; deterministic farthest-vertex tie-breaks)."""
    from linkgraph.algos.anf import diameter_double_sweep

    return diameter_double_sweep(
        copurchase_graph(spark, sf_dir), max_levels=DSWEEP_LEVELS
    )


SQL_DIAMETER_LB = f"""
WITH RECURSIVE {_COPURCHASE_E},
s0 AS (SELECT MIN(src) AS v FROM e),
b1(v, dist) AS (
  SELECT v, 0 FROM s0
  UNION
  SELECT e.dst, b1.dist + 1 FROM b1 JOIN e ON e.src = b1.v
  WHERE b1.dist < {DSWEEP_LEVELS}),
d1 AS (SELECT v, MIN(dist) AS dist FROM b1 GROUP BY v),
f1 AS (SELECT v FROM d1 ORDER BY dist DESC, v ASC LIMIT 1),
b2(v, dist) AS (
  SELECT v, 0 FROM f1
  UNION
  SELECT e.dst, b2.dist + 1 FROM b2 JOIN e ON e.src = b2.v
  WHERE b2.dist < {DSWEEP_LEVELS}),
d2 AS (SELECT v, MIN(dist) AS dist FROM b2 GROUP BY v)
SELECT CAST((SELECT v FROM s0) AS BIGINT) AS start_vid,
       CAST((SELECT v FROM f1) AS BIGINT) AS far_vid,
       CAST((SELECT MAX(dist) FROM d2) AS BIGINT) AS diameter_lb
"""


TRIPLES_MIN_SUPPORT = 2
TRIPLES_BASKET_CAP = 32


def q_frequent_triples(spark, sf_dir):
    """Frequent 3-itemsets over order baskets (A-priori step up from the
    pairwise co-purchase derivation; basket-capped, all-integer)."""
    from linkgraph.sources.derive import frequent_triples

    return frequent_triples(
        _t(spark, sf_dir, "lineitem"),
        min_support=TRIPLES_MIN_SUPPORT,
        basket_cap=TRIPLES_BASKET_CAP,
    )


SQL_FREQUENT_TRIPLES = f"""
WITH pk0 AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
ok AS (SELECT k FROM pk0 GROUP BY k HAVING COUNT(*) <= {TRIPLES_BASKET_CAP}),
pk AS MATERIALIZED (SELECT pk0.k, pk0.p FROM pk0 JOIN ok USING (k))
SELECT CAST(a.p AS BIGINT) AS p1, CAST(b.p AS BIGINT) AS p2,
       CAST(c.p AS BIGINT) AS p3, CAST(COUNT(*) AS BIGINT) AS support
FROM pk a JOIN pk b ON a.k = b.k AND a.p < b.p
          JOIN pk c ON a.k = c.k AND b.p < c.p
GROUP BY a.p, b.p, c.p
HAVING COUNT(*) >= {TRIPLES_MIN_SUPPORT}
"""


def q_hub_coverage(spark, sf_dir):
    """Coverage curve of the top-8 degree hubs: for each hop count h,
    how many vertices lie within h hops of ANY hub (min-dist-over-
    sources aggregate of the same MS-BFS batch bfs_distances runs) —
    the crawl/broadcast seed-selection diagnostic."""
    from linkgraph.algos.msbfs import msbfs

    g = copurchase_graph(spark, sf_dir)
    srcs = sorted(g.top_degree_vids(8))
    res = msbfs(g, srcs, emit_distances=True, max_levels=BFS_MAX_LEVELS)
    from pyspark.sql import Window

    md = res.distances_df.groupBy("vid").agg(F.min("dist").alias("d"))
    n = g.num_vertices()
    # the histogram is <= max_levels rows, so the cumulative window's
    # single partition is bounded by the hop budget, never the graph
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    return (
        md.groupBy(F.col("d").cast("long").alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select("h", F.sum("c").over(w).cast("long").alias("n_reached"))
        .select(
            "h",
            "n_reached",
            F.round(F.col("n_reached") / F.lit(float(n)), 6).alias("pct"),
        )
    )


SQL_HUB_COVERAGE = f"""
WITH RECURSIVE {_COPURCHASE_E},
d AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
srcs AS (SELECT src AS s FROM d ORDER BY deg DESC, src ASC LIMIT 8),
bfs(src, v, dist) AS (
  SELECT s, s, 0 FROM srcs
  UNION
  SELECT bfs.src, e.dst, bfs.dist + 1 FROM bfs JOIN e ON e.src = bfs.v
  WHERE bfs.dist < {BFS_MAX_LEVELS}),
md AS (SELECT v, MIN(dist) AS dmin FROM (
         SELECT src, v, MIN(dist) AS dist FROM bfs GROUP BY src, v)
       GROUP BY v),
hist AS (SELECT dmin AS h, COUNT(*) AS c FROM md GROUP BY dmin),
nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM d)
SELECT CAST(h AS BIGINT) AS h,
       CAST(SUM(c) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_reached,
       ROUND(SUM(c) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / (SELECT n FROM nv), 6) AS pct
FROM hist
"""


EBC_TOPK = 200


def q_edge_betweenness(spark, sf_dir):
    """Sampled-Brandes edge betweenness, top-200 edges by rounded score
    (the Girvan-Newman ranking; same measured-est_rows forward pass as
    the vertex variant)."""
    from linkgraph.algos.betweenness import edge_betweenness

    g = copurchase_graph(spark, sf_dir)
    srcs = [
        r[0]
        for r in _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("s"))
        .distinct()
        .orderBy("s")
        .limit(BETW_ROOTS)
        .collect()
    ]
    return edge_betweenness(
        g, srcs, max_levels=BETW_LEVELS, topk=EBC_TOPK
    )


def _edge_betweenness_oracle_sql(levels: int, n_roots: int, topk: int) -> str:
    parts = [
        "srcs AS MATERIALIZED (" + _bfs_sources_sql() + ")",
        "verts AS MATERIALIZED (SELECT DISTINCT src AS v FROM e)",
        "s0 AS MATERIALIZED (SELECT s AS root, s AS vid, 1.0 AS sigma FROM srcs)",
        "st0 AS MATERIALIZED (SELECT root, vid FROM s0)",
    ]
    for l in range(1, levels + 1):
        parts.append(
            f"""s{l} AS MATERIALIZED (
  SELECT p.root, e.dst AS vid, SUM(p.sigma) AS sigma
  FROM s{l - 1} p JOIN e ON e.src = p.vid
  LEFT JOIN st{l - 1} x ON x.root = p.root AND x.vid = e.dst
  WHERE x.vid IS NULL
  GROUP BY p.root, e.dst)"""
        )
        parts.append(
            f"st{l} AS MATERIALIZED (SELECT root, vid FROM st{l - 1} "
            f"UNION ALL SELECT root, vid FROM s{l})"
        )
    parts.append(
        f"w{levels} AS MATERIALIZED "
        f"(SELECT root, vid, sigma, 0.0 AS delta FROM s{levels})"
    )
    for l in range(levels - 1, -1, -1):
        parts.append(
            f"""t{l} AS MATERIALIZED (
  SELECT u.root, u.vid AS u, w.vid AS v,
         u.sigma / w.sigma * (1.0 + w.delta) AS term
  FROM s{l} u JOIN e ON e.src = u.vid
  JOIN w{l + 1} w ON w.root = u.root AND w.vid = e.dst)"""
        )
        parts.append(
            f"""w{l} AS MATERIALIZED (
  SELECT u.root, u.vid, u.sigma,
         COALESCE(t.delta, 0.0) AS delta
  FROM s{l} u LEFT JOIN (
    SELECT root, u AS vid, SUM(term) AS delta FROM t{l} GROUP BY root, u) t
  ON t.root = u.root AND t.vid = u.vid)"""
        )
    union = " UNION ALL ".join(
        f"SELECT u, v, term FROM t{l}" for l in range(levels - 1, -1, -1)
    )
    return (
        "WITH " + _COPURCHASE_E + ",\n"
        + ",\n".join(parts)
        + f""",
allt AS ({union})
SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
       ROUND(SUM(term) * ((SELECT CAST(COUNT(*) AS DOUBLE) FROM verts) / {n_roots}.0), 6) AS ebc
FROM allt GROUP BY u, v
ORDER BY ebc DESC, u ASC, v ASC LIMIT {topk}"""
    )


SQL_EDGE_BETWEENNESS = _edge_betweenness_oracle_sql(BETW_LEVELS, BETW_ROOTS, EBC_TOPK)


CORENESS_ROUNDS = 6


def q_coreness(spark, sf_dir):
    """Per-vertex core numbers via fixed-round H-index iteration
    (all-integer; see algos/kcore.py::coreness)."""
    from linkgraph.algos.kcore import coreness

    return coreness(copurchase_graph(spark, sf_dir), rounds=CORENESS_ROUNDS)


def _coreness_oracle_sql(rounds: int) -> str:
    parts = [
        "c0 AS MATERIALIZED (SELECT src AS vid, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY src)"
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""c{i} AS MATERIALIZED (
  SELECT src AS vid, MAX(LEAST(rn, cd)) AS c FROM (
    SELECT e.src, p.c AS cd,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                ORDER BY p.c DESC, e.dst ASC) AS BIGINT) AS rn
    FROM e JOIN c{i - 1} p ON p.vid = e.dst)
  GROUP BY src)""")
    return (
        f"WITH {_COPURCHASE_E},"
        + ",".join(parts)
        + f"""
SELECT CAST(vid AS BIGINT) AS vid, CAST(c AS BIGINT) AS coreness FROM c{rounds}"""
    )


SQL_CORENESS = _coreness_oracle_sql(CORENESS_ROUNDS)


SPREAD_ALPHA = 0.002  # < 1/max_deg at sf0.01 (max deg 206): convergent
SPREAD_ROUNDS = 6
SPREAD_SEEDS = 8


def q_label_spreading(spark, sf_dir):
    """Seeded label spreading from the 8 top-degree hubs (each its own
    class): nearest-seed soft assignment over the co-purchase graph."""
    from linkgraph.algos.labelprop import label_spreading

    g = copurchase_graph(spark, sf_dir)
    hubs = g.top_degree_vids(SPREAD_SEEDS)
    seeds = spark.createDataFrame(
        [(int(v), int(i)) for i, v in enumerate(hubs)], "vid long, label long"
    )
    return label_spreading(
        g, seeds, alpha=SPREAD_ALPHA, rounds=SPREAD_ROUNDS
    )


def _label_spreading_oracle_sql(rounds: int, alpha: float, n_seeds: int) -> str:
    a, oma = alpha, 1.0 - alpha
    parts = [
        "d AS MATERIALIZED (SELECT src AS vid, COUNT(*) AS deg FROM e GROUP BY src)",
        f"""hubs AS MATERIALIZED (
  SELECT vid, CAST(ROW_NUMBER() OVER (ORDER BY deg DESC, vid ASC) - 1 AS BIGINT)
         AS label
  FROM d ORDER BY deg DESC, vid ASC LIMIT {n_seeds})""",
        f"y AS MATERIALIZED (SELECT vid, label, CAST({oma} AS DOUBLE) AS s FROM hubs)",
        "f0 AS MATERIALIZED (SELECT vid, label, s AS score FROM y)",
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""g{i} AS MATERIALIZED (
  SELECT e.dst AS vid, p.label, {a} * SUM(p.score) AS m
  FROM f{i - 1} p JOIN e ON e.src = p.vid GROUP BY e.dst, p.label)""")
        parts.append(f"""f{i} AS MATERIALIZED (
  SELECT COALESCE(g.vid, y.vid) AS vid, COALESCE(g.label, y.label) AS label,
         COALESCE(g.m, 0.0) + COALESCE(y.s, 0.0) AS score
  FROM g{i} g FULL OUTER JOIN y ON y.vid = g.vid AND y.label = g.label)""")
    return (
        f"WITH {_COPURCHASE_E},"
        + ",".join(parts)
        + f"""
SELECT CAST(vid AS BIGINT) AS vid, CAST(label AS BIGINT) AS label, score FROM (
  SELECT vid, label, ROUND(score, 6) AS score,
         ROW_NUMBER() OVER (PARTITION BY vid
                            ORDER BY ROUND(score, 6) DESC, label ASC) AS rk
  FROM f{rounds})
WHERE rk = 1"""
    )


SQL_LABEL_SPREADING = _label_spreading_oracle_sql(
    SPREAD_ROUNDS, SPREAD_ALPHA, SPREAD_SEEDS
)


def q_graphlet_census(spark, sf_dir):
    """All-integer small-motif census of the co-purchase graph."""
    from linkgraph.algos.triangles import graphlet_census

    return graphlet_census(copurchase_graph(spark, sf_dir))


SQL_GRAPHLET_CENSUS = f"""
WITH {_COPURCHASE_E},
d AS MATERIALIZED (SELECT src AS vid, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
mo AS (SELECT SUM(deg * (deg - 1) // 2) AS wedges,
              SUM(deg * (deg - 1) * (deg - 2) // 6) AS stars3 FROM d),
tri AS (
  SELECT COUNT(*) // 1 AS t FROM (
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM e e1 JOIN e e2 ON e1.dst = e2.src AND e1.src < e1.dst AND e2.src < e2.dst
    JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst)),
p3 AS (
  SELECT SUM((du.deg - 1) * (dv.deg - 1)) AS s
  FROM e JOIN d du ON du.vid = e.src JOIN d dv ON dv.vid = e.dst
  WHERE e.src < e.dst)
SELECT CAST(mo.wedges AS BIGINT) AS wedges,
       CAST(tri.t AS BIGINT) AS triangles,
       CAST(mo.stars3 AS BIGINT) AS stars3,
       CAST(p3.s - 3 * tri.t AS BIGINT) AS paths3
FROM mo, tri, p3
"""


def q_knn_curve(spark, sf_dir):
    """k_nn(k) degree-correlation curve of the co-purchase graph."""
    from linkgraph.algos.gstats import knn_curve

    return knn_curve(copurchase_graph(spark, sf_dir))


SQL_KNN_CURVE = f"""
WITH {_COPURCHASE_E},
d AS MATERIALIZED (SELECT src AS vid, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
pv AS MATERIALIZED (
  SELECT e.src, SUM(dd.deg) AS s, COUNT(*) AS c
  FROM e JOIN d dd ON dd.vid = e.dst GROUP BY e.src)
SELECT CAST(du.deg AS BIGINT) AS deg,
       CAST(COUNT(*) AS BIGINT) AS n_vertices,
       ROUND(AVG(pv.s / CAST(pv.c AS DOUBLE)), 6) AS mean_nn_deg
FROM pv JOIN d du ON du.vid = pv.src
GROUP BY du.deg
"""


def q_edge_audit(spark, sf_dir):
    """Ingest-gate audit of the RAW sequential-chain edge derivation
    (kept directed and un-deduped upstream of the audit on purpose)."""
    from linkgraph.algos.gstats import edge_audit
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_linenumber").asc(), F.col("l_partkey").asc()
    )
    raw = (
        li.select("l_orderkey", "l_linenumber", "l_partkey")
        .withColumn("nxt", F.lead("l_partkey").over(w))
        .where(F.col("nxt").isNotNull())
        .select(F.col("l_partkey").alias("src"), F.col("nxt").alias("dst"))
    )
    return edge_audit(raw)


SQL_EDGE_AUDIT = """
WITH sq AS (
  SELECT l_partkey AS src,
         LEAD(l_partkey) OVER (PARTITION BY l_orderkey
              ORDER BY l_linenumber ASC, l_partkey ASC) AS dst
  FROM lineitem),
raw AS MATERIALIZED (SELECT src, dst FROM sq WHERE dst IS NOT NULL),
dist AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw),
nl AS (SELECT * FROM dist WHERE src <> dst)
SELECT CAST((SELECT COUNT(*) FROM raw) AS BIGINT) AS n_rows,
       CAST((SELECT COUNT(*) FROM dist) AS BIGINT) AS n_distinct,
       CAST((SELECT COUNT(*) FROM raw) - (SELECT COUNT(*) FROM dist) AS BIGINT)
         AS n_dup_rows,
       CAST((SELECT COUNT(*) FROM dist WHERE src = dst) AS BIGINT) AS n_self_loops,
       CAST((SELECT COUNT(*) FROM nl a WHERE NOT EXISTS (
             SELECT 1 FROM nl b WHERE b.src = a.dst AND b.dst = a.src)) AS BIGINT)
         AS n_asym
"""


def q_centroid_distances(spark, sf_dir):
    """Pairwise cosine between per-label embedding centroids."""
    from linkgraph.textops.simsearch import centroid_distances

    return centroid_distances(_t(spark, sf_dir, "embeddings"))


SQL_CENTROID_DISTANCES = """
WITH flat AS MATERIALIZED (
  SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS val
  FROM embeddings),
cent AS MATERIALIZED (
  SELECT label, pos, AVG(val) AS c FROM flat GROUP BY label, pos),
nrm AS MATERIALIZED (
  SELECT label, SQRT(SUM(c*c)) AS n FROM cent GROUP BY label),
dots AS (
  SELECT a.label AS la, b.label AS lb, SUM(a.c * b.c) AS dot
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY a.label, b.label)
SELECT CAST(la AS BIGINT) AS label_a, CAST(lb AS BIGINT) AS label_b,
       ROUND(dot / (na.n * nb.n), 6) AS cos
FROM dots JOIN nrm na ON na.label = la JOIN nrm nb ON nb.label = lb
"""


NOVELTY_K = 3  # matches NGRAM_SPAN_K (defined later in the file)


def q_ngram_novelty(spark, sf_dir):
    """Per-doc trigram novelty (inverse boilerplate signal)."""
    from linkgraph.textops.textstats import ngram_novelty

    return ngram_novelty(_t(spark, sf_dir, "documents"), k=NOVELTY_K)


SQL_NGRAM_NOVELTY = f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents),
g AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(ts) - {NOVELTY_K} + 2),
                i -> array_to_string(ts[i:i+{NOVELTY_K}-1], ' '))) AS gram
  FROM tok WHERE len(ts) >= {NOVELTY_K}),
dfq AS MATERIALIZED (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       ROUND(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
FROM g JOIN dfq USING (gram)
GROUP BY doc_id
"""


TFIDF_PAIRS_MAX_DF_PCT = 78  # excludes the ~1/3 most corpus-wide terms at sf0.01
TFIDF_PAIRS_TOPK = 100


def q_tfidf_cosine_pairs(spark, sf_dir):
    """Sparse TF-IDF cosine doc-pair similarity (inverted-index join,
    integer-arithmetic max_df cap), top-100 pairs by rounded cosine."""
    from linkgraph.textops.textstats import tfidf_cosine_pairs

    return tfidf_cosine_pairs(
        _t(spark, sf_dir, "documents"),
        max_df_pct=TFIDF_PAIRS_MAX_DF_PCT,
        topk=TFIDF_PAIRS_TOPK,
    )


SQL_TFIDF_COSINE_PAIRS = f"""
WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
tf AS MATERIALIZED (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
nd AS (SELECT COUNT(*) AS n FROM documents),
dfq AS MATERIALIZED (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
  HAVING COUNT(*) >= 2
     AND COUNT(*) <= (SELECT n FROM nd) * {TFIDF_PAIRS_MAX_DF_PCT} // 100),
w AS MATERIALIZED (
  SELECT doc_id, term, tf * LN(CAST((SELECT n FROM nd) AS DOUBLE) / df) AS w
  FROM tf JOIN dfq USING (term)),
nrm AS MATERIALIZED (SELECT doc_id, SQRT(SUM(w*w)) AS nrm FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS da, b.doc_id AS db, SUM(a.w*b.w) AS dot, COUNT(*) AS shared
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT CAST(da AS BIGINT) AS a, CAST(db AS BIGINT) AS b,
       CAST(shared AS BIGINT) AS shared,
       ROUND(dot / (na.nrm * nb.nrm), 6) AS sim
FROM dots JOIN nrm na ON na.doc_id = da JOIN nrm nb ON nb.doc_id = db
ORDER BY sim DESC, shared DESC, a ASC, b ASC LIMIT {TFIDF_PAIRS_TOPK}
"""


NGRAM_SPAN_K = 3
NGRAM_SPAN_DF_CAP = 5  # non-vacuous at sf0.01 (trigram df reaches 7)


def q_shared_ngram_spans(spark, sf_dir):
    """Exact shared k-token-span pairs (Lee-et-al-style substring dedup
    signal): postings join of per-doc distinct trigrams, df-capped."""
    from linkgraph.textops.dedup import shared_ngram_spans

    return shared_ngram_spans(
        _t(spark, sf_dir, "documents"), k=NGRAM_SPAN_K, df_cap=NGRAM_SPAN_DF_CAP
    )


SQL_SHARED_NGRAM_SPANS = f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents),
g AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(ts) - {NGRAM_SPAN_K} + 2),
                i -> array_to_string(ts[i:i+{NGRAM_SPAN_K}-1], ' '))) AS gram
  FROM tok WHERE len(ts) >= {NGRAM_SPAN_K}),
keep AS MATERIALIZED (
  SELECT gram FROM g GROUP BY gram
  HAVING COUNT(*) >= 2 AND COUNT(*) <= {NGRAM_SPAN_DF_CAP})
SELECT CAST(a.doc_id AS BIGINT) AS a, CAST(b.doc_id AS BIGINT) AS b,
       CAST(COUNT(*) AS BIGINT) AS n_spans
FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
JOIN keep ON keep.gram = a.gram
GROUP BY a.doc_id, b.doc_id
"""


SESSION_GAP_S = 28800  # 8h: near the sf0.01 median inter-event gap (7.3h)


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization of the events stream (one shuffle, two
    windows on one sort, one aggregate — see operators/events.py)."""
    from linkgraph.operators.events import sessionize

    return sessionize(_t(spark, sf_dir, "events"), gap_seconds=SESSION_GAP_S)


SQL_SESSIONIZE = f"""
WITH o AS (
  SELECT user_id, ts, event_id, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM events),
f AS (
  SELECT *, CASE WHEN ep - lag(ep) OVER w > {SESSION_GAP_S} THEN 1 ELSE 0 END AS nw
  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sno
  FROM f)
SELECT CAST(user_id AS BIGINT) AS user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(ep) - MIN(ep) AS BIGINT) AS duration_s,
       ROUND(SUM(value), 6) AS total_value
FROM s GROUP BY user_id, sno
"""


IVJ_GAP_S = 3600  # 1h session gap: many short sessions => real interval set
IVJ_ERR_WINDOW_S = 1800  # each error event casts a 30-min impact window
IVJ_BUCKET_S = 3600


def q_interval_join(spark, sf_dir):
    """Keyed interval overlap join (operators/intervals.py): per-user
    1h-gap sessions overlapped with 30-min error-impact windows — which
    sessions ran while an error of the same user was live, and for how
    long.  Bucketized equi-join form with exactly-once anchor-bucket
    attribution; never the BroadcastNestedLoopJoin a bare range
    predicate plans to."""
    from linkgraph.operators.intervals import interval_join
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    ep = F.floor(F.unix_timestamp(F.col("ts"))).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(ep - F.lag(ep).over(w) > IVJ_GAP_S, 1).otherwise(0).alias("_new"),
    )
    sess = (
        flagged.withColumn(
            "_sno", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("user_id", "_sno")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.min(F.floor(F.unix_timestamp(F.col("ts"))).cast("long")).alias("s0"),
            F.max(F.floor(F.unix_timestamp(F.col("ts"))).cast("long")).alias("s1"),
        )
        .select("user_id", "session_start", "s0", "s1")
    )
    err = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("err_id"),
        ep.alias("e0"),
        (ep + IVJ_ERR_WINDOW_S).alias("e1"),
    )
    res = interval_join(
        sess, err, on=["user_id"], lstart="s0", lend="s1",
        rstart="e0", rend="e1", bucket_s=IVJ_BUCKET_S,
    )
    return res.select(
        F.col("user_id").cast("long").alias("user_id"),
        "session_start",
        F.col("err_id").cast("long").alias("err_id"),
        "overlap_s",
    )


SQL_INTERVAL_JOIN = f"""
WITH o AS (
  SELECT user_id, ts, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM events),
f AS (
  SELECT *, CASE WHEN ep - lag(ep) OVER w > {IVJ_GAP_S} THEN 1 ELSE 0 END AS nw
  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sno
  FROM f),
sess AS (
  SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         MIN(ep) AS s0, MAX(ep) AS s1
  FROM s GROUP BY user_id, sno),
err AS (
  SELECT user_id, event_id AS err_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS e0,
         CAST(floor(epoch(ts)) AS BIGINT) + {IVJ_ERR_WINDOW_S} AS e1
  FROM events WHERE event_type = 'error')
SELECT CAST(sess.user_id AS BIGINT) AS user_id, session_start,
       CAST(err_id AS BIGINT) AS err_id,
       CAST(LEAST(s1, e1) - GREATEST(s0, e0) AS BIGINT) AS overlap_s
FROM sess JOIN err ON err.user_id = sess.user_id
WHERE s0 <= e1 AND e0 <= s1
"""


FUNNEL_STEPS = ["signup", "click", "purchase"]


def q_funnel(spark, sf_dir):
    """Ordered funnel signup→click→purchase per user, each step strictly
    after the previous step's first completion."""
    from linkgraph.operators.events import funnel_steps

    return funnel_steps(_t(spark, sf_dir, "events"), FUNNEL_STEPS)


SQL_FUNNEL = f"""
WITH u AS (SELECT DISTINCT user_id FROM events),
t1 AS (SELECT user_id, MIN(ts) AS t FROM events
       WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id),
t2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
       JOIN t1 ON t1.user_id = e.user_id
       WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > t1.t
       GROUP BY e.user_id),
t3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
       JOIN t2 ON t2.user_id = e.user_id
       WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > t2.t
       GROUP BY e.user_id)
SELECT CAST(u.user_id AS BIGINT) AS user_id,
       CAST(CASE WHEN t3.t IS NOT NULL THEN 3 WHEN t2.t IS NOT NULL THEN 2
                 WHEN t1.t IS NOT NULL THEN 1 ELSE 0 END AS INT) AS steps_completed
FROM u LEFT JOIN t1 ON t1.user_id = u.user_id
       LEFT JOIN t2 ON t2.user_id = u.user_id
       LEFT JOIN t3 ON t3.user_id = u.user_id
"""


def q_asof_view_purchase(spark, sf_dir):
    """As-of attribution: each purchase joined to the user's latest
    strictly-prior view (union-tag + single-shuffle window, never a range
    join).  NULL-free output: -1 / 0.0 sentinels keep the value hash
    engine-portable."""
    from linkgraph.operators.events import asof_join

    ev = _t(spark, sf_dir, "events")
    purch = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    res = asof_join(
        purch, views, on="user_id", ts_col="ts",
        right_cols=["event_id", "value"], strict=True, tiebreak="event_id",
    )
    lag = F.unix_timestamp("ts") - F.unix_timestamp("ts_asof")
    return res.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("value").alias("purchase_value"),
        F.coalesce(F.col("event_id_asof"), F.lit(-1)).cast("long").alias("view_event_id"),
        F.coalesce(F.col("value_asof"), F.lit(0.0)).alias("view_value"),
        F.coalesce(lag, F.lit(-1)).cast("long").alias("lag_s"),
    )


SQL_ASOF = """
WITH t AS (
  SELECT event_id, user_id, ts, value, 0 AS tag FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT event_id, user_id, ts, value, 1 AS tag FROM events WHERE event_type = 'view'),
w AS (
  SELECT *,
    last_value(CASE WHEN tag = 1
               THEN struct_pack(id := event_id, val := value, t := ts)
               END IGNORE NULLS) OVER win AS p
  FROM t
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, tag, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT CAST(event_id AS BIGINT) AS event_id, CAST(user_id AS BIGINT) AS user_id,
       value AS purchase_value,
       CAST(COALESCE(p.id, -1) AS BIGINT) AS view_event_id,
       COALESCE(p.val, 0.0) AS view_value,
       CAST(COALESCE(CAST(floor(epoch(ts)) AS BIGINT)
                     - CAST(floor(epoch(p.t)) AS BIGINT), -1) AS BIGINT) AS lag_s
FROM w WHERE tag = 0
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-duplicate clusters: connected components over the verified
    MinHash pair graph + singletons, cluster = min doc_id, with sizes."""
    from linkgraph.textops.dedup import near_duplicate_clusters

    return near_duplicate_clusters(
        _t(spark, sf_dir, "documents"),
        threshold=0.3, num_hashes=64, bands=16, hash_family="md5",
    )


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_SQL_MINHASH_CTES},
p AS (SELECT a, b FROM jac WHERE jac >= 0.3),
e2 AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
verts AS (SELECT DISTINCT src AS v FROM e2),
reach(v, u) AS (
  SELECT v, v FROM verts
  UNION
  SELECT reach.v, e2.dst FROM reach JOIN e2 ON e2.src = reach.u),
cmp AS (SELECT v AS doc_id, MIN(u) AS cluster FROM reach GROUP BY v),
allm AS (
  SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
  FROM documents d LEFT JOIN cmp c ON c.doc_id = d.doc_id),
sz AS (SELECT cluster, COUNT(*) AS csize FROM allm GROUP BY cluster)
SELECT CAST(a.doc_id AS BIGINT) AS doc_id, CAST(a.cluster AS BIGINT) AS cluster,
       CAST(s.csize AS BIGINT) AS csize
FROM allm a JOIN sz s ON s.cluster = a.cluster
"""


SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test split of the documents table — pure
    projection on a portable md5 bucket, reproducible on any engine or
    cluster shape (operators/sampling.py)."""
    from linkgraph.operators.sampling import hash_split

    return hash_split(
        _t(spark, sf_dir, "documents").select("doc_id"), "doc_id", SPLIT_WEIGHTS
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "split")


SQL_HASH_SPLIT = """
WITH b AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#split'), 1, 15) AS BIGINT)
         % 10000 AS bkt
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN bkt < 8000 THEN 'train'
            WHEN bkt < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def q_stratified_sample(spark, sf_dir):
    """~20% deterministic sample per event_type (stratum-salted hash
    bucket): pure filter, no shuffle, independent draw per stratum."""
    from linkgraph.operators.sampling import stratified_sample

    ev = _t(spark, sf_dir, "events")
    return stratified_sample(ev, "event_type", 0.2, "event_id").select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
    )


SQL_STRATIFIED_SAMPLE = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       event_type
FROM events
WHERE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#strata#' || event_type), 1, 15) AS BIGINT)
      % 10000 < 2000
"""


def q_quantiles_acctbal(spark, sf_dir):
    """§2.4 exact group quantiles: per-nation customer balance quartiles.
    Spark `percentile` and DuckDB `quantile_cont` both linearly
    interpolate on the sorted group, so values agree to FP noise
    (round-6).  At 100 TB the same query swaps in approx_percentile
    (t-digest sketch, mergeable partials) — exact percentile buffers each
    group; group cardinality here is |customers per nation|, fine for any
    dimensional grouping."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy(F.col("c_nationkey").cast("long").alias("nation")).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.expr("percentile(c_acctbal, 0.25)"), 6).alias("q25"),
        F.round(F.expr("percentile(c_acctbal, 0.5)"), 6).alias("q50"),
        F.round(F.expr("percentile(c_acctbal, 0.75)"), 6).alias("q75"),
    )


SQL_QUANTILES_ACCTBAL = """
SELECT CAST(c_nationkey AS BIGINT) AS nation,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(quantile_cont(c_acctbal, 0.25), 6) AS q25,
       ROUND(quantile_cont(c_acctbal, 0.5), 6) AS q50,
       ROUND(quantile_cont(c_acctbal, 0.75), 6) AS q75
FROM customer GROUP BY c_nationkey
"""


def q_cube_orders(spark, sf_dir):
    """A9 CUBE surface (alongside the existing ROLLUP row): all grouping
    sets of (priority, status) in one pass — Spark expands the cube into
    a single Expand + partial/final aggregate, one shuffle total."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            "n_orders",
            "sum_price",
        )
    )


SQL_CUBE_ORDERS = """
SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(o_orderstatus, 'ALL') AS status,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
"""


SCC_QTY = 43  # sparsifier: >43 gives a 36-vertex SCC + three 2-cycles + tendrils at sf0.01


def q_scc(spark, sf_dir):
    """Strongly connected components of the DIRECTED sequential
    co-purchase graph (within-order linenumber chains over high-quantity
    lineitems — cycles arise where different orders traverse parts in
    opposite sequences).  Coloring algorithm, exact at convergence."""
    from linkgraph.algos.scc import strongly_connected_components
    from linkgraph.sources.derive import sequential_copurchase_edges

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > SCC_QTY)
    return strongly_connected_components(sequential_copurchase_edges(li))


SQL_SCC = f"""
WITH RECURSIVE e AS MATERIALIZED (
  SELECT DISTINCT l_partkey AS src, nxt AS dst FROM (
    SELECT l_partkey,
           lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS nxt
    FROM lineitem WHERE l_quantity > {SCC_QTY})
  WHERE nxt IS NOT NULL AND nxt <> l_partkey),
verts AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
reach(v, u) AS (
  SELECT v, v FROM verts
  UNION
  SELECT reach.v, e.dst FROM reach JOIN e ON e.src = reach.u)
SELECT CAST(r1.v AS BIGINT) AS vid, CAST(MIN(r1.u) AS BIGINT) AS comp
FROM reach r1 JOIN reach r2 ON r2.v = r1.u AND r2.u = r1.v
GROUP BY r1.v
"""


# --------------------------------------------------- round-5 widening wave
def q_repetition_stats(spark, sf_dir):
    """Gopher-style within-doc repetition/format quality — zero-shuffle
    pure projection (top-bigram multiplicity is a fold over the sorted
    bigram array, no explode)."""
    from linkgraph.textops.textstats import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


SQL_REPETITION_STATS = f"""
WITH l AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> LENGTH(x) > 0) AS lines,
         {_SQL_TOKENS} AS ts
  FROM documents),
m AS (
  SELECT doc_id, len(lines) AS n_lines, len(list_distinct(lines)) AS n_dist,
         len(list_filter(lines, x -> regexp_matches(x, '^[-*•]'))) AS n_bul,
         len(list_filter(lines, x -> regexp_matches(x, '(\\.\\.\\.|…)$'))) AS n_ell,
         CASE WHEN len(ts) >= 2
              THEN list_sort(list_transform(range(1, len(ts)),
                                            i -> ts[i] || ' ' || ts[i + 1]))
              ELSE [] END AS bg
  FROM l),
bx AS (SELECT doc_id, unnest(bg) AS g FROM m),
top AS (
  SELECT doc_id, MAX(c) AS topc FROM (
    SELECT doc_id, g, COUNT(*) AS c FROM bx GROUP BY doc_id, g)
  GROUP BY doc_id),
r AS (
  SELECT m.doc_id AS doc_id,
    CAST(n_lines AS BIGINT) AS n_lines,
    ROUND(CASE WHEN n_lines > 0 THEN (n_lines - n_dist) / CAST(n_lines AS DOUBLE)
               ELSE 0.0 END, 4) AS dup_line_ratio,
    ROUND(CASE WHEN len(bg) > 0 THEN COALESCE(t.topc, 0) / CAST(len(bg) AS DOUBLE)
               ELSE 0.0 END, 4) AS top_bigram_ratio,
    ROUND(CASE WHEN n_lines > 0 THEN n_bul / CAST(n_lines AS DOUBLE)
               ELSE 0.0 END, 4) AS bullet_line_ratio,
    ROUND(CASE WHEN n_lines > 0 THEN n_ell / CAST(n_lines AS DOUBLE)
               ELSE 0.0 END, 4) AS ellipsis_line_ratio
  FROM m LEFT JOIN top t ON t.doc_id = m.doc_id)
SELECT doc_id, n_lines, dup_line_ratio, top_bigram_ratio, bullet_line_ratio,
       ellipsis_line_ratio,
       (dup_line_ratio > 0.30 OR top_bigram_ratio > 0.18
        OR bullet_line_ratio > 0.90 OR ellipsis_line_ratio > 0.30) AS flagged
FROM r
"""


CONTAM_N = 5  # shared word-n-gram width between engine and oracle


def q_contamination(spark, sf_dir):
    """Cross-split n-gram contamination audit: every eval doc's distinct
    5-gram overlap with the train split (hash-split 80/20, the same md5
    buckets as hash_split)."""
    from linkgraph.textops.dedup import contamination_check

    return contamination_check(
        _t(spark, sf_dir, "documents"), n=CONTAM_N, train_frac=0.8
    )


SQL_CONTAMINATION = f"""
WITH base AS (
  SELECT doc_id,
    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#split'), 1, 15) AS BIGINT)
      % 10000 < 8000 AS is_train,
    {_SQL_TOKENS} AS ts
  FROM documents),
sh AS (
  SELECT doc_id, is_train,
    CASE WHEN len(ts) >= {CONTAM_N}
         THEN list_transform(range(1, len(ts) - {CONTAM_N} + 2),
              i -> CAST('0x' || substr(md5(array_to_string(
                     list_slice(ts, i, i + {CONTAM_N} - 1), ' ')), 1, 15) AS BIGINT))
         ELSE [] END AS shl
  FROM base),
tr AS (SELECT DISTINCT unnest(shl) AS h FROM sh WHERE is_train),
evs AS (SELECT DISTINCT doc_id, unnest(shl) AS h FROM sh WHERE NOT is_train),
tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM evs GROUP BY doc_id),
hit AS (SELECT doc_id, COUNT(*) AS n_hit FROM evs
        WHERE h IN (SELECT h FROM tr) GROUP BY doc_id)
SELECT CAST(e.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(t.n_sh, 0) AS BIGINT) AS n_shingles,
       CAST(COALESCE(ht.n_hit, 0) AS BIGINT) AS n_hit,
       ROUND(CASE WHEN COALESCE(t.n_sh, 0) > 0
                  THEN COALESCE(ht.n_hit, 0) / CAST(t.n_sh AS DOUBLE)
                  ELSE 0.0 END, 4) AS contamination_ratio
FROM (SELECT doc_id FROM sh WHERE NOT is_train) e
LEFT JOIN tot t ON t.doc_id = e.doc_id
LEFT JOIN hit ht ON ht.doc_id = e.doc_id
"""


def q_community_modularity(spark, sf_dir):
    """Per-community modularity decomposition of the LPA labels on the
    user graph — Σ q_contrib is Newman's Q for the assignment."""
    from linkgraph.algos.gstats import community_modularity
    from linkgraph.algos.labelprop import label_propagation

    # events_user_edges is its own transpose by construction (both
    # directions of every shared-key pair) — declare it so the symmetric-
    # graph preconditions of modularity/MIS hold.
    g = LinkGraph(derive.events_user_edges(_t(spark, sf_dir, "events")), symmetric=True)
    labels = label_propagation(g, max_iter=LPA_ITERS)
    return community_modularity(g, labels)


def _modularity_oracle_sql(iters: int) -> str:
    lpa = _lpa_oracle_sql(iters)
    head, _, _ = lpa.rpartition("\nSELECT")
    return (
        head
        + f""",
lab AS MATERIALIZED (SELECT vid, label FROM l{iters}),
mm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS M FROM e),
deg AS (SELECT src AS vid, COUNT(*) AS deg FROM e GROUP BY src),
internal AS (
  SELECT a.label AS label, COUNT(*) AS internal_edges
  FROM e JOIN lab a ON a.vid = e.src JOIN lab b ON b.vid = e.dst
  WHERE a.label = b.label GROUP BY a.label),
comm AS (
  SELECT label, COUNT(*) AS n_vertices, SUM(deg) AS degree_sum
  FROM deg JOIN lab ON lab.vid = deg.vid GROUP BY label)
SELECT CAST(c.label AS BIGINT) AS label,
       CAST(c.n_vertices AS BIGINT) AS n_vertices,
       CAST(COALESCE(i.internal_edges, 0) AS BIGINT) AS internal_edges,
       CAST(c.degree_sum AS BIGINT) AS degree_sum,
       ROUND(COALESCE(i.internal_edges, 0) / mm.M
             - (c.degree_sum / mm.M) * (c.degree_sum / mm.M), 6) AS q_contrib
FROM comm c LEFT JOIN internal i ON i.label = c.label CROSS JOIN mm
"""
    )


SQL_COMMUNITY_MODULARITY = _modularity_oracle_sql(LPA_ITERS)


MIS_ROUNDS = 8  # shared Luby-round budget between engine and unrolled oracle


def q_maximal_independent_set(spark, sf_dir):
    """Deterministic Luby MIS on the user graph — every round is the
    hash-priority argmin over undecided neighborhoods, so the unrolled
    DuckDB oracle reproduces the set bit-for-bit."""
    from linkgraph.algos.mis import maximal_independent_set

    g = LinkGraph(derive.events_user_edges(_t(spark, sf_dir, "events")), symmetric=True)
    return maximal_independent_set(g, rounds=MIS_ROUNDS)


def _mis_oracle_sql(rounds: int) -> str:
    steps = []
    for r in range(1, rounds + 1):
        steps.append(f"""
p{r} AS MATERIALIZED (
  SELECT vid,
         CAST('0x' || substr(md5('{r}:' || CAST(vid AS VARCHAR)), 1, 15) AS BIGINT) AS p
  FROM u{r - 1}),
n{r} AS MATERIALIZED (
  SELECT e.src AS vid, MIN(b.p) AS mn
  FROM e JOIN p{r} b ON b.vid = e.dst GROUP BY e.src),
w{r} AS MATERIALIZED (
  SELECT a.vid AS vid, {r} AS joined_round
  FROM p{r} a LEFT JOIN n{r} n ON n.vid = a.vid
  WHERE n.mn IS NULL OR a.p < n.mn),
x{r} AS MATERIALIZED (SELECT DISTINCT e.dst AS vid FROM e JOIN w{r} w ON w.vid = e.src),
u{r} AS MATERIALIZED (
  SELECT vid FROM u{r - 1}
  WHERE vid NOT IN (SELECT vid FROM w{r}) AND vid NOT IN (SELECT vid FROM x{r}))""")
    winners = " UNION ALL ".join(
        f"SELECT vid, joined_round FROM w{r}" for r in range(1, rounds + 1)
    )
    return (
        f"WITH {_USER_E_MAT},\n"
        "u0 AS MATERIALIZED (SELECT DISTINCT src AS vid FROM e),"
        + ",".join(steps)
        + f"\nSELECT CAST(vid AS BIGINT) AS vid, CAST(joined_round AS INT) AS joined_round"
        f" FROM ({winners})"
    )


SQL_MAXIMAL_INDEPENDENT_SET = _mis_oracle_sql(MIS_ROUNDS)


COLOR_ROUNDS = 8  # shared Jones-Plassmann round budget (engine == oracle)


def q_greedy_coloring(spark, sf_dir):
    """Deterministic Jones-Plassmann greedy coloring on the user graph —
    fixed md5 priorities, per-round winners are a Luby independent set,
    smallest-free-color read off a 64-bit used mask; the unrolled DuckDB
    oracle reproduces every round bit-for-bit."""
    from linkgraph.algos.coloring import greedy_coloring

    g = LinkGraph(derive.events_user_edges(_t(spark, sf_dir, "events")), symmetric=True)
    return greedy_coloring(g, rounds=COLOR_ROUNDS)


def _coloring_oracle_sql(rounds: int) -> str:
    steps = []
    for r in range(1, rounds + 1):
        steps.append(f"""
p{r} AS MATERIALIZED (
  SELECT vid, used,
         CAST('0x' || substr(md5('c:' || CAST(vid AS VARCHAR)), 1, 15) AS BIGINT) AS p
  FROM s{r - 1}),
n{r} AS MATERIALIZED (
  SELECT e.src AS vid, MIN(b.p) AS mn
  FROM e JOIN p{r} b ON b.vid = e.dst GROUP BY e.src),
w{r} AS MATERIALIZED (
  SELECT a.vid AS vid,
         bit_count((~a.used & (a.used + 1)) - 1) AS color,
         {r} AS colored_round
  FROM p{r} a LEFT JOIN n{r} n ON n.vid = a.vid
  WHERE n.mn IS NULL OR a.p < n.mn),
x{r} AS MATERIALIZED (
  SELECT e.dst AS vid, bit_or(1::BIGINT << w.color) AS nb
  FROM e JOIN w{r} w ON w.vid = e.src GROUP BY e.dst),
s{r} AS MATERIALIZED (
  SELECT s.vid AS vid, s.used | COALESCE(x.nb, 0) AS used
  FROM s{r - 1} s LEFT JOIN x{r} x ON x.vid = s.vid
  WHERE s.vid NOT IN (SELECT vid FROM w{r}))""")
    winners = " UNION ALL ".join(
        f"SELECT vid, color, colored_round FROM w{r}" for r in range(1, rounds + 1)
    )
    return (
        f"WITH {_USER_E_MAT},\n"
        "s0 AS MATERIALIZED (SELECT DISTINCT src AS vid, 0::BIGINT AS used FROM e),"
        + ",".join(steps)
        + "\nSELECT CAST(vid AS BIGINT) AS vid, CAST(color AS INT) AS color,"
        " CAST(colored_round AS INT) AS colored_round"
        f" FROM ({winners})"
    )


SQL_GREEDY_COLORING = _coloring_oracle_sql(COLOR_ROUNDS)


def q_ngram_topk(spark, sf_dir):
    """Corpus-wide top-20 trigrams — explode + one hash aggregate
    (map-side combined) + TakeOrdered; text never shuffles."""
    from linkgraph.textops.collocations import ngram_topk

    return ngram_topk(_t(spark, sf_dir, "documents"), n=3, k=20)


SQL_NGRAM_TOPK = f"""
WITH tok AS (SELECT {_SQL_TOKENS} AS ts FROM documents),
g AS (
  SELECT unnest(CASE WHEN len(ts) >= 3
                     THEN list_transform(range(1, len(ts) - 1),
                          i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])
                     ELSE [] END) AS gram
  FROM tok)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt
FROM g GROUP BY gram
ORDER BY cnt DESC, gram ASC LIMIT 20
"""


def q_pmi_collocations(spark, sf_dir):
    """Top-50 adjacent-bigram PMI collocations (min count 5): bigram
    counts vs broadcast unigram marginals, ln rounded to 6 (the TF-IDF
    portability contract)."""
    from linkgraph.textops.collocations import pmi_collocations

    return pmi_collocations(_t(spark, sf_dir, "documents"), k=50, min_count=5)


SQL_PMI_COLLOCATIONS = f"""
WITH tok AS MATERIALIZED (SELECT {_SQL_TOKENS} AS ts FROM documents),
tt AS MATERIALIZED (SELECT unnest(ts) AS w FROM tok),
uni AS MATERIALIZED (SELECT w, COUNT(*) AS nw FROM tt GROUP BY w),
tot_t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS T FROM tt),
bi AS MATERIALIZED (
  SELECT unnest(CASE WHEN len(ts) >= 2
                     THEN list_transform(range(1, len(ts)),
                          i -> ts[i] || ' ' || ts[i + 1])
                     ELSE [] END) AS g
  FROM tok),
tot_b AS (SELECT CAST(COUNT(*) AS DOUBLE) AS B FROM bi),
bic AS (
  SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2,
         COUNT(*) AS n_pair
  FROM bi GROUP BY g HAVING COUNT(*) >= 5)
SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
       ROUND(ln((n_pair / B) / ((a.nw / T) * (b.nw / T))), 6) AS pmi
FROM bic JOIN uni a ON a.w = bic.w1 JOIN uni b ON b.w = bic.w2
CROSS JOIN tot_b CROSS JOIN tot_t
ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 50
"""


TEMPORAL_W = 600  # contact window (s) shared between engine and oracle
TEMPORAL_ROUNDS = 6  # shared relaxation budget (fixpoint-stable beyond it)


def q_temporal_reach(spark, sf_dir):
    """Time-respecting earliest-arrival reachability over contact edges
    (same event_type within 600 s, contact at the later timestamp) from
    the deterministic source set user_id % 37 == 0.  Static reachability
    overstates temporal reachability; this is the propagation-question
    operator.  Banded interval self-join derivation — never a cross
    product."""
    from linkgraph.operators.temporal import earliest_arrival, temporal_contact_edges

    ev = _t(spark, sf_dir, "events")
    te = temporal_contact_edges(ev, window_s=TEMPORAL_W)
    srcs = (
        ev.select(F.col("user_id").alias("vid"))
        .where(F.col("vid") % 37 == 0)
        .distinct()
    )
    return earliest_arrival(te, srcs, rounds=TEMPORAL_ROUNDS)


def _temporal_oracle_sql(rounds: int, window_s: int) -> str:
    steps = []
    for r in range(1, rounds + 1):
        steps.append(f"""
c{r} AS MATERIALIZED (
  SELECT te.dst AS vid, MIN(te.t) AS cand
  FROM te JOIN a{r - 1} f ON f.vid = te.src AND te.t >= f.arr
  GROUP BY te.dst),
a{r} AS MATERIALIZED (
  SELECT COALESCE(a.vid, c.vid) AS vid,
         CASE WHEN c.cand IS NOT NULL AND (a.arr IS NULL OR c.cand < a.arr)
              THEN c.cand ELSE a.arr END AS arr
  FROM a{r - 1} a FULL OUTER JOIN c{r} c ON c.vid = a.vid)""")
    return (
        f"""WITH ev AS MATERIALIZED (
  SELECT user_id AS u, event_type AS k, CAST(floor(epoch(ts)) AS BIGINT) AS e
  FROM events),
pairs AS MATERIALIZED (
  SELECT a.u AS pa, b.u AS pb, greatest(a.e, b.e) AS t
  FROM ev a JOIN ev b
    ON a.k = b.k AND a.u < b.u AND abs(a.e - b.e) <= {window_s}
  GROUP BY 1, 2, 3),
te AS MATERIALIZED (
  SELECT pa AS src, pb AS dst, t FROM pairs
  UNION ALL
  SELECT pb AS src, pa AS dst, t FROM pairs),
a0 AS MATERIALIZED (
  SELECT DISTINCT user_id AS vid, CAST(-1 AS BIGINT) AS arr
  FROM events WHERE user_id % 37 = 0),"""
        + ",".join(steps)
        + f"\nSELECT CAST(vid AS BIGINT) AS vid, CAST(arr AS BIGINT) AS arrival"
        f" FROM a{rounds}"
    )


SQL_TEMPORAL_REACH = _temporal_oracle_sql(TEMPORAL_ROUNDS, TEMPORAL_W)


def q_pii_scrub(spark, sf_dir):
    """PII redaction over the documents table — zero-shuffle projection.

    The synthetic corpus carries no organic PII, so the query first
    plants deterministic doc_id-derived email/IP/phone strings (same
    expression in the oracle); the hash match then certifies the full
    regex surface — counts AND scrubbed bytes — is engine-portable."""
    from linkgraph.textops.pii import pii_scrub

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact u"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-010"),
                F.col("doc_id").cast("string"),
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".1"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return pii_scrub(docs)


SQL_PII_SCRUB = """
WITH aug AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0
         THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-010' || CAST(doc_id AS VARCHAR)
              || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
         ELSE text END AS text
  FROM documents),
s1 AS (
  SELECT doc_id,
    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
  FROM aug),
s2 AS (
  SELECT doc_id, n_emails,
    len(regexp_extract_all(t1, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS n_ipv4,
    regexp_replace(t1, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g') AS t2
  FROM s1)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(n_emails AS BIGINT) AS n_emails,
  CAST(n_ipv4 AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(t2, '\\+?[0-9][0-9() -]{6,}[0-9]\\b')) AS BIGINT) AS n_phones,
  CAST(n_emails + n_ipv4
       + len(regexp_extract_all(t2, '\\+?[0-9][0-9() -]{6,}[0-9]\\b')) AS BIGINT) AS n_pii,
  regexp_replace(t2, '\\+?[0-9][0-9() -]{6,}[0-9]\\b', '<PHONE>', 'g') AS clean_text
FROM s2
"""


LOUVAIN_ROUNDS = 6  # fixed local-move budget shared engine <-> oracle


def q_louvain(spark, sf_dir):
    """Deterministic Louvain local moves on the user graph — all-integer
    modularity gains (argmax exact in any engine), md5-parity move
    eligibility, 6 unrolled synchronous rounds mirrored bit-for-bit by
    the DuckDB oracle."""
    from linkgraph.algos.louvain import louvain_local_move

    g = LinkGraph(derive.events_user_edges(_t(spark, sf_dir, "events")), symmetric=True)
    return louvain_local_move(g, rounds=LOUVAIN_ROUNDS)


def _louvain_oracle_sql(rounds: int) -> str:
    steps = []
    for r in range(1, rounds + 1):
        steps.append(f"""
kv{r} AS MATERIALIZED (
  SELECT e.dst AS vid, lb.label AS c, CAST(COUNT(*) AS BIGINT) AS k
  FROM e JOIN l{r - 1} lb ON lb.vid = e.src GROUP BY e.dst, lb.label),
ct{r} AS MATERIALIZED (
  SELECT l.label AS label, CAST(SUM(d.deg) AS BIGINT) AS dc
  FROM l{r - 1} l JOIN deg d ON d.vid = l.vid GROUP BY l.label),
cand{r} AS MATERIALIZED (
  SELECT kv.vid AS v, kv.c AS b, mm.M * kv.k - d.deg * ct.dc AS score
  FROM kv{r} kv JOIN l{r - 1} a ON a.vid = kv.vid AND kv.c <> a.label
  JOIN deg d ON d.vid = kv.vid
  JOIN ct{r} ct ON ct.label = kv.c CROSS JOIN mm),
base{r} AS MATERIALIZED (
  SELECT l.vid AS v,
         mm.M * COALESCE(ka.k, 0) - d.deg * (cta.dc - d.deg) AS base
  FROM l{r - 1} l JOIN deg d ON d.vid = l.vid
  JOIN ct{r} cta ON cta.label = l.label
  LEFT JOIN kv{r} ka ON ka.vid = l.vid AND ka.c = l.label CROSS JOIN mm),
best{r} AS MATERIALIZED (
  SELECT v, b, score FROM (
    SELECT v, b, score,
           row_number() OVER (PARTITION BY v ORDER BY score DESC, b ASC) AS rn
    FROM cand{r}) WHERE rn = 1),
l{r} AS MATERIALIZED (
  SELECT l.vid,
         CASE WHEN bt.b IS NOT NULL AND bt.score > bs.base
                   AND CAST('0x' || substr(md5('mv{r}:' || CAST(l.vid AS VARCHAR)), 1, 15)
                            AS BIGINT) % 2 = 0
              THEN bt.b ELSE l.label END AS label
  FROM l{r - 1} l JOIN base{r} bs ON bs.v = l.vid
  LEFT JOIN best{r} bt ON bt.v = l.vid)""")
    return (
        f"WITH {_USER_E_MAT},\n"
        "deg AS MATERIALIZED (SELECT src AS vid, CAST(COUNT(*) AS BIGINT) AS deg"
        " FROM e GROUP BY src),\n"
        "mm AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS M FROM e),\n"
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS vid, src AS label FROM e),"
        + ",".join(steps)
        + f"\nSELECT CAST(vid AS BIGINT) AS vid, CAST(label AS BIGINT) AS label"
        f" FROM l{rounds}"
    )


SQL_LOUVAIN = _louvain_oracle_sql(LOUVAIN_ROUNDS)


def q_community_conductance(spark, sf_dir):
    """Per-community conductance of the Louvain labels on the user graph
    — the community-quality report (modularity says "better than
    chance"; conductance says "how leaky is each community's boundary").
    Composition: louvain_local_move × partition_conductance."""
    from linkgraph.algos.gstats import partition_conductance
    from linkgraph.algos.louvain import louvain_local_move

    g = LinkGraph(derive.events_user_edges(_t(spark, sf_dir, "events")), symmetric=True)
    labels = louvain_local_move(g, rounds=LOUVAIN_ROUNDS)
    return partition_conductance(g, labels)


def _community_conductance_sql() -> str:
    base = _louvain_oracle_sql(LOUVAIN_ROUNDS)
    head, _ = base.rsplit("\nSELECT CAST(vid AS BIGINT)", 1)
    R = LOUVAIN_ROUNDS
    return (
        head
        + f""",
labf AS MATERIALIZED (SELECT vid, label FROM l{R}),
m2c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM e),
cutc AS MATERIALIZED (
  SELECT ls.label AS label, COUNT(*) AS cut
  FROM e JOIN labf ls ON ls.vid = e.src JOIN labf ld ON ld.vid = e.dst
  WHERE ls.label <> ld.label GROUP BY ls.label),
volc AS MATERIALIZED (
  SELECT labf.label, COUNT(*) AS n_vertices, SUM(deg.deg) AS vol
  FROM deg JOIN labf USING (vid) GROUP BY labf.label)
SELECT CAST(label AS BIGINT) AS label, CAST(n_vertices AS BIGINT) AS n_vertices,
       CAST(vol AS BIGINT) AS vol, CAST(COALESCE(cutc.cut, 0) AS BIGINT) AS cut,
       ROUND(COALESCE(cutc.cut, 0) / (CASE
         WHEN LEAST(CAST(vol AS DOUBLE), (SELECT m FROM m2c) - vol) > 0
         THEN LEAST(CAST(vol AS DOUBLE), (SELECT m FROM m2c) - vol) END), 6)
         AS conductance
FROM volc LEFT JOIN cutc USING (label)"""
    )


SQL_COMMUNITY_CONDUCTANCE = _community_conductance_sql()


def q_shortest_path_tree(spark, sf_dir):
    """Shortest-path tree (vid, dist, parent) over the same weighted
    graph and sources as sssp_weighted (post-pass argmin parents)."""
    from linkgraph.algos.sssp import shortest_path_tree

    ew = derive.copurchase_weighted_edges(_t(spark, sf_dir, "lineitem")).select(
        "src", "dst", F.expr("CAST((100 + w - 1) DIV w AS BIGINT)").alias("w")
    )
    g = LinkGraph(ew, symmetric=True)
    seeds = [
        r[0]
        for r in _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("s"))
        .distinct()
        .orderBy("s")
        .limit(4)
        .collect()
    ]
    out = shortest_path_tree(g, seeds, rounds=SSSP_ROUNDS).localCheckpoint(
        eager=True
    )
    g.unpersist()
    return out


def _spt_oracle_sql(rounds: int) -> str:
    base = _sssp_oracle_sql(rounds)
    head, _ = base.rsplit("\nSELECT CAST(vid AS BIGINT)", 1)
    return (
        head
        + f""",
srcv AS (SELECT vid FROM d0),
tree AS MATERIALIZED (
  SELECT ew.dst, MIN(ew.src) AS parent
  FROM ew JOIN d{rounds} du ON du.vid = ew.src
          JOIN d{rounds} dv ON dv.vid = ew.dst
  WHERE du.dist + ew.w = dv.dist
    AND ew.dst NOT IN (SELECT vid FROM srcv)
  GROUP BY ew.dst)
SELECT CAST(d.vid AS BIGINT) AS vid, CAST(d.dist AS BIGINT) AS dist,
       CAST(tree.parent AS BIGINT) AS parent
FROM d{rounds} d LEFT JOIN tree ON tree.dst = d.vid"""
    )


SQL_SHORTEST_PATH_TREE = _spt_oracle_sql(SSSP_ROUNDS)


EVENT_TRIGRAM_TOPK = 20


def q_event_trigrams(spark, sf_dir):
    """Top-20 ordered event-type trigrams (dialogue-act sequences)."""
    from linkgraph.operators.events import event_trigrams

    return event_trigrams(_t(spark, sf_dir, "events"), topk=EVENT_TRIGRAM_TOPK)


SQL_EVENT_TRIGRAMS = f"""
WITH o AS (
  SELECT event_type AS t1,
         LEAD(event_type, 1) OVER w AS t2,
         LEAD(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS cnt
FROM o WHERE t2 IS NOT NULL AND t3 IS NOT NULL
GROUP BY t1, t2, t3
ORDER BY cnt DESC, t1 ASC, t2 ASC, t3 ASC LIMIT {EVENT_TRIGRAM_TOPK}
"""


def q_rfm_segments(spark, sf_dir):
    """RFM quartile segmentation of customers over orders."""
    from linkgraph.operators.events import rfm_segments

    return rfm_segments(_t(spark, sf_dir, "orders"))


SQL_RFM_SEGMENTS = """
WITH per AS MATERIALIZED (
  SELECT CAST(o_custkey AS BIGINT) AS custkey,
         MAX(o_orderdate) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         ROUND(SUM(o_totalprice), 2) AS monetary
  FROM orders GROUP BY o_custkey),
gm AS (SELECT MAX(o_orderdate) AS gmax FROM orders),
pr AS MATERIALIZED (
  SELECT custkey,
         CAST(datediff('day', last_order, (SELECT gmax FROM gm)) AS BIGINT)
           AS recency_days,
         frequency, monetary
  FROM per),
th AS (
  SELECT quantile_cont(recency_days, 0.25) AS rq25,
         quantile_cont(recency_days, 0.5) AS rq50,
         quantile_cont(recency_days, 0.75) AS rq75,
         quantile_cont(frequency, 0.25) AS fq25,
         quantile_cont(frequency, 0.5) AS fq50,
         quantile_cont(frequency, 0.75) AS fq75,
         quantile_cont(monetary, 0.25) AS mq25,
         quantile_cont(monetary, 0.5) AS mq50,
         quantile_cont(monetary, 0.75) AS mq75
  FROM pr)
SELECT custkey, recency_days, frequency, monetary,
       CAST(1 + (recency_days > rq25)::INT + (recency_days > rq50)::INT
              + (recency_days > rq75)::INT AS BIGINT) AS r_bucket,
       CAST(1 + (frequency > fq25)::INT + (frequency > fq50)::INT
              + (frequency > fq75)::INT AS BIGINT) AS f_bucket,
       CAST(1 + (monetary > mq25)::INT + (monetary > mq50)::INT
              + (monetary > mq75)::INT AS BIGINT) AS m_bucket
FROM pr, th
"""


def q_session_histogram(spark, sf_dir):
    """Session-length distribution over the 8h-gap sessions."""
    from linkgraph.operators.events import session_histogram

    return session_histogram(_t(spark, sf_dir, "events"), gap_seconds=SESSION_GAP_S)


SQL_SESSION_HISTOGRAM = f"""
WITH o AS (
  SELECT user_id, ts, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM events),
f AS (
  SELECT *, CASE WHEN ep - lag(ep) OVER w > {SESSION_GAP_S} THEN 1 ELSE 0 END AS nw
  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sno
  FROM f),
sess AS (SELECT user_id, sno, COUNT(*) AS n_events FROM s GROUP BY user_id, sno)
SELECT CAST(n_events AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM sess GROUP BY n_events
"""


def q_chi_square(spark, sf_dir):
    """Chi-square contingency of order priority x status."""
    from linkgraph.operators.events import chi_square_contingency

    return chi_square_contingency(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_orderstatus"
    )


SQL_CHI_SQUARE = """
WITH obs AS MATERIALIZED (
  SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*) AS o
  FROM orders GROUP BY 1, 2),
ra AS (SELECT a, SUM(o) AS ta FROM obs GROUP BY a),
cb AS (SELECT b, SUM(o) AS tb FROM obs GROUP BY b),
nn AS (SELECT CAST(SUM(o) AS DOUBLE) AS n FROM obs)
SELECT ra.a, cb.b, CAST(COALESCE(obs.o, 0) AS BIGINT) AS observed,
       ROUND(ra.ta * cb.tb / (SELECT n FROM nn), 6) AS expected,
       ROUND((COALESCE(obs.o, 0) - ra.ta * cb.tb / (SELECT n FROM nn))
             * (COALESCE(obs.o, 0) - ra.ta * cb.tb / (SELECT n FROM nn))
             / (ra.ta * cb.tb / (SELECT n FROM nn)), 6) AS contrib
FROM ra CROSS JOIN cb LEFT JOIN obs ON obs.a = ra.a AND obs.b = cb.b
"""


def q_degree_gini(spark, sf_dir):
    """Gini coefficient of the co-purchase degree distribution."""
    from linkgraph.algos.gstats import degree_gini

    return degree_gini(copurchase_graph(spark, sf_dir))


SQL_DEGREE_GINI = f"""
WITH {_COPURCHASE_E},
d AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
hist AS MATERIALIZED (SELECT deg AS v, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY deg),
blocks AS (
  SELECT v, c,
         CAST(COALESCE(SUM(c) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM hist),
agg AS (
  SELECT SUM(c) AS n, SUM(v * c) AS sx,
         SUM(v * (c * cum_before + c * (c + 1) // 2)) AS six
  FROM blocks)
SELECT CAST(n AS BIGINT) AS n_vertices, CAST(sx AS BIGINT) AS total_deg,
       ROUND((2.0 * six - (n + 1) * CAST(sx AS DOUBLE)) / (n * CAST(sx AS DOUBLE)), 6)
         AS gini
FROM agg
"""


def q_char_entropy(spark, sf_dir):
    """Per-doc character entropy (garbled-text / blob detector)."""
    from linkgraph.textops.textstats import char_entropy

    return char_entropy(_t(spark, sf_dir, "documents"))


SQL_CHAR_ENTROPY = """
WITH ch AS (
  SELECT doc_id, unnest(string_split_regex(text, '')) AS ch FROM documents),
cnt AS MATERIALIZED (
  SELECT doc_id, ch, COUNT(*) AS c FROM ch WHERE ch <> '' GROUP BY doc_id, ch)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(SUM(c) AS BIGINT) AS n_chars,
       ROUND(LN(CAST(SUM(c) AS DOUBLE)) - SUM(c * LN(c)) / SUM(c), 6) AS entropy
FROM cnt GROUP BY doc_id
"""


def q_daily_active(spark, sf_dir):
    """DAU series: per-day event and distinct-user counts."""
    from linkgraph.operators.events import daily_active

    return daily_active(_t(spark, sf_dir, "events"))


SQL_DAILY_ACTIVE = """
SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1
"""


def q_retention_cohorts(spark, sf_dir):
    """Retention triangle over the events stream."""
    from linkgraph.operators.events import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"))


SQL_RETENTION_COHORTS = """
WITH first AS MATERIALIZED (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS c0 FROM events GROUP BY user_id)
SELECT strftime(first.c0, '%Y-%m-%d') AS cohort_day,
       CAST(datediff('day', first.c0, CAST(e.ts AS DATE)) AS BIGINT) AS day_offset,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e JOIN first USING (user_id)
GROUP BY 1, 2
"""


CTFIDF_K = 5


def q_ctfidf(spark, sf_dir):
    """Top-5 c-TF-IDF characteristic terms per source."""
    from linkgraph.textops.textstats import ctfidf_topk

    return ctfidf_topk(_t(spark, sf_dir, "documents"), group_col="source", k=CTFIDF_K)


SQL_CTFIDF = f"""
WITH tok AS (SELECT source AS grp, unnest({_SQL_TOKENS}) AS term FROM documents),
tf AS MATERIALIZED (SELECT grp, term, COUNT(*) AS tf FROM tok GROUP BY grp, term),
gf AS MATERIALIZED (SELECT term, COUNT(*) AS gf FROM tf GROUP BY term),
ng AS (SELECT CAST(COUNT(DISTINCT source) AS DOUBLE) AS g FROM documents),
sc AS (SELECT grp, term, tf,
              ROUND(tf * LN((SELECT g FROM ng) / gf), 6) AS score
       FROM tf JOIN gf USING (term))
SELECT grp AS source, term, CAST(tf AS BIGINT) AS tf, score
FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY grp ORDER BY score DESC, term ASC) AS rk FROM sc)
WHERE rk <= {CTFIDF_K}
"""


def q_bowtie(spark, sf_dir):
    """Bow-tie decomposition of the directed sequential co-purchase
    graph [Broder et al. 2000]: sizes of the largest SCC, its IN/OUT
    reachability sets, and everything else."""
    from linkgraph.algos.scc import bowtie_decomposition
    from linkgraph.sources.derive import sequential_copurchase_edges

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > SCC_QTY)
    return bowtie_decomposition(sequential_copurchase_edges(li))


SQL_BOWTIE = f"""
WITH RECURSIVE e AS MATERIALIZED (
  SELECT DISTINCT l_partkey AS src, nxt AS dst FROM (
    SELECT l_partkey,
           lead(l_partkey) OVER (PARTITION BY l_orderkey
                ORDER BY l_linenumber, l_partkey) AS nxt
    FROM lineitem WHERE l_quantity > {SCC_QTY})
  WHERE nxt IS NOT NULL AND nxt <> l_partkey),
verts AS MATERIALIZED (
  SELECT DISTINCT v FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
reach(v, u) AS (
  SELECT v, v FROM verts
  UNION
  SELECT reach.v, e.dst FROM reach JOIN e ON e.src = reach.u),
sccm AS MATERIALIZED (
  SELECT r1.v AS vid, MIN(r1.u) AS comp
  FROM reach r1 JOIN reach r2 ON r2.v = r1.u AND r2.u = r1.v
  GROUP BY r1.v),
top AS (SELECT comp FROM (
  SELECT comp, COUNT(*) AS n FROM sccm GROUP BY comp
  ORDER BY n DESC, comp ASC LIMIT 1)),
s AS MATERIALIZED (SELECT vid FROM sccm WHERE comp = (SELECT comp FROM top)),
outr AS MATERIALIZED (
  SELECT DISTINCT r.u AS vid FROM reach r JOIN s ON s.vid = r.v
  WHERE r.u NOT IN (SELECT vid FROM s)),
inr AS MATERIALIZED (
  SELECT DISTINCT r.v AS vid FROM reach r JOIN s ON s.vid = r.u
  WHERE r.v NOT IN (SELECT vid FROM s))
SELECT CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS scc_size,
       CAST((SELECT COUNT(*) FROM inr) AS BIGINT) AS in_size,
       CAST((SELECT COUNT(*) FROM outr) AS BIGINT) AS out_size,
       CAST((SELECT COUNT(*) FROM verts) - (SELECT COUNT(*) FROM s)
            - (SELECT COUNT(*) FROM inr) - (SELECT COUNT(*) FROM outr)
            AS BIGINT) AS other_size,
       CAST((SELECT COUNT(*) FROM verts) AS BIGINT) AS n_vertices
"""


def q_hourly_profile(spark, sf_dir):
    """Time-of-day seasonality of the events stream."""
    from linkgraph.operators.events import hourly_profile

    return hourly_profile(_t(spark, sf_dir, "events"))


SQL_HOURLY_PROFILE = """
SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1
"""


AB_BASELINE = "view"


def q_value_ab(spark, sf_dir):
    """Welch z of value per event type vs the 'view' baseline."""
    from linkgraph.operators.events import value_ab_test

    return value_ab_test(_t(spark, sf_dir, "events"), baseline_type=AB_BASELINE)


SQL_VALUE_AB = f"""
WITH mom AS MATERIALIZED (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         AVG(value) AS m, VAR_SAMP(value) AS v
  FROM events GROUP BY event_type),
base AS (SELECT n AS n0, m AS m0, v AS v0 FROM mom
         WHERE event_type = '{AB_BASELINE}')
SELECT event_type, n, ROUND(m, 6) AS mean_v,
       ROUND((m - base.m0) / SQRT(v / n + base.v0 / base.n0), 6) AS z
FROM mom, base WHERE event_type <> '{AB_BASELINE}'
"""


def q_corpus_composition(spark, sf_dir):
    """Mixture-weight report: per (lang, source) doc/token shares."""
    from linkgraph.textops.textstats import corpus_composition

    return corpus_composition(_t(spark, sf_dir, "documents"))


SQL_CORPUS_COMPOSITION = f"""
WITH per AS MATERIALIZED (
  SELECT lang, source,
         CAST(len({_SQL_TOKENS}) AS BIGINT) AS nt
  FROM documents),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd, CAST(SUM(nt) AS DOUBLE) AS tt FROM per)
SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens,
       ROUND(COUNT(*) / (SELECT nd FROM tot), 6) AS doc_share,
       ROUND(SUM(nt) / (SELECT tt FROM tot), 6) AS token_share
FROM per GROUP BY lang, source
"""


CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_correlation_matrix(spark, sf_dir):
    """Pearson correlations of the lineitem numeric columns (single-scan
    moment aggregate)."""
    from linkgraph.algos.gstats import correlation_matrix

    return correlation_matrix(_t(spark, sf_dir, "lineitem"), CORR_COLS)


def _corr_sql(cols):
    cells = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            cells.append(f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
  ROUND((COUNT(*) * SUM({a}*{b}) - SUM({a}) * SUM({b}))
        / SQRT((COUNT(*) * SUM({a}*{a}) - SUM({a}) * SUM({a}))
             * (COUNT(*) * SUM({b}*{b}) - SUM({b}) * SUM({b}))), 6) AS corr
FROM lineitem""")
    return " UNION ALL ".join(cells)


SQL_CORRELATION_MATRIX = _corr_sql(CORR_COLS)


def q_dup_cluster_histogram(spark, sf_dir):
    """Exact-duplicate multiplicity profile of the documents corpus."""
    from linkgraph.textops.dedup import dup_cluster_histogram

    return dup_cluster_histogram(_t(spark, sf_dir, "documents"))


SQL_DUP_CLUSTER_HISTOGRAM = """
WITH sz AS (SELECT md5(text) AS d, COUNT(*) AS k FROM documents GROUP BY md5(text))
SELECT CAST(k AS BIGINT) AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM sz GROUP BY k
"""


KATZ_ITERS = 8  # fixed power-iteration budget shared engine <-> oracle


def q_katz(spark, sf_dir):
    """Fixed-budget Katz centrality on the user graph, alpha = the
    always-convergent 1/(max_deg + 1) computed identically on both
    sides (integer max, one IEEE division).  Same round-9 portability
    rationale as q_pagerank."""
    from linkgraph.algos.katz import katz

    g = user_graph(spark, sf_dir)
    kz = katz(g, alpha=None, beta=1.0, tol=0, max_iter=KATZ_ITERS)
    return kz.select(
        F.col("vid").cast("long").alias("vid"), F.round("katz", 9).alias("katz")
    )


SQL_KATZ = f"""
WITH RECURSIVE {_USER_E_MAT},
deg AS MATERIALIZED (SELECT src AS vid, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
al AS (SELECT 1.0/CAST(MAX(deg) + 1 AS DOUBLE) AS a FROM deg),
kz(it, vid, x) AS (
  SELECT 0, vid, CAST(1.0 AS DOUBLE) FROM deg
  UNION ALL
  SELECT k.it + 1, e.dst, 1.0 + (SELECT a FROM al) * SUM(k.x)
  FROM kz k JOIN e ON e.src = k.vid
  WHERE k.it < {KATZ_ITERS}
  GROUP BY k.it + 1, e.dst
)
SELECT CAST(vid AS BIGINT) AS vid, ROUND(x, 9) AS katz FROM kz WHERE it = {KATZ_ITERS}
"""


SEQ_LEN = 512  # training-sequence width shared engine <-> oracle


def q_sequence_pack(spark, sf_dir):
    """Concat-and-chop training-sequence placement over documents —
    global token prefix sum via the two-phase range partitioning of
    graph.py::_dense_ids (never a single-partition window); BPE-ish
    token counts (the accounting trio's model-cost tokenizer)."""
    from linkgraph.textops.packing import sequence_pack

    return sequence_pack(_t(spark, sf_dir, "documents"), seq_len=SEQ_LEN)


SQL_SEQUENCE_PACK = f"""
WITH tok AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+'))
              AS BIGINT) AS n_tokens
  FROM documents),
nz AS (SELECT * FROM tok WHERE n_tokens > 0),
c AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS BIGINT)
           AS tok_start
  FROM nz)
SELECT doc_id, n_tokens, tok_start,
       tok_start // {SEQ_LEN} AS seq_start,
       (tok_start + n_tokens - 1) // {SEQ_LEN} AS seq_end,
       (tok_start + n_tokens - 1) // {SEQ_LEN} - tok_start // {SEQ_LEN} + 1
         AS n_seqs
FROM c
"""


def q_quality_filter(spark, sf_dir):
    """Composite C4/Gopher keep/reject decision — one zero-shuffle
    projection composing the text_stats thresholds and the Gopher
    repetition flags into a first-failing-rule reason column."""
    from linkgraph.textops.textstats import quality_filter

    return quality_filter(_t(spark, sf_dir, "documents"))


SQL_QUALITY_FILTER = f"""
WITH tok AS (
  SELECT doc_id, text, {_SQL_TOKENS} AS ts,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> LENGTH(x) > 0) AS lines
  FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(ts) AS BIGINT) AS n_tokens,
         CAST(COALESCE(list_sum(list_transform(ts, x -> LENGTH(x))), 0) AS DOUBLE) AS tok_chars,
         CAST(LENGTH(text) AS BIGINT) AS n_chars,
         CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) AS n_punct,
         len(lines) AS n_lines, len(list_distinct(lines)) AS n_dist,
         len(list_filter(lines, x -> regexp_matches(x, '^[-*•]'))) AS n_bul,
         len(list_filter(lines, x -> regexp_matches(x, '(\\.\\.\\.|…)$'))) AS n_ell,
         CASE WHEN len(ts) >= 2
              THEN list_sort(list_transform(range(1, len(ts)),
                                            i -> ts[i] || ' ' || ts[i + 1]))
              ELSE [] END AS bg
  FROM tok),
bx AS (SELECT doc_id, unnest(bg) AS g FROM m),
top AS (
  SELECT doc_id, MAX(c) AS topc FROM (
    SELECT doc_id, g, COUNT(*) AS c FROM bx GROUP BY doc_id, g)
  GROUP BY doc_id),
r AS (
  SELECT m.doc_id AS doc_id, n_tokens,
    CASE WHEN n_tokens > 0 THEN tok_chars / n_tokens ELSE 0.0 END AS avg_len,
    CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
    ROUND(CASE WHEN n_lines > 0 THEN (n_lines - n_dist) / CAST(n_lines AS DOUBLE)
               ELSE 0.0 END, 4) AS dup_r,
    ROUND(CASE WHEN len(bg) > 0 THEN COALESCE(t.topc, 0) / CAST(len(bg) AS DOUBLE)
               ELSE 0.0 END, 4) AS top_r,
    ROUND(CASE WHEN n_lines > 0 THEN n_bul / CAST(n_lines AS DOUBLE)
               ELSE 0.0 END, 4) AS bul_r,
    ROUND(CASE WHEN n_lines > 0 THEN n_ell / CAST(n_lines AS DOUBLE)
               ELSE 0.0 END, 4) AS ell_r
  FROM m LEFT JOIN top t ON t.doc_id = m.doc_id),
d AS (
  SELECT doc_id,
    CASE WHEN n_tokens < 5 THEN 'too_few_tokens'
         WHEN n_tokens > 100000 THEN 'too_many_tokens'
         WHEN avg_len < 3.0 OR avg_len > 12.0 THEN 'bad_avg_token_len'
         WHEN punct_ratio > 0.2 THEN 'high_punct'
         WHEN dup_r > 0.30 OR top_r > 0.18 OR bul_r > 0.90 OR ell_r > 0.30
              THEN 'gopher_repetition'
         ELSE 'ok' END AS reason
  FROM r)
SELECT doc_id, reason = 'ok' AS keep, reason FROM d
"""


MATCH_ROUNDS = 6  # fixed local-min matching budget shared engine <-> oracle


def q_maximal_matching(spark, sf_dir):
    """Deterministic Israeli-Itai local-min matching on the user graph —
    fixed md5 edge priorities, 6 unrolled rounds mirrored bit-for-bit
    by the DuckDB oracle (per-vertex argmin as a rn=1 window there,
    MIN(struct) here — same strict total order (p, u, v))."""
    from linkgraph.algos.matching import maximal_matching

    g = LinkGraph(derive.events_user_edges(_t(spark, sf_dir, "events")), symmetric=True)
    return maximal_matching(g, rounds=MATCH_ROUNDS)


def _matching_ctes(rounds: int) -> tuple[str, str]:
    steps = []
    for r in range(1, rounds + 1):
        steps.append(f"""
mn{r} AS MATERIALIZED (
  SELECT vid, u, v FROM (
    SELECT vid, u, v, row_number() OVER (PARTITION BY vid ORDER BY p, u, v) AS rn
    FROM (SELECT u AS vid, u, v, p FROM a{r - 1}
          UNION ALL SELECT v AS vid, u, v, p FROM a{r - 1})) WHERE rn = 1),
m{r} AS MATERIALIZED (
  SELECT a.u AS u, a.v AS v FROM a{r - 1} a
  JOIN mn{r} x ON x.vid = a.u AND x.u = a.u AND x.v = a.v
  JOIN mn{r} y ON y.vid = a.v AND y.u = a.u AND y.v = a.v),
mv{r} AS MATERIALIZED (SELECT u AS vid FROM m{r} UNION SELECT v FROM m{r}),
a{r} AS MATERIALIZED (
  SELECT * FROM a{r - 1}
  WHERE u NOT IN (SELECT vid FROM mv{r}) AND v NOT IN (SELECT vid FROM mv{r}))""")
    unions = "\nUNION ALL ".join(
        f"SELECT u, v, {r} AS matched_round FROM m{r}" for r in range(1, rounds + 1)
    )
    ctes = (
        f"WITH {_USER_E_MAT},\n"
        "a0 AS MATERIALIZED (\n"
        "  SELECT src AS u, dst AS v,\n"
        "         CAST('0x' || substr(md5('me:' || CAST(src AS VARCHAR) || ':' ||\n"
        "                                 CAST(dst AS VARCHAR)), 1, 15) AS BIGINT) AS p\n"
        "  FROM e WHERE src < dst),"
        + ",".join(steps)
    )
    return ctes, unions


def _matching_oracle_sql(rounds: int) -> str:
    ctes, unions = _matching_ctes(rounds)
    return (
        ctes
        + f"\nSELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,"
        f" CAST(matched_round AS INT) AS matched_round FROM ({unions})"
    )


SQL_MAXIMAL_MATCHING = _matching_oracle_sql(MATCH_ROUNDS)


def q_coarsen_graph(spark, sf_dir):
    """One multilevel coarsening level (algos/coarsen.py): contract the
    deterministic maximal matching, re-aggregate parallel edges into
    integer weights — the METIS-style preconditioner, hash-checked via
    the matching oracle's CTEs plus a pure join/count contraction."""
    from linkgraph.algos.coarsen import coarsen_graph

    g = LinkGraph(derive.events_user_edges(_t(spark, sf_dir, "events")), symmetric=True)
    se, _ = coarsen_graph(g, rounds=MATCH_ROUNDS)
    return se.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        "weight",
    )


def _coarsen_oracle_sql(rounds: int) -> str:
    ctes, unions = _matching_ctes(rounds)
    return f"""{ctes},
mm AS MATERIALIZED (SELECT u, v FROM ({unions})),
vertsall AS (SELECT DISTINCT src AS vid FROM e),
mp AS MATERIALIZED (
  SELECT w.vid, COALESCE(x.u, y.u, w.vid) AS sup
  FROM vertsall w
  LEFT JOIN mm x ON x.u = w.vid
  LEFT JOIN mm y ON y.v = w.vid)
SELECT CAST(a.sup AS BIGINT) AS src, CAST(b.sup AS BIGINT) AS dst,
       CAST(COUNT(*) AS BIGINT) AS weight
FROM e JOIN mp a ON a.vid = e.src JOIN mp b ON b.vid = e.dst
WHERE a.sup <> b.sup GROUP BY a.sup, b.sup
"""


SQL_COARSEN_GRAPH = _coarsen_oracle_sql(MATCH_ROUNDS)


FUZZY_MAX_DIST = 3


def q_fuzzy_match(spark, sf_dir):
    """Blocked edit-distance entity resolution over part names
    (textops/fuzzy.py): first-token blocking, integer length-band
    prefilter, built-in levenshtein verify — near-miss pairs only
    (exact dups belong to dedup_exact)."""
    from linkgraph.textops.fuzzy import fuzzy_match_pairs

    p = _t(spark, sf_dir, "part")
    return fuzzy_match_pairs(
        p,
        id_col="p_partkey",
        name_col="p_name",
        block=F.split(F.col("p_name"), " ").getItem(0),
        max_dist=FUZZY_MAX_DIST,
    )


SQL_FUZZY_MATCH = f"""
WITH p AS (
  SELECT p_partkey AS id, p_name AS nm,
         split_part(p_name, ' ', 1) AS blk, length(p_name) AS ln
  FROM part)
SELECT CAST(a.id AS BIGINT) AS a, CAST(b.id AS BIGINT) AS b,
       CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
WHERE abs(a.ln - b.ln) <= {FUZZY_MAX_DIST}
  AND levenshtein(a.nm, b.nm) BETWEEN 1 AND {FUZZY_MAX_DIST}
"""


DSG_ROUNDS = 8  # fixed peel budget shared engine <-> oracle


def q_densest_subgraph(spark, sf_dir):
    """Parallel densest-subgraph peel curve (Bahmani et al., eps=1/2) on
    the user graph — the per-round peel set is a pure-integer test
    (2*deg*|S| <= 3*E_dir), so 8 unrolled rounds are mirrored
    bit-for-bit by the DuckDB oracle; density is one IEEE division."""
    from linkgraph.algos.densest import densest_subgraph_curve

    g = LinkGraph(derive.events_user_edges(_t(spark, sf_dir, "events")), symmetric=True)
    return densest_subgraph_curve(g, rounds=DSG_ROUNDS)


def _densest_oracle_sql(rounds: int) -> str:
    steps, rows = [], []
    for r in range(1, rounds + 1):
        steps.append(f"""
d{r} AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
                      FROM e{r - 1} GROUP BY src),
s{r} AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                             CAST(COALESCE(SUM(deg), 0) AS BIGINT) AS e_dir
                      FROM d{r}),
k{r} AS MATERIALIZED (SELECT d.src FROM d{r} d, s{r} s
                      WHERE 2 * d.deg * s.n > 3 * s.e_dir),
e{r} AS MATERIALIZED (SELECT x.src, x.dst FROM e{r - 1} x
                      WHERE x.src IN (SELECT src FROM k{r})
                        AND x.dst IN (SELECT src FROM k{r}))""")
        rows.append(
            f"SELECT {r} AS round, s.n AS n_vertices, s.e_dir AS e_directed,"
            f" s.e_dir / (2.0 * s.n) AS density,"
            f" s.n - (SELECT COUNT(DISTINCT src) FROM e{r}) AS peeled"
            f" FROM s{r} s WHERE s.n > 0"
        )
    unions = "\nUNION ALL ".join(rows)
    return (
        f"WITH {_USER_E_MAT},\ne0 AS MATERIALIZED (SELECT src, dst FROM e),"
        + ",".join(steps)
        + f"\nSELECT CAST(round AS INT) AS round, n_vertices, e_directed,"
        f" density, peeled FROM ({unions})"
    )


SQL_DENSEST_SUBGRAPH = _densest_oracle_sql(DSG_ROUNDS)


def q_lm_quality(spark, sf_dir):
    """Corpus-unigram LM quality score per document (CCNet-style
    perplexity-bucket signal) — ln + round-6 portability, the PMI/TF-IDF
    convention."""
    from linkgraph.textops.textstats import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"))


SQL_LM_QUALITY = f"""
WITH tok AS MATERIALIZED (SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents),
tt AS MATERIALIZED (SELECT doc_id, unnest(ts) AS term FROM tok),
tf AS MATERIALIZED (SELECT doc_id, term, COUNT(*) AS tf FROM tt GROUP BY doc_id, term),
uni AS MATERIALIZED (SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY term),
tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS T FROM uni)
SELECT tf.doc_id AS doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
       ROUND(SUM(tf.tf * ln(uni.cnt)) / SUM(tf.tf) - ln(tot.T), 6) AS lm_logprob
FROM tf JOIN uni ON uni.term = tf.term CROSS JOIN tot
GROUP BY tf.doc_id, tot.T
"""




def q_transition_latency(spark, sf_dir):
    """Per-transition dwell-time stats (one window + one aggregate)."""
    from linkgraph.operators.events import transition_latency

    return transition_latency(_t(spark, sf_dir, "events"))


SQL_TRANSITION_LATENCY = """
WITH o AS (
  SELECT event_type AS src_type,
         LEAD(event_type) OVER w AS dst_type,
         LEAD(CAST(floor(epoch(ts)) AS BIGINT)) OVER w
           - CAST(floor(epoch(ts)) AS BIGINT) AS gap_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
SELECT src_type, dst_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(gap_s) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_gap_s,
       CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
FROM o WHERE dst_type IS NOT NULL
GROUP BY src_type, dst_type
"""


BRIDGE_MIN_W = 2  # strong-tie threshold: ties seen in >= 2 distinct orders


def q_local_bridges(spark, sf_dir):
    """Granovetter local bridges (zero common neighbors) on the
    STRONG-TIE co-purchase subgraph (w >= 2): the plain co-purchase
    graph is dense enough that support-0 edges barely exist, while the
    strong-tie backbone exposes the structural holes (80 bridges /
    2324 edges at sf0.001, 3264 / 3445 at sf0.01 — measured)."""
    from linkgraph.algos.triangles import local_bridges

    ew = derive.copurchase_weighted_edges(_t(spark, sf_dir, "lineitem"))
    g = LinkGraph(
        ew.where(F.col("w") >= BRIDGE_MIN_W).select("src", "dst"),
        materialize=False,
    )
    return local_bridges(g)


SQL_LOCAL_BRIDGES = f"""
WITH pk AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
wt AS MATERIALIZED (
  SELECT a.p AS src, b.p AS dst, COUNT(*) AS w
  FROM pk a JOIN pk b ON a.k = b.k AND a.p <> b.p GROUP BY a.p, b.p),
se AS MATERIALIZED (SELECT src, dst FROM wt WHERE w >= {BRIDGE_MIN_W}),
t AS MATERIALIZED (SELECT src, dst FROM se WHERE src < dst),
tr AS MATERIALIZED (
  SELECT t1.src AS a, t1.dst AS b, t2.dst AS c
  FROM t t1 JOIN t t2 ON t2.src = t1.dst
  JOIN t t3 ON t3.src = t1.src AND t3.dst = t2.dst),
sides AS (
  SELECT a AS src, b AS dst FROM tr
  UNION SELECT b, c FROM tr
  UNION SELECT a, c FROM tr),
d AS MATERIALIZED (
  SELECT src AS vid, CAST(COUNT(*) AS BIGINT) AS deg FROM se GROUP BY src)
SELECT CAST(t.src AS BIGINT) AS src, CAST(t.dst AS BIGINT) AS dst,
       ds.deg AS src_deg, dd.deg AS dst_deg
FROM t ANTI JOIN sides USING (src, dst)
JOIN d ds ON ds.vid = t.src
JOIN d dd ON dd.vid = t.dst
"""


def q_clustering_by_degree(spark, sf_dir):
    """c(k) hierarchy curve over the co-purchase graph — mean lcc per
    degree class from exact integer triangle sums (one division)."""
    from linkgraph.algos.gstats import clustering_by_degree

    return clustering_by_degree(copurchase_graph(spark, sf_dir))


SQL_CLUSTERING_BY_DEGREE = f"""
WITH {_COPURCHASE_E},
d AS MATERIALIZED (SELECT src AS vid, COUNT(*) AS deg FROM e GROUP BY src),
ot AS MATERIALIZED (SELECT src AS a, dst AS b FROM e WHERE src < dst),
tr AS MATERIALIZED (
  SELECT t1.a, t1.b, t2.b AS c
  FROM ot t1 JOIN ot t2 ON t2.a = t1.b
  JOIN ot t3 ON t3.a = t1.a AND t3.b = t2.b),
tpv AS MATERIALIZED (
  SELECT vid, COUNT(*) AS tri FROM (
    SELECT a AS vid FROM tr
    UNION ALL SELECT b FROM tr
    UNION ALL SELECT c FROM tr)
  GROUP BY vid)
SELECT CAST(d.deg AS BIGINT) AS deg,
       CAST(COUNT(*) AS BIGINT) AS n_vertices,
       ROUND(2.0 * CAST(SUM(COALESCE(t.tri, 0)) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * CAST(d.deg * (d.deg - 1) AS DOUBLE)),
             6) AS mean_lcc
FROM d LEFT JOIN tpv t USING (vid)
WHERE d.deg >= 2
GROUP BY d.deg
"""


def q_fertility_by_lang(spark, sf_dir):
    """Tokenizer fertility / chars-per-token per language."""
    from linkgraph.textops.textstats import fertility_by_lang

    return fertility_by_lang(_t(spark, sf_dir, "documents"))


SQL_FERTILITY_BY_LANG = """
WITH per AS (
  SELECT lang,
         CASE WHEN LENGTH(TRIM(text)) > 0
              THEN len(regexp_split_to_array(TRIM(text), '\\s+'))
              ELSE 0 END AS nw,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+')) AS nb,
         LENGTH(text) AS nc
  FROM documents)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nw) AS BIGINT) AS n_words,
       CAST(SUM(nb) AS BIGINT) AS n_bpe_tokens,
       ROUND(SUM(nb) / CAST(SUM(nw) AS DOUBLE), 6) AS fertility,
       ROUND(SUM(nc) / CAST(SUM(nb) AS DOUBLE), 6) AS chars_per_token
FROM per GROUP BY lang
"""




ATTACK_KS = [0, 16, 128]  # hub budgets: full graph, boundary, 7% of vertices


def q_attack_robustness(spark, sf_dir):
    """Targeted-attack robustness curve on the strong-tie co-purchase
    backbone (w >= BRIDGE_MIN_W): remove the top-k degree hubs
    (deterministic ties by vid) and report residual component structure.
    The backbone holding a 1649-vertex giant after losing its 128
    biggest hubs (sf0.01, measured) IS the readout — this co-occurrence
    graph is not hub-fragile."""
    from linkgraph.algos.components import attack_robustness

    ew = derive.copurchase_weighted_edges(_t(spark, sf_dir, "lineitem"))
    g = LinkGraph(ew.where(F.col("w") >= BRIDGE_MIN_W).select("src", "dst"))
    out = attack_robustness(g, ATTACK_KS)
    g.unpersist()
    return out


def q_failure_robustness(spark, sf_dir):
    """Random-failure control for the attack curve: identical residual-
    component readout but removing k vertices in portable-md5-hash order
    (a deterministic uniform-random stand-in both engines reproduce).
    Read against q_attack_robustness: the gap between the two curves at
    the same k is the Albert–Barabási scale-free fragility signature."""
    from linkgraph.algos.components import attack_robustness

    ew = derive.copurchase_weighted_edges(_t(spark, sf_dir, "lineitem"))
    g = LinkGraph(ew.where(F.col("w") >= BRIDGE_MIN_W).select("src", "dst"))
    out = attack_robustness(g, ATTACK_KS, by="hash")
    g.unpersist()
    return out


def _attack_oracle_sql(ks, by: str = "degree") -> str:
    parts = [f"""pk AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
wt AS MATERIALIZED (
  SELECT a.p AS src, b.p AS dst, COUNT(*) AS w
  FROM pk a JOIN pk b ON a.k = b.k AND a.p <> b.p GROUP BY a.p, b.p),
se AS MATERIALIZED (SELECT src, dst FROM wt WHERE w >= {BRIDGE_MIN_W}),
dg AS MATERIALIZED (SELECT src AS vid, COUNT(*) AS deg FROM se GROUP BY src)"""]
    if by == "degree":
        order = "deg DESC, vid ASC"
    else:
        # portable_hash60(vid || '#fail'): mirrors dedup.portable_hash60
        order = ("CAST('0x' || substr(md5(CAST(vid AS VARCHAR) || '#fail'), 1, 15) "
                 "AS BIGINT) ASC, vid ASC")
    selects = []
    for k in ks:
        parts.append(f"""h{k} AS (SELECT vid FROM dg ORDER BY {order} LIMIT {k}),
e{k} AS MATERIALIZED (
  SELECT src, dst FROM se
  WHERE src NOT IN (SELECT vid FROM h{k}) AND dst NOT IN (SELECT vid FROM h{k})),
v{k} AS (SELECT DISTINCT src AS v FROM e{k}),
r{k}(v, u) AS (
  SELECT v, v FROM v{k}
  UNION
  SELECT r{k}.v, e{k}.dst FROM r{k} JOIN e{k} ON e{k}.src = r{k}.u),
s{k} AS (SELECT MIN(u) AS comp, COUNT(DISTINCT v) AS sz
         FROM (SELECT v, MIN(u) AS u FROM r{k} GROUP BY v) GROUP BY u)""")
        selects.append(f"""SELECT CAST({k} AS BIGINT) AS n_removed,
       CAST(SUM(sz) AS BIGINT) AS n_vertices,
       CAST(COUNT(*) AS BIGINT) AS n_components,
       CAST(MAX(sz) AS BIGINT) AS giant_size
FROM s{k}""")
    return "WITH RECURSIVE " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


SQL_ATTACK_ROBUSTNESS = _attack_oracle_sql(ATTACK_KS)
SQL_FAILURE_ROBUSTNESS = _attack_oracle_sql(ATTACK_KS, by="hash")


PERC_PS = [0.1, 0.4, 0.7, 1.0]  # bond-percolation retention grid


def q_edge_percolation(spark, sf_dir):
    """Bond-percolation curve on the strong-tie backbone: per retention
    p, keep edges whose canonical-pair md5 coin falls under p and report
    the residual component structure — the edge-loss member of the
    resilience triptych next to attack/failure robustness."""
    from linkgraph.algos.components import edge_percolation

    ew = derive.copurchase_weighted_edges(_t(spark, sf_dir, "lineitem"))
    g = LinkGraph(ew.where(F.col("w") >= BRIDGE_MIN_W).select("src", "dst"))
    out = edge_percolation(g, PERC_PS)
    g.unpersist()
    return out


def _percolation_oracle_sql(ps) -> str:
    coin = (
        "CAST('0x' || substr(md5(CAST(LEAST(src, dst) AS VARCHAR) || '#' || "
        "CAST(GREATEST(src, dst) AS VARCHAR) || '#perc'), 1, 15) AS BIGINT) "
        "% 10000"
    )
    parts = [f"""pk AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
wt AS MATERIALIZED (
  SELECT a.p AS src, b.p AS dst, COUNT(*) AS w
  FROM pk a JOIN pk b ON a.k = b.k AND a.p <> b.p GROUP BY a.p, b.p),
se AS MATERIALIZED (SELECT src, dst FROM wt WHERE w >= {BRIDGE_MIN_W})"""]
    selects = []
    for idx, p in enumerate(sorted(ps)):
        cut = int(round(p * 10_000))
        parts.append(f"""e{idx} AS MATERIALIZED (
  SELECT src, dst FROM se WHERE {coin} < {cut}),
v{idx} AS (SELECT DISTINCT src AS v FROM e{idx}),
r{idx}(v, u) AS (
  SELECT v, v FROM v{idx}
  UNION
  SELECT r{idx}.v, e{idx}.dst FROM r{idx} JOIN e{idx} ON e{idx}.src = r{idx}.u),
s{idx} AS (SELECT MIN(u) AS comp, COUNT(DISTINCT v) AS sz
           FROM (SELECT v, MIN(u) AS u FROM r{idx} GROUP BY v) GROUP BY u)""")
        selects.append(f"""SELECT {round(p, 6)} AS p_keep,
       (SELECT CAST(COUNT(*)/2 AS BIGINT) FROM e{idx}) AS n_edges,
       CAST(COALESCE(SUM(sz), 0) AS BIGINT) AS n_vertices,
       CAST(COUNT(*) AS BIGINT) AS n_components,
       CAST(COALESCE(MAX(sz), 0) AS BIGINT) AS giant_size
FROM s{idx}""")
    return "WITH RECURSIVE " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


SQL_EDGE_PERCOLATION = _percolation_oracle_sql(PERC_PS)


EMB_D = 64  # embeddings.parquet dimension (TESTDATA.md contract)
PCA_ITERS = 24  # fixed power-iteration budget shared with the SQL oracle


def q_embedding_top_pc(spark, sf_dir):
    """Top principal component + explained-variance ratio of the
    embedding corpus (the ABTT anisotropy readout) — fixed-budget
    deferred-normalization power iteration, hash-checked against a
    recursive-CTE mirror of the same arithmetic."""
    from linkgraph.textops.simsearch import embedding_top_pc

    return embedding_top_pc(_t(spark, sf_dir, "embeddings"), iters=PCA_ITERS)


SQL_EMBEDDING_TOP_PC = f"""
WITH RECURSIVE
flat AS MATERIALIZED (
  SELECT vec_id, CAST(t.i AS INT) AS i, CAST(embedding[t.i] AS DOUBLE) AS v
  FROM embeddings, range(1, {EMB_D} + 1) t(i)),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
mu AS MATERIALIZED (SELECT i, SUM(v) / (SELECT n FROM nn) AS m FROM flat GROUP BY i),
cov AS MATERIALIZED (
  SELECT p.i, p.j, p.s / (SELECT n FROM nn) - ma.m * mb.m AS c
  FROM (SELECT a.i, b.i AS j, SUM(a.v * b.v) AS s
        FROM flat a JOIN flat b ON a.vec_id = b.vec_id GROUP BY a.i, b.i) p
  JOIN mu ma ON ma.i = p.i JOIN mu mb ON mb.i = p.j),
pv(it, i, val) AS (
  SELECT 0, CAST(t.i AS INT), 1.0 / {EMB_D} FROM range(1, {EMB_D} + 1) t(i)
  UNION ALL
  SELECT pv.it + 1, cov.i, SUM(cov.c * pv.val)
  FROM pv JOIN cov ON cov.j = pv.i
  WHERE pv.it < {PCA_ITERS}
  GROUP BY pv.it + 1, cov.i),
fin AS MATERIALIZED (SELECT i, val FROM pv WHERE it = {PCA_ITERS}),
nrm AS (SELECT SQRT(SUM(val * val)) AS nv FROM fin),
vv AS MATERIALIZED (SELECT i, val / (SELECT nv FROM nrm) AS v FROM fin),
cv AS (SELECT cov.i, SUM(cov.c * vv.v) AS w
       FROM cov JOIN vv ON vv.i = cov.j GROUP BY cov.i),
lam AS (SELECT SUM(vv.v * cv.w) AS l FROM vv JOIN cv ON cv.i = vv.i),
tr AS (SELECT SUM(c) AS t FROM cov WHERE i = j)
SELECT CAST(vv.i - 1 AS BIGINT) AS dim_i, ROUND(vv.v, 6) + 0 AS loading,
       ROUND((SELECT l FROM lam) / (SELECT t FROM tr), 6) + 0 AS evr
FROM vv
"""


CM_WIDTH, CM_DEPTH, CM_TOPK = 1024, 4, 20  # count-min sketch geometry
_H60 = (
    "CAST('0x' || substr(md5({x} || '#' || CAST(q.r AS VARCHAR)), 1, 15) "
    "AS BIGINT)"
)


def q_countmin_tokens(spark, sf_dir):
    """Count-min sketch frequency estimates next to exact counts for the
    top-20 corpus tokens — the fixed-size mergeable-summary path (the
    counter table is depth×width longs no matter the corpus)."""
    from linkgraph.textops.sketches import count_min_tokens

    return count_min_tokens(
        _t(spark, sf_dir, "documents"), width=CM_WIDTH, depth=CM_DEPTH, k=CM_TOPK
    )


SQL_COUNTMIN_TOKENS = f"""
WITH tok AS MATERIALIZED (
  SELECT unnest({_SQL_TOKENS}) AS tok FROM documents),
pos AS (SELECT tok, q.r, {_H60.format(x='tok')} % {CM_WIDTH} AS b
        FROM tok CROSS JOIN range(0, {CM_DEPTH}) q(r)),
counters AS MATERIALIZED (SELECT r, b, COUNT(*) AS c FROM pos GROUP BY r, b),
exact AS (SELECT tok, COUNT(*) AS exact_n FROM tok GROUP BY tok),
topk AS (SELECT tok, exact_n FROM exact ORDER BY exact_n DESC, tok ASC LIMIT {CM_TOPK}),
probe AS (SELECT t.tok, t.exact_n, q.r, {_H60.format(x='t.tok')} % {CM_WIDTH} AS b
          FROM topk t CROSS JOIN range(0, {CM_DEPTH}) q(r))
SELECT probe.tok AS token, CAST(probe.exact_n AS BIGINT) AS exact_n,
       CAST(MIN(c.c) AS BIGINT) AS cm_est
FROM probe JOIN counters c ON c.r = probe.r AND c.b = probe.b
GROUP BY probe.tok, probe.exact_n
"""


BLOOM_M, BLOOM_K = 1024, 5  # bits / hash functions


def q_bloom_dedup_audit(spark, sf_dir):
    """Bloom-filter pre-dedup audit: filter built over even-id docs,
    probed by odd-id docs; reports hits / true dups / false positives —
    the ship-yesterday's-filter-to-today's-scan incremental-dedup shape."""
    from linkgraph.textops.sketches import bloom_dedup_audit

    return bloom_dedup_audit(
        _t(spark, sf_dir, "documents"), m_bits=BLOOM_M, k_hashes=BLOOM_K
    )


SQL_BLOOM_DEDUP_AUDIT = f"""
WITH dg AS (SELECT doc_id AS id, md5(text) AS h FROM documents),
build AS MATERIALIZED (SELECT * FROM dg WHERE id % 2 = 0),
probe AS MATERIALIZED (SELECT * FROM dg WHERE id % 2 = 1),
bpos AS MATERIALIZED (
  SELECT DISTINCT {_H60.format(x='h')} % {BLOOM_M} AS pos
  FROM build CROSS JOIN range(0, {BLOOM_K}) q(r)),
bh AS (SELECT DISTINCT h FROM build),
ppos AS (SELECT id, {_H60.format(x='h')} % {BLOOM_M} AS pos
         FROM probe CROSS JOIN range(0, {BLOOM_K}) q(r)),
hits AS (SELECT id FROM ppos JOIN bpos USING (pos)
         GROUP BY id HAVING COUNT(*) = {BLOOM_K}),
agg AS (SELECT
  (SELECT COUNT(*) FROM build) AS n_build,
  (SELECT COUNT(*) FROM probe) AS n_probe,
  (SELECT COUNT(*) FROM hits) AS bloom_hits,
  (SELECT COUNT(*) FROM probe JOIN bh USING (h)) AS true_dups)
SELECT CAST(n_build AS BIGINT) AS n_build, CAST(n_probe AS BIGINT) AS n_probe,
       CAST(bloom_hits AS BIGINT) AS bloom_hits,
       CAST(true_dups AS BIGINT) AS true_dups,
       CAST(bloom_hits - true_dups AS BIGINT) AS false_pos,
       ROUND(CAST(bloom_hits - true_dups AS DOUBLE)
             / GREATEST(n_probe - true_dups, 1), 6) AS fp_rate
FROM agg
"""


def q_hll_daily_users(spark, sf_dir):
    """Portable-HLL daily distinct users next to the exact count — the
    64-byte mergeable register state vs the full COUNT(DISTINCT)
    shuffle; both engines build bit-identical registers."""
    from linkgraph.textops.sketches import hll_distinct

    d = _t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    )
    return hll_distinct(d, "user_id", "day")


def _hll_oracle_sql() -> str:
    from linkgraph.textops.sketches import HLL_ALPHA, HLL_M, HLL_P, HLL_W

    scale = HLL_W + 1
    num = repr(HLL_ALPHA * HLL_M * HLL_M * float(1 << scale))
    return f"""
WITH d AS MATERIALIZED (
  SELECT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events),
hx AS (SELECT day, CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                        AS BIGINT) AS h FROM d),
rr AS (SELECT day, h % {HLL_M} AS reg,
        CASE WHEN h // {HLL_M} = 0 THEN {HLL_W + 1}
             ELSE {HLL_W} - CAST(FLOOR(LOG2(CAST(h // {HLL_M} AS DOUBLE)))
                                 AS BIGINT) END AS rho
       FROM hx),
regs AS (SELECT day, reg, MAX(rho) AS m FROM rr GROUP BY day, reg),
per AS (SELECT day,
         SUM(CAST(1 AS BIGINT) << ({scale} - m)) AS isum,
         COUNT(*) AS nreg FROM regs GROUP BY day),
est AS (SELECT day,
         isum + ({HLL_M} - nreg) * (CAST(1 AS BIGINT) << {scale}) AS isum_full,
         {HLL_M} - nreg AS vz FROM per),
fin AS (SELECT day,
         CASE WHEN {num} / isum_full <= {2.5 * HLL_M} AND vz > 0
              THEN {float(HLL_M)} * LN({float(HLL_M)} / vz)
              ELSE {num} / isum_full END AS e FROM est),
ex AS (SELECT day, COUNT(DISTINCT user_id) AS exact_n FROM d GROUP BY day)
SELECT ex.day AS day, CAST(ex.exact_n AS BIGINT) AS exact_n,
       ROUND(fin.e, 4) AS hll_est
FROM ex JOIN fin USING (day)
"""


SQL_HLL_DAILY_USERS = _hll_oracle_sql()


def q_mutual_knn(spark, sf_dir):
    """Mutual top-1 cosine pairs within label blocks — the bitext-miner
    shape: per-block quadratic (block = LSH bucket / IVF list at scale),
    mutuality filters one-directional hubness errors."""
    from linkgraph.textops.simsearch import mutual_top1

    return mutual_top1(_t(spark, sf_dir, "embeddings"), block_col="label")


SQL_MUTUAL_KNN = """
WITH emb AS MATERIALIZED (
  SELECT vec_id AS id, label AS blk,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
sims AS (
  SELECT a.blk, a.id AS id_a, b.id AS id_b,
         ROUND(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(b.v, b.v))), 6) AS sim
  FROM emb a JOIN emb b ON a.blk = b.blk AND a.id <> b.id),
nn AS MATERIALIZED (
  SELECT id_a, id_b, sim FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY blk, id_a
                                 ORDER BY sim DESC, id_b ASC) AS rn
    FROM sims) WHERE rn = 1)
SELECT CAST(x.id_a AS BIGINT) AS id_a, CAST(x.id_b AS BIGINT) AS id_b, x.sim
FROM nn x JOIN nn y
  ON x.id_a = y.id_b AND x.id_b = y.id_a AND x.id_a < x.id_b
"""


HIT_ROUNDS = 8  # truncation horizon T, mirrored by the unrolled oracle


def q_hitting_time(spark, sf_dir):
    """Truncated random-walk hitting time to the 4 lowest part keys over
    the co-purchase graph — the many-short-paths proximity score."""
    from linkgraph.algos.hitting import hitting_time

    g = copurchase_graph(spark, sf_dir)
    seeds = [
        r[0]
        for r in _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("s"))
        .distinct()
        .orderBy("s")
        .limit(4)
        .collect()
    ]
    return hitting_time(g, seeds, rounds=HIT_ROUNDS)


def _hitting_oracle_sql(rounds: int) -> str:
    parts = [
        "deg AS MATERIALIZED (SELECT src AS vid, COUNT(*) AS d FROM e GROUP BY src)",
        "seeds AS MATERIALIZED (SELECT DISTINCT l_partkey AS s FROM lineitem "
        "ORDER BY s ASC LIMIT 4)",
        "v AS MATERIALIZED (SELECT vid, d, vid IN (SELECT s FROM seeds) AS isseed "
        "FROM deg)",
        "t0 AS MATERIALIZED (SELECT vid, 0.0 AS x FROM v)",
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""t{i} AS MATERIALIZED (
  SELECT v.vid, CASE WHEN v.isseed THEN 0.0
                     ELSE 1.0 + COALESCE(s.acc, 0) / v.d END AS x
  FROM v LEFT JOIN (
    SELECT e.dst AS vid, SUM(h.x) AS acc FROM e JOIN t{i - 1} h ON h.vid = e.src
    GROUP BY e.dst) s USING (vid))""")
    return (
        f"WITH {_COPURCHASE_E},"
        + ",".join(parts)
        + f"""
SELECT CAST(vid AS BIGINT) AS vid, ROUND(x, 6) + 0 AS hit FROM t{rounds}"""
    )


SQL_HITTING_TIME = _hitting_oracle_sql(HIT_ROUNDS)


KMV_K = 64  # bottom-k signature size


def q_kmv_user_overlap(spark, sf_dir):
    """Pairwise Jaccard of event-type user-sets: exact vs the KMV
    bottom-k estimate — fixed-size mergeable set synopses (k longs per
    set) vs the full distinct-pair intersection."""
    from linkgraph.textops.sketches import kmv_jaccard_pairs

    return kmv_jaccard_pairs(
        _t(spark, sf_dir, "events"), set_col="event_type", key_col="user_id", k=KMV_K
    )


SQL_KMV_USER_OVERLAP = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT event_type AS s,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM events),
sk AS MATERIALIZED (SELECT s, h FROM (
  SELECT s, h, ROW_NUMBER() OVER (PARTITION BY s ORDER BY h ASC) AS rn FROM m)
  WHERE rn <= {KMV_K}),
prs AS (SELECT DISTINCT a.s AS sa, b.s AS sb FROM sk a JOIN sk b ON a.s < b.s),
uni AS (SELECT DISTINCT p.sa, p.sb, k.h
        FROM prs p JOIN sk k ON k.s = p.sa OR k.s = p.sb),
uk AS MATERIALIZED (SELECT sa, sb, h FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h ASC) AS rn FROM uni)
  WHERE rn <= {KMV_K}),
tri AS (SELECT sa, sb, COUNT(*) AS both FROM uk
        WHERE EXISTS (SELECT 1 FROM sk WHERE sk.s = uk.sa AND sk.h = uk.h)
          AND EXISTS (SELECT 1 FROM sk WHERE sk.s = uk.sb AND sk.h = uk.h)
        GROUP BY sa, sb),
kk AS (SELECT sa, sb, COUNT(*) AS kk FROM uk GROUP BY sa, sb),
sets AS (SELECT s, COUNT(*) AS n FROM m GROUP BY s),
inter AS (SELECT x.s AS sa, y.s AS sb, COUNT(*) AS i
          FROM m x JOIN m y ON x.h = y.h AND x.s < y.s GROUP BY 1, 2)
SELECT p.sa AS set_a, p.sb AS set_b,
       ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE)
             / (ps.n + qs.n - COALESCE(i.i, 0)), 6) AS exact_j,
       ROUND(CAST(COALESCE(t.both, 0) AS DOUBLE) / k.kk, 6) AS kmv_j
FROM prs p
JOIN sets ps ON ps.s = p.sa JOIN sets qs ON qs.s = p.sb
LEFT JOIN inter i ON i.sa = p.sa AND i.sb = p.sb
LEFT JOIN tri t ON t.sa = p.sa AND t.sb = p.sb
JOIN kk k ON k.sa = p.sa AND k.sb = p.sb
"""


CMJ_WIDTH, CMJ_DEPTH = 4096, 4  # join-size sketch geometry


def q_join_size_estimate(spark, sf_dir):
    """Self-join cardinality of lineitem on l_partkey (the F2 moment)
    estimated by count-min inner product vs the exact join count — the
    planner-side cardinality primitive: sketches are built in one
    map-side pass per side; the estimate never scans a joined row."""
    from linkgraph.textops.sketches import cm_join_size

    li = _t(spark, sf_dir, "lineitem")
    return cm_join_size(
        li, li, "l_partkey", "l_partkey", width=CMJ_WIDTH, depth=CMJ_DEPTH
    )


SQL_JOIN_SIZE_ESTIMATE = f"""
WITH pos AS (
  SELECT q.r, CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR) || '#' ||
              CAST(q.r AS VARCHAR)), 1, 15) AS BIGINT) % {CMJ_WIDTH} AS b
  FROM lineitem CROSS JOIN range(0, {CMJ_DEPTH}) q(r)),
cnt AS MATERIALIZED (SELECT r, b, COUNT(*) AS c FROM pos GROUP BY r, b),
est AS (SELECT MIN(ip) AS cm_est FROM (
  SELECT r, SUM(c * c) AS ip FROM cnt GROUP BY r)),
ex AS (SELECT SUM(n * n) AS exact_n FROM (
  SELECT COUNT(*) AS n FROM lineitem GROUP BY l_partkey))
SELECT CAST(ex.exact_n AS BIGINT) AS exact_n,
       CAST(est.cm_est AS BIGINT) AS cm_est,
       ROUND(CAST(est.cm_est - ex.exact_n AS DOUBLE)
             / GREATEST(ex.exact_n, 1), 6) AS rel_err
FROM ex, est
"""


SKEW_COLS = ["l_partkey", "l_suppkey", "l_orderkey"]


def q_skew_report(spark, sf_dir):
    """Join-key skew diagnostics for lineitem's three join keys — the
    measurement that decides the salting question: top1_share is the
    single-reducer load fraction of a shuffle on that key."""
    from linkgraph.operators.skew import key_skew_report

    return key_skew_report(_t(spark, sf_dir, "lineitem"), SKEW_COLS)


def _skew_oracle_sql(cols) -> str:
    parts = []
    for c in cols:
        parts.append(f"""SELECT '{c}' AS key_col,
       CAST(SUM(f) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(f) AS BIGINT) AS max_freq,
       ROUND(quantile_cont(f, 0.5), 6) AS med_freq,
       ROUND(quantile_cont(f, 0.99), 6) AS p99_freq,
       ROUND(CAST(MAX(f) AS DOUBLE) / SUM(f), 6) AS top1_share
FROM (SELECT COUNT(*) AS f FROM lineitem GROUP BY {c})""")
    return "\nUNION ALL\n".join(parts)


SQL_SKEW_REPORT = _skew_oracle_sql(SKEW_COLS)


K_ANON_K = 10  # Sweeney re-identification threshold


def q_k_anonymity(spark, sf_dir):
    """k-anonymity audit of customers under the (nation, segment)
    quasi-identifier pair: classes below k are re-identifiable and must
    be suppressed/generalized before release."""
    from linkgraph.textops.pii import k_anonymity

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
    )
    return k_anonymity(c, ["nation", "segment"], k=K_ANON_K)


SQL_K_ANONYMITY = f"""
SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS group_n,
       CAST(CASE WHEN COUNT(*) < {K_ANON_K} THEN 1 ELSE 0 END AS BIGINT) AS at_risk
FROM customer GROUP BY 1, 2
"""


DOULION_P = 0.5  # edge retention; estimator scale = 1/p^3 = 8


def q_triangle_estimate(spark, sf_dir):
    """Doulion approximate triangle count: exact count on the md5-coin
    p-sparsified graph scaled by 1/p³, next to the true count — the
    cheap first answer before the full orientation join."""
    from linkgraph.algos.triangles import doulion_sampled_graph, triangle_count

    g = user_graph(spark, sf_dir)
    sub = doulion_sampled_graph(g, DOULION_P)
    n_s = triangle_count(sub, by_degree=True)
    n_e = triangle_count(g, by_degree=True)
    sub.unpersist()
    est = n_s * 8  # 1/p^3 with p=1/2 — integer-exact
    return spark.createDataFrame(
        [(n_e, n_s, est, round((est - n_e) / max(n_e, 1), 6))],
        "n_exact long, n_sampled long, doulion_est long, rel_err double",
    )


SQL_TRIANGLE_ESTIMATE = f"""
WITH {_USER_E},
se AS (SELECT src, dst FROM e
       WHERE CAST('0x' || substr(md5(CAST(LEAST(src, dst) AS VARCHAR) || '#' ||
             CAST(GREATEST(src, dst) AS VARCHAR) || '#tri'), 1, 15) AS BIGINT)
             % 10000 < {int(round(DOULION_P * 10_000))}),
o AS MATERIALIZED (SELECT src AS a, dst AS b FROM e WHERE src < dst),
os AS MATERIALIZED (SELECT src AS a, dst AS b FROM se WHERE src < dst),
tx AS (SELECT COUNT(*) AS n FROM o e1 JOIN o e2 ON e1.b = e2.a
       JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b),
ts AS (SELECT COUNT(*) AS n FROM os e1 JOIN os e2 ON e1.b = e2.a
       JOIN os e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT CAST(tx.n AS BIGINT) AS n_exact, CAST(ts.n AS BIGINT) AS n_sampled,
       CAST(ts.n * 8 AS BIGINT) AS doulion_est,
       ROUND(CAST(ts.n * 8 - tx.n AS DOUBLE) / GREATEST(tx.n, 1), 6) AS rel_err
FROM tx, ts
"""


SALSA_ROUNDS = 8  # fixed budget, mirrored by the unrolled oracle


def q_salsa(spark, sf_dir):
    """SALSA hubs/authorities on the ORIENTED (src < dst) co-purchase
    graph — HITS's degree-normalized cousin: stationary masses of the
    alternating random walk, immune to dense-vertex score capture."""
    from linkgraph.algos.salsa import salsa

    g = copurchase_graph(spark, sf_dir)
    oriented = LinkGraph(
        g.edges.where(F.col("src") < F.col("dst")).select("src", "dst"),
        materialize=False,
    )
    out = salsa(oriented, rounds=SALSA_ROUNDS)
    oriented.unpersist()
    return out


def _salsa_oracle_sql(rounds: int) -> str:
    parts = [
        "ed AS MATERIALIZED (SELECT src, dst FROM e WHERE src < dst)",
        "v AS MATERIALIZED (SELECT DISTINCT vid FROM "
        "(SELECT src AS vid FROM ed UNION ALL SELECT dst AS vid FROM ed))",
        "od AS MATERIALIZED (SELECT src AS vid, COUNT(*) AS d FROM ed GROUP BY src)",
        "idg AS MATERIALIZED (SELECT dst AS vid, COUNT(*) AS d FROM ed GROUP BY dst)",
        """h0 AS MATERIALIZED (
  SELECT v.vid, CASE WHEN od.vid IS NOT NULL
                     THEN 1.0 / (SELECT COUNT(*) FROM od) ELSE 0.0 END AS x
  FROM v LEFT JOIN od ON od.vid = v.vid)""",
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""a{i} AS MATERIALIZED (
  SELECT v.vid, COALESCE(s.acc, 0) AS x FROM v LEFT JOIN (
    SELECT ed.dst AS vid, SUM(h.x / od.d) AS acc
    FROM ed JOIN h{i - 1} h ON h.vid = ed.src JOIN od ON od.vid = ed.src
    WHERE h.x <> 0 GROUP BY ed.dst) s USING (vid))""")
        parts.append(f"""h{i} AS MATERIALIZED (
  SELECT v.vid, COALESCE(s.acc, 0) AS x FROM v LEFT JOIN (
    SELECT ed.src AS vid, SUM(a.x / idg.d) AS acc
    FROM ed JOIN a{i} a ON a.vid = ed.dst JOIN idg ON idg.vid = ed.dst
    WHERE a.x <> 0 GROUP BY ed.src) s USING (vid))""")
    return (
        f"WITH {_COPURCHASE_E},"
        + ",".join(parts)
        + f"""
SELECT CAST(v.vid AS BIGINT) AS vid, ROUND(h.x, 6) + 0 AS hub,
       ROUND(a.x, 6) + 0 AS auth
FROM v JOIN h{rounds} h USING (vid) JOIN a{rounds} a USING (vid)"""
    )


SQL_SALSA = _salsa_oracle_sql(SALSA_ROUNDS)


MIXTURE_ALPHA = 0.5  # sampling temperature shared with the SQL oracle


def q_mixture_weights(spark, sf_dir):
    """Temperature-scaled (alpha=0.5) per-language training-mixture
    weights: raw token share -> smoothed sampling share -> upsample
    factor (the mT5/XLM-R rule). One scan + two tiny normalizations."""
    from linkgraph.textops.textstats import mixture_weights

    return mixture_weights(_t(spark, sf_dir, "documents"), alpha=MIXTURE_ALPHA)


SQL_MIXTURE_WEIGHTS = f"""
WITH per AS MATERIALIZED (
  SELECT lang, CAST(SUM(len({_SQL_TOKENS})) AS DOUBLE) AS nt
  FROM documents GROUP BY lang),
tot AS (SELECT SUM(nt) AS tt FROM per),
sh AS (SELECT lang, CAST(nt AS BIGINT) AS n_tokens,
              nt / (SELECT tt FROM tot) AS raw,
              POW(nt / (SELECT tt FROM tot), {MIXTURE_ALPHA}) AS pw
       FROM per),
z AS (SELECT SUM(pw) AS z FROM sh)
SELECT lang, n_tokens, ROUND(raw, 6) AS raw_share,
       ROUND(pw / (SELECT z FROM z), 6) AS sample_share,
       ROUND(pw / (SELECT z FROM z) / raw, 6) AS upsample
FROM sh
"""


def q_dedup_token_stats(spark, sf_dir):
    """Per-source token mass before vs after exact dedup (min-doc_id
    survivor per md5 cluster) — the 'how much of this source is new
    data' accounting table."""
    from linkgraph.textops.dedup import dedup_token_stats

    return dedup_token_stats(_t(spark, sf_dir, "documents"))


SQL_DEDUP_TOKEN_STATS = f"""
WITH b AS MATERIALIZED (
  SELECT doc_id, source, md5(text) AS h,
         CAST(len({_SQL_TOKENS}) AS BIGINT) AS nt
  FROM documents),
k AS MATERIALIZED (SELECT h, MIN(doc_id) AS keep_id FROM b GROUP BY h)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_kept,
       CAST(SUM(CASE WHEN doc_id = keep_id THEN nt ELSE 0 END) AS BIGINT)
         AS n_tokens_kept,
       ROUND(1.0 - SUM(CASE WHEN doc_id = keep_id THEN nt ELSE 0 END)
                   / CAST(SUM(nt) AS DOUBLE), 6) AS dup_token_frac
FROM b JOIN k USING (h) GROUP BY source
"""


WS_K = 64  # weighted-sample size shared with the SQL oracle


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis exponential keys off the portable md5 hash): the 64 docs
    with the smallest -ln(u)/n_chars keys — the engine-portable 'sample
    a corpus proportional to length' primitive."""
    from linkgraph.operators.sampling import weighted_sample

    out = weighted_sample(_t(spark, sf_dir, "documents"), "doc_id", "n_chars", WS_K)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "weight",
        F.round("ws_key", 9).alias("ws_key"),
    )


SQL_WEIGHTED_SAMPLE = f"""
WITH s AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
         -LN((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#ws'), 1, 15)
                   AS BIGINT) AS DOUBLE) + 1.0) / 1152921504606846976.0)
           / CAST(n_chars AS DOUBLE) AS ws_key
  FROM documents WHERE n_chars > 0)
SELECT CAST(doc_id AS BIGINT) AS doc_id, weight, ROUND(ws_key, 9) AS ws_key
FROM s ORDER BY ws_key ASC, doc_id ASC LIMIT {WS_K}
"""


LANDMARK_L = 4  # landmark count shared with the SQL oracle
LANDMARK_P = 12  # query-pair vertex pool (top-degree)


def q_landmark_distances(spark, sf_dir):
    """Landmark distance sketches (Potamias CIKM'09): triangle-inequality
    lower/upper bounds for all pairs of the 12 top-degree vertices via
    one 4-landmark MS-BFS batch — the serving pattern for point-to-point
    distance queries at graph scale."""
    from linkgraph.algos.landmarks import landmark_distance_bounds

    g = copurchase_graph(spark, sf_dir)
    pool = [
        r["vid"]
        for r in g.degrees()
        .orderBy(F.col("deg").desc(), F.col("vid").asc())
        .limit(LANDMARK_P)
        .collect()
    ]
    return landmark_distance_bounds(g, LANDMARK_L, pool, BFS_MAX_LEVELS)


SQL_LANDMARK_DISTANCES = f"""
WITH RECURSIVE {_COPURCHASE_E},
dg AS MATERIALIZED (SELECT src AS vid, COUNT(*) AS deg FROM e GROUP BY src),
lm AS (SELECT vid FROM dg ORDER BY deg DESC, vid ASC LIMIT {LANDMARK_L}),
pv AS MATERIALIZED (SELECT vid FROM dg ORDER BY deg DESC, vid ASC LIMIT {LANDMARK_P}),
bfs(l, v, dist) AS (
  SELECT vid, vid, 0 FROM lm
  UNION
  SELECT bfs.l, e.dst, bfs.dist + 1 FROM bfs JOIN e ON e.src = bfs.v
  WHERE bfs.dist < {BFS_MAX_LEVELS}),
md AS MATERIALIZED (SELECT l, v, MIN(dist) AS d FROM bfs GROUP BY l, v),
dp AS MATERIALIZED (
  SELECT md.l, md.v AS u, md.d AS du FROM md JOIN pv ON pv.vid = md.v)
SELECT CAST(a.u AS BIGINT) AS u, CAST(b.u AS BIGINT) AS v,
       CAST(MAX(ABS(a.du - b.du)) AS INT) AS d_lb,
       CAST(MIN(a.du + b.du) AS INT) AS d_ub
FROM dp a JOIN dp b ON a.l = b.l AND a.u < b.u
GROUP BY a.u, b.u
"""


INC_ITERS = 6  # warm-start budget after the delta, shared with the oracle
INC_DELTA_TYPE = "purchase"  # the event slice that 'arrives later'


def q_pagerank_incremental(spark, sf_dir):
    """Incremental PageRank on a graph delta: run PR_ITERS iterations on
    the user graph WITHOUT the '{purchase}' slice, then add those edges
    (restricted to the existing vertex set, so the snapshot covers every
    vertex) and continue INC_ITERS warm-started iterations from the
    previous scores — the daily-delta update path at 10^12-turn scale.
    Hash-checked against a DuckDB recursive CTE whose edge/degree tables
    switch at the phase boundary."""
    from linkgraph.algos.pagerank import pagerank

    ev = _t(spark, sf_dir, "events")
    e1 = derive.events_user_edges(ev.where(F.col("event_type") != INC_DELTA_TYPE))
    g1 = LinkGraph(e1)
    pr1 = pagerank(g1, tol=0, max_iter=PR_ITERS)
    v1 = g1.vertices()
    e2 = (
        derive.events_user_edges(ev.where(F.col("event_type") == INC_DELTA_TYPE))
        .join(v1.withColumnRenamed("vid", "src"), "src", "left_semi")
        .join(v1.withColumnRenamed("vid", "dst"), "dst", "left_semi")
        .select("src", "dst")
    )
    g2 = LinkGraph(e1.select("src", "dst").union(e2).distinct())
    pr2 = pagerank(g2, tol=0, max_iter=INC_ITERS, init=pr1)
    g1.unpersist()
    g2.unpersist()
    return pr2.select(
        F.col("vid").cast("long").alias("vid"), F.round("pr", 9).alias("pr")
    )


SQL_PAGERANK_INCREMENTAL = f"""
WITH RECURSIVE
uk1 AS MATERIALIZED (
  SELECT DISTINCT event_type AS k, user_id AS u FROM events
  WHERE event_type <> '{INC_DELTA_TYPE}'),
e1 AS MATERIALIZED (
  SELECT DISTINCT a.u AS src, b.u AS dst FROM uk1 a JOIN uk1 b
  ON a.k = b.k AND a.u <> b.u),
v1 AS MATERIALIZED (SELECT DISTINCT src AS vid FROM e1),
uk2 AS (SELECT DISTINCT user_id AS u FROM events
        WHERE event_type = '{INC_DELTA_TYPE}'),
e2 AS MATERIALIZED (
  SELECT a.u AS src, b.u AS dst FROM uk2 a JOIN uk2 b ON a.u <> b.u
  WHERE a.u IN (SELECT vid FROM v1) AND b.u IN (SELECT vid FROM v1)),
ef AS MATERIALIZED (SELECT src, dst FROM e1 UNION SELECT src, dst FROM e2),
ea AS MATERIALIZED (
  SELECT src, dst, 0 AS ph FROM e1
  UNION ALL SELECT src, dst, 1 AS ph FROM ef),
da AS MATERIALIZED (
  SELECT ph, src AS vid, CAST(COUNT(*) AS DOUBLE) AS deg
  FROM ea GROUP BY ph, src),
nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM v1),
pr(it, vid, pr) AS (
  SELECT 0, vid, 1.0/(SELECT n FROM nv) FROM v1
  UNION ALL
  SELECT p.it + 1, ea.dst,
         (1.0 - 0.85)/(SELECT n FROM nv) + 0.85*SUM(p.pr/da.deg)
  FROM pr p
  JOIN da ON da.vid = p.vid
         AND da.ph = (CASE WHEN p.it < {PR_ITERS} THEN 0 ELSE 1 END)
  JOIN ea ON ea.src = p.vid AND ea.ph = da.ph
  WHERE p.it < {PR_ITERS} + {INC_ITERS}
  GROUP BY p.it + 1, ea.dst
)
SELECT CAST(vid AS BIGINT) AS vid, ROUND(pr, 9) AS pr
FROM pr WHERE it = {PR_ITERS} + {INC_ITERS}
"""


# ------------------------------------------------------ FastRP embeddings
_FRP_DIMS = 8
_FRP_W = (1, 2)


def q_fastrp_embed(spark, sf_dir):
    """FastRP node embeddings over the user graph — exact-integer
    propagation (2 hops, weights 1·A R + 2·A²R), ±1 md5 seeds, final
    row-local L2 norm; hash-checked against an unrolled DuckDB mirror
    (algos/fastrp.py)."""
    from linkgraph.algos.fastrp import fastrp_embeddings

    g = user_graph(spark, sf_dir)
    emb = fastrp_embeddings(g, dims=_FRP_DIMS, weights=_FRP_W, hash_mode="md5")
    vals = F.array(*[F.round(F.col(f"e{j}"), 9) for j in range(_FRP_DIMS)])
    return emb.select(
        F.col("vid").cast("long").alias("vid"),
        F.posexplode(vals).alias("dim", "val"),
    )


def _frp_seed_sql(j: int) -> str:
    h = (
        f"CAST('0x' || substr(md5(CAST(vid AS VARCHAR) || '#frp#{j}'), 1, 15)"
        " AS BIGINT)"
    )
    return (
        f"CASE ({h}) % 4 WHEN 0 THEN CAST(1 AS BIGINT)"
        f" WHEN 1 THEN CAST(-1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS x{j}"
    )


def _frp_cte(edges_cte: str | None = None) -> str:
    """Shared DuckDB CTE prefix: unrolled 2-hop exact-integer FastRP up to
    `comb` (the un-normalized embedding) and `nrm` (row L2 norms).

    `edges_cte` swaps the graph source (a CTE chain ending in a symmetric
    `e(src, dst)`); default is the user graph."""
    d = _FRP_DIMS
    w1, w2 = _FRP_W
    xs = [f"x{j}" for j in range(d)]
    seeds = ",\n         ".join(_frp_seed_sql(j) for j in range(d))
    sums = ", ".join(f"SUM({x}) AS {x}" for x in xs)
    coal = ", ".join(f"COALESCE(m.{x}, 0) AS {x}" for x in xs)
    comb = ", ".join(f"{w1} * a.{x} + {w2} * b.{x} AS {x}" for x in xs)
    sq = " + ".join(f"{x} * {x}" for x in xs)
    return f"""
WITH {edges_cte if edges_cte is not None else _USER_E_MAT},
verts AS MATERIALIZED (SELECT DISTINCT src AS vid FROM e),
r AS MATERIALIZED (
  SELECT vid, {seeds}
  FROM verts),
m1 AS MATERIALIZED (
  SELECT e.dst AS vid, {sums} FROM e JOIN r ON r.vid = e.src GROUP BY e.dst),
m1f AS MATERIALIZED (
  SELECT v.vid, {coal} FROM verts v LEFT JOIN m1 m ON m.vid = v.vid),
m2 AS MATERIALIZED (
  SELECT e.dst AS vid, {sums} FROM e JOIN m1f ON m1f.vid = e.src GROUP BY e.dst),
m2f AS (SELECT v.vid, {coal} FROM verts v LEFT JOIN m2 m ON m.vid = v.vid),
comb AS MATERIALIZED (SELECT a.vid, {comb} FROM m1f a JOIN m2f b ON b.vid = a.vid),
nrm AS (SELECT vid, sqrt(CAST({sq} AS DOUBLE)) AS nn, * FROM comb)"""


def _frp_embed_sql() -> str:
    d = _FRP_DIMS
    arms = "\nUNION ALL\n".join(
        f"SELECT CAST(vid AS BIGINT) AS vid, {j} AS dim,\n"
        f"       CASE WHEN nn > 0 THEN ROUND(CAST(x{j} AS DOUBLE) / nn, 9)\n"
        f"            ELSE 0.0 END AS val FROM nrm"
        for j in range(d)
    )
    return f"{_frp_cte()}\n{arms}\n"


SQL_FASTRP_EMBED = _frp_embed_sql()


def q_fastrp_ann_topk(spark, sf_dir):
    """End-to-end graph -> embedding -> similarity-search composition:
    top-10 cosine neighbors of the smallest-vid vertex in FastRP space.
    Works on the UN-normalized integer embedding so the dot product is
    exact int64 arithmetic; only the final divide by the two row norms is
    float (deterministic row-local IEEE both engines reproduce).  The
    query vector is one broadcast row — the corpus side never shuffles
    (the ann_cosine_topk serving shape, here fed by fastrp instead of the
    embeddings table)."""
    from linkgraph.algos.fastrp import fastrp_embeddings

    d = _FRP_DIMS
    xs = [f"x{j}" for j in range(d)]
    emb = fastrp_embeddings(
        user_graph(spark, sf_dir), dims=d, weights=_FRP_W,
        hash_mode="md5", normalize=False,
    )
    qv = emb.orderBy("vid").limit(1).select(
        F.col("vid").alias("qvid"), *[F.col(x).alias(f"q{x}") for x in xs]
    )
    pairs = emb.crossJoin(F.broadcast(qv)).where(F.col("vid") != F.col("qvid"))
    dot = None
    nc = None
    nq = None
    for x in xs:
        t = F.col(x) * F.col(f"q{x}")
        dot = t if dot is None else dot + t
        c = F.col(x) * F.col(x)
        nc = c if nc is None else nc + c
        q = F.col(f"q{x}") * F.col(f"q{x}")
        nq = q if nq is None else nq + q
    sim = F.when(
        (nc > 0) & (nq > 0),
        dot.cast("double") / (F.sqrt(nc.cast("double")) * F.sqrt(nq.cast("double"))),
    ).otherwise(F.lit(0.0))
    return (
        pairs.select(
            F.col("vid").cast("long").alias("vid"), F.round(sim, 9).alias("sim")
        )
        .orderBy(F.col("sim").desc(), F.col("vid").asc())
        .limit(10)
    )


def _frp_ann_sql() -> str:
    d = _FRP_DIMS
    xs = [f"x{j}" for j in range(d)]
    dot = " + ".join(f"c.{x} * q.{x}" for x in xs)
    nc = " + ".join(f"c.{x} * c.{x}" for x in xs)
    nq = " + ".join(f"q.{x} * q.{x}" for x in xs)
    return f"""{_frp_cte()},
q AS (SELECT c.* FROM comb c JOIN (SELECT MIN(vid) AS qvid FROM comb) m
      ON c.vid = m.qvid),
s AS (
  SELECT c.vid, ({dot}) AS dot,
         sqrt(CAST({nc} AS DOUBLE)) AS nc,
         sqrt(CAST({nq} AS DOUBLE)) AS nq
  FROM comb c, q WHERE c.vid <> q.vid)
SELECT CAST(vid AS BIGINT) AS vid,
       ROUND(CASE WHEN nc > 0 AND nq > 0
                  THEN CAST(dot AS DOUBLE) / (nc * nq)
                  ELSE 0.0 END, 9) AS sim
FROM s ORDER BY sim DESC, vid ASC LIMIT 10
"""


SQL_FASTRP_ANN_TOPK = _frp_ann_sql()


def q_dedup_split(spark, sf_dir):
    """Leakage-safe train/val/test split: hash-split keyed on the NEAR-DUP
    CLUSTER id, so every member of a near-duplicate group lands in the
    same split (the standard guard against train/test contamination via
    near-copies).  Pure composition: near_duplicate_clusters (MinHash LSH
    + CC) -> hash_split on the cluster key — no new shuffle beyond the
    clustering itself."""
    from linkgraph.operators.sampling import hash_split
    from linkgraph.textops.dedup import near_duplicate_clusters

    cl = near_duplicate_clusters(
        _t(spark, sf_dir, "documents"),
        threshold=0.3, num_hashes=64, bands=16, hash_family="md5",
    )
    return hash_split(cl.select("doc_id", "cluster"), "cluster", SPLIT_WEIGHTS).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster").cast("long").alias("cluster"),
        "split",
    )


SQL_DEDUP_SPLIT = f"""
WITH RECURSIVE {_SQL_MINHASH_CTES},
p AS (SELECT a, b FROM jac WHERE jac >= 0.3),
e2 AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
verts AS (SELECT DISTINCT src AS v FROM e2),
reach(v, u) AS (
  SELECT v, v FROM verts
  UNION
  SELECT reach.v, e2.dst FROM reach JOIN e2 ON e2.src = reach.u),
cmp AS (SELECT v AS doc_id, MIN(u) AS cluster FROM reach GROUP BY v),
allm AS (
  SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
  FROM documents d LEFT JOIN cmp c ON c.doc_id = d.doc_id),
b AS (
  SELECT doc_id, cluster,
         CAST('0x' || substr(md5(CAST(cluster AS VARCHAR) || '#split'), 1, 15)
              AS BIGINT) % 10000 AS bkt
  FROM allm)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(cluster AS BIGINT) AS cluster,
       CASE WHEN bkt < 8000 THEN 'train'
            WHEN bkt < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def q_embedding_quantize(spark, sf_dir):
    """Per-dimension int8 scalar quantization of the embedding corpus
    (textops/quant.py): (vec_id, dim, code, err) with the measured
    reconstruction error — the SQ8 serving compaction for the ANN stack."""
    from linkgraph.textops.quant import quantize_codes

    return quantize_codes(_t(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").cast("long").alias("vec_id"), "dim", "code", "err"
    )


SQL_EMBEDDING_QUANTIZE = """
WITH ex0 AS (
  SELECT vec_id, UNNEST(range(len(embedding))) AS dim,
         UNNEST(embedding) AS val
  FROM embeddings),
ex AS (SELECT vec_id, dim, CAST(val AS DOUBLE) AS v FROM ex0),
st AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM ex GROUP BY dim),
q AS (
  SELECT e.vec_id, e.dim, e.v, st.mn, st.mx,
         CASE WHEN st.mx > st.mn
              THEN ROUND((e.v - st.mn) / (st.mx - st.mn) * 255.0, 0)
              ELSE 0.0 END AS code_d
  FROM ex e JOIN st USING (dim))
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(dim AS BIGINT) AS dim,
       CAST(code_d AS BIGINT) AS code,
       ROUND(ABS(v - (mn + code_d / 255.0 * (mx - mn))), 9) AS err
FROM q
"""


ST_DIST_LEVELS = 16  # shared bound: bidirectional expansions == oracle depth


def q_st_distance(spark, sf_dir):
    """Point-to-point distance by bidirectional BFS (meet-in-the-middle):
    from the top-degree hub to the max-id vertex of the co-purchase
    graph.  Each round expands the MEASURED-smaller frontier; first-meet
    min(d_f + d_b) is exactly dist(s,t) (see algos/bidir.py docstring for
    the proof).  O(b^{d/2}) frontier work where one-sided BFS pays
    O(b^d) — the point-to-point primitive at 100 TB."""
    from linkgraph.algos.bidir import st_distance

    g = copurchase_graph(spark, sf_dir)
    deg = g.degrees()
    s = deg.orderBy(F.col("deg").desc(), F.col("vid").asc()).first()["vid"]
    t = deg.agg(F.max("vid")).first()[0]
    return st_distance(g, int(s), int(t), max_rounds=ST_DIST_LEVELS)


SQL_ST_DISTANCE = f"""
WITH RECURSIVE {_COPURCHASE_E},
deg AS (SELECT src AS vid, COUNT(*) AS deg FROM e GROUP BY src),
sv AS (SELECT vid FROM deg ORDER BY deg DESC, vid ASC LIMIT 1),
tv AS (SELECT MAX(vid) AS vid FROM deg),
bfs(v, dist) AS (
  SELECT vid, 0 FROM sv
  UNION
  SELECT e.dst, bfs.dist + 1 FROM bfs JOIN e ON e.src = bfs.v
  WHERE bfs.dist < {ST_DIST_LEVELS})
SELECT CAST((SELECT vid FROM sv) AS BIGINT) AS src_vid,
       CAST((SELECT vid FROM tv) AS BIGINT) AS dst_vid,
       CAST(MIN(bfs.dist) AS BIGINT) AS dist
FROM bfs WHERE bfs.v = (SELECT vid FROM tv)
HAVING COUNT(*) > 0
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR importance-resampling weights toward the lang='en' target
    slice: per-token mean log-ratio of target vs raw unigram LMs, add-1
    smoothed over the raw vocabulary (NeurIPS'23 data-selection
    signal)."""
    from linkgraph.textops.textstats import dsir_logratio

    return dsir_logratio(_t(spark, sf_dir, "documents"), "lang", "en")


SQL_DSIR_WEIGHTS = f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_tgt,
         unnest({_SQL_TOKENS}) AS term
  FROM documents),
tf AS MATERIALIZED (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
uni AS MATERIALIZED (
  SELECT term, COUNT(*) AS c_raw, SUM(is_tgt) AS c_tgt
  FROM tok GROUP BY term),
tot AS (SELECT CAST(SUM(c_raw) AS DOUBLE) AS t_raw,
               CAST(SUM(c_tgt) AS DOUBLE) AS t_tgt,
               CAST(COUNT(*) AS DOUBLE) AS v
        FROM uni)
SELECT tf.doc_id AS doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
       ROUND(SUM(tf.tf * (ln(uni.c_tgt + 1) - ln(uni.c_raw + 1)))
               / SUM(tf.tf)
             + ln(tot.t_raw + tot.v) - ln(tot.t_tgt + tot.v),
             6) AS dsir_logratio
FROM tf JOIN uni USING (term) CROSS JOIN tot
GROUP BY tf.doc_id, tot.t_raw, tot.t_tgt, tot.v
"""


SHUFFLE_SEED = 1
SHUFFLE_BUCKETS = 32


def q_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch shuffle of the documents corpus: a seeded
    pseudorandom permutation pos in 0..n-1 assigned by two-phase rank
    (bucket window + broadcast offsets — no global sort; see
    operators/sampling.py::epoch_shuffle)."""
    from linkgraph.operators.sampling import epoch_shuffle

    return epoch_shuffle(
        _t(spark, sf_dir, "documents").select("doc_id"),
        "doc_id",
        seed=SHUFFLE_SEED,
        buckets=SHUFFLE_BUCKETS,
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "pos")


SQL_EPOCH_SHUFFLE = f"""
WITH h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#shuffle#{SHUFFLE_SEED}'), 1, 15)
              AS BIGINT) AS hv
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY hv % {SHUFFLE_BUCKETS}, hv, doc_id) - 1
            AS BIGINT) AS pos
FROM h
"""


COND_ROUNDS = 8


def q_condensation(spark, sf_dir):
    """Topological layering of the directed sequential co-purchase graph's
    SCC condensation: (comp, depth) with depth = longest quotient-DAG path
    ending at that component (8 max-plus relaxation sweeps, mirrored by
    the unrolled oracle chain)."""
    from linkgraph.algos.scc import condensation_layers
    from linkgraph.sources.derive import sequential_copurchase_edges

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > SCC_QTY)
    return condensation_layers(
        sequential_copurchase_edges(li), rounds=COND_ROUNDS
    )


def _condensation_oracle_sql(rounds: int) -> str:
    steps = []
    for k in range(1, rounds + 1):
        steps.append(
            f"d{k} AS (SELECT c, MAX(depth) AS depth FROM ("
            f"SELECT c, depth FROM d{k - 1} UNION ALL "
            f"SELECT ce.dst AS c, d.depth + 1 AS depth "
            f"FROM d{k - 1} d JOIN ce ON ce.src = d.c) GROUP BY c)"
        )
    chain = ",\n".join(steps)
    return f"""
WITH RECURSIVE e AS MATERIALIZED (
  SELECT DISTINCT l_partkey AS src, nxt AS dst FROM (
    SELECT l_partkey,
           lead(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS nxt
    FROM lineitem WHERE l_quantity > {SCC_QTY})
  WHERE nxt IS NOT NULL AND nxt <> l_partkey),
verts AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
reach(v, u) AS (
  SELECT v, v FROM verts
  UNION
  SELECT reach.v, e.dst FROM reach JOIN e ON e.src = reach.u),
cmp AS MATERIALIZED (
  SELECT r1.v AS vid, MIN(r1.u) AS comp
  FROM reach r1 JOIN reach r2 ON r2.v = r1.u AND r2.u = r1.v
  GROUP BY r1.v),
ce AS MATERIALIZED (
  SELECT DISTINCT c1.comp AS src, c2.comp AS dst
  FROM e JOIN cmp c1 ON c1.vid = e.src JOIN cmp c2 ON c2.vid = e.dst
  WHERE c1.comp <> c2.comp),
d0 AS (SELECT DISTINCT comp AS c, 0 AS depth FROM cmp),
{chain}
SELECT CAST(c AS BIGINT) AS comp, CAST(depth AS BIGINT) AS depth FROM d{rounds}
"""


SQL_CONDENSATION = _condensation_oracle_sql(COND_ROUNDS)


# ---------------------------------------------------------------- round-5 wave 3

TEXTRANK_ITERS = 10  # shared fixed-point budget (engine loop == oracle CTE)
TEXTRANK_K = 30
TEXTRANK_D = 0.85


def q_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction: damped weighted PageRank over the
    adjacent-token co-occurrence graph (window 2), 10 fixed iterations,
    top-30 by rounded score — the corpus-derived-graph synthesis of the
    engine's own PageRank kernel."""
    from linkgraph.textops.keywords import textrank_keywords

    return textrank_keywords(
        _t(spark, sf_dir, "documents"),
        k=TEXTRANK_K,
        damping=TEXTRANK_D,
        iters=TEXTRANK_ITERS,
    )


SQL_TEXTRANK_KEYWORDS = f"""
WITH RECURSIVE
tok AS MATERIALIZED (SELECT {_SQL_TOKENS} AS ts FROM documents),
bi AS MATERIALIZED (
  SELECT unnest(CASE WHEN len(ts) >= 2
                     THEN list_transform(range(1, len(ts)),
                          i -> ts[i] || ' ' || ts[i + 1])
                     ELSE [] END) AS g
  FROM tok),
pw AS MATERIALIZED (
  SELECT least(string_split(g, ' ')[1], string_split(g, ' ')[2]) AS a,
         greatest(string_split(g, ' ')[1], string_split(g, ' ')[2]) AS b,
         COUNT(*) AS w
  FROM bi WHERE string_split(g, ' ')[1] <> string_split(g, ' ')[2]
  GROUP BY 1, 2),
ed AS MATERIALIZED (
  SELECT a AS src, b AS dst, w FROM pw
  UNION ALL SELECT b, a, w FROM pw),
wd AS MATERIALIZED (SELECT src, CAST(SUM(w) AS DOUBLE) AS wdeg FROM ed GROUP BY src),
em AS MATERIALIZED (
  SELECT e.src, e.dst, e.w / wd.wdeg AS frac FROM ed e JOIN wd ON wd.src = e.src),
tr(it, word, score) AS (
  -- CAST: the init branch fixes the CTE column type; a bare 1.0 is
  -- DECIMAL(2,1) and silently truncates every iteration to one decimal
  SELECT 0, src, CAST(1.0 AS DOUBLE) FROM wd
  UNION ALL
  SELECT t.it + 1, em.dst,
         (1.0 - {TEXTRANK_D}) + {TEXTRANK_D} * SUM(em.frac * t.score)
  FROM tr t JOIN em ON em.src = t.word
  WHERE t.it < {TEXTRANK_ITERS}
  GROUP BY t.it + 1, em.dst)
SELECT word, ROUND(score, 6) AS score FROM tr WHERE it = {TEXTRANK_ITERS}
ORDER BY ROUND(score, 6) DESC, word ASC LIMIT {TEXTRANK_K}
"""


def q_stopword_candidates(spark, sf_dir):
    """Stop-list discovery: words in >= 30% of documents, ranked by
    (df ratio, corpus frequency) — one corpus scan via a (word, doc)
    pre-count rollup."""
    from linkgraph.textops.keywords import stopword_candidates

    return stopword_candidates(
        _t(spark, sf_dir, "documents"), min_df_ratio=0.3, k=40
    )


SQL_STOPWORD_CANDIDATES = f"""
WITH wd AS (
  SELECT w, doc_id, COUNT(*) AS c
  FROM (SELECT doc_id, unnest({_SQL_TOKENS}) AS w FROM documents)
  GROUP BY w, doc_id),
pword AS (SELECT w, COUNT(*) AS df, SUM(c) AS cf FROM wd GROUP BY w),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
SELECT w AS word, CAST(df AS BIGINT) AS df, CAST(cf AS BIGINT) AS cf,
       ROUND(df / n_docs, 6) AS df_ratio
FROM pword CROSS JOIN tot
WHERE df / n_docs >= 0.3
ORDER BY df_ratio DESC, cf DESC, word ASC LIMIT 40
"""


def q_readability(spark, sf_dir):
    """Flesch reading-ease per document from three regexp counters
    (tokens / sentence-punctuation runs / vowel-group syllables) — one
    projection, no shuffle."""
    from linkgraph.textops.textstats import readability

    return readability(_t(spark, sf_dir, "documents"))


SQL_READABILITY = """
WITH m AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       CASE WHEN n_words > 0
            THEN ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                               - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6)
       END AS flesch
FROM m
"""


PROFILE_COLS = ("l_discount", "l_extendedprice", "l_quantity", "l_tax")


def q_data_profile(spark, sf_dir):
    """Schema-drift / planning profile of lineitem numerics: null count,
    exact cardinality, range, mean per column — every metric from ONE
    scan, unpivoted driver-free."""
    from linkgraph.operators.profile import data_profile

    return data_profile(_t(spark, sf_dir, "lineitem"), PROFILE_COLS)


SQL_DATA_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS DOUBLE) AS min_v, CAST(MAX({c}) AS DOUBLE) AS max_v,
       ROUND(AVG(CAST({c} AS DOUBLE)), 6) AS mean_v FROM lineitem"""
    for c in PROFILE_COLS
)


NBRMH_HASHES = 32
NBRMH_BANDS = 8
NBRMH_T = 0.4


def q_nbr_minhash_sim(spark, sf_dir):
    """Neighborhood-MinHash vertex similarity on the co-purchase graph:
    banded signature LSH (8 bands x 4 rows, portable md5 family) +
    exact Jaccard verify of candidates only — the linear-in-|E| sketch
    alternative to the exact wedge enumeration of vertex_similarity."""
    from linkgraph.algos.nbrsketch import neighborhood_minhash_pairs
    from linkgraph.sources import derive

    edges = derive.copurchase_edges(_t(spark, sf_dir, "lineitem"))
    return neighborhood_minhash_pairs(
        edges, num_hashes=NBRMH_HASHES, bands=NBRMH_BANDS, threshold=NBRMH_T
    )


_NBRMH_R = NBRMH_HASHES // NBRMH_BANDS
SQL_NBR_MINHASH_SIM = f"""
WITH
{_COPURCHASE_E},
nbr AS MATERIALIZED (SELECT DISTINCT src, dst FROM e),
th AS MATERIALIZED (
  SELECT nbr.src, s.seed,
         MIN({_SQL_H60.format(x="CAST(nbr.dst AS VARCHAR) || '#' || s.seed")}) AS mh
  FROM nbr, (SELECT unnest(range({NBRMH_HASHES})) AS seed) s
  GROUP BY nbr.src, s.seed),
banded AS MATERIALIZED (
  SELECT src, seed // {_NBRMH_R} AS band,
         string_agg(mh::VARCHAR, '_' ORDER BY seed) AS bucket
  FROM th GROUP BY src, seed // {_NBRMH_R}),
cand AS MATERIALIZED (
  SELECT DISTINCT x.src AS a, y.src AS b
  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket
  WHERE x.src < y.src),
sizes AS MATERIALIZED (SELECT src, COUNT(*) AS sz FROM nbr GROUP BY src),
inter AS (
  SELECT c.a, c.b, COUNT(*) AS i
  FROM cand c JOIN nbr ta ON ta.src = c.a
  JOIN nbr tb ON tb.src = c.b AND tb.dst = ta.dst
  GROUP BY c.a, c.b)
SELECT CAST(c.a AS BIGINT) AS a, CAST(c.b AS BIGINT) AS b,
       ROUND(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i), 6) AS jac
FROM cand c JOIN inter i ON i.a = c.a AND i.b = c.b
JOIN sizes sa ON sa.src = c.a JOIN sizes sb ON sb.src = c.b
WHERE CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) >= {NBRMH_T}
ORDER BY a, b
"""


# ---------------------------------------------------------------- round-5 wave 4


def q_scd2_intervals(spark, sf_dir):
    """SCD-type-2 change history of each user's event_type stream:
    VALUE-change gaps-and-islands (lag marker + running island sum +
    lead-closed validity) — one shuffle on user_id, every other step
    partition-local (see operators/scd.py)."""
    from linkgraph.operators.scd import change_intervals

    iv = change_intervals(
        _t(spark, sf_dir, "events"), "user_id", "event_type", "ts", "event_id"
    )
    return iv.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "n_events",
    )


SQL_SCD2_INTERVALS = """
WITH m AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
i AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM m),
runs AS (
  SELECT user_id, isl, MIN(event_type) AS event_type,
         MIN(ts) AS vf, COUNT(*) AS n_events
  FROM i GROUP BY user_id, isl)
SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
       strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(lead(vf) OVER (PARTITION BY user_id ORDER BY isl),
                '%Y-%m-%d %H:%M:%S') AS valid_to,
       CAST(n_events AS BIGINT) AS n_events
FROM runs
"""


SIMRANK_K = 50
SIMRANK_C = 0.8
SIMRANK_ITERS = 3
SIMRANK_TOPK = 100


def q_simrank(spark, sf_dir):
    """Exact SimRank fixed point over the top-50-hub induced co-purchase
    subgraph (the pairwise working-set shape SimRank is actually served
    at — see algos/simrank.py for why full-graph exact is off the table
    at web scale)."""
    from linkgraph.algos.simrank import simrank_topk
    from linkgraph.sources import derive

    edges = derive.copurchase_edges(_t(spark, sf_dir, "lineitem"))
    return simrank_topk(
        edges,
        k_vertices=SIMRANK_K,
        c=SIMRANK_C,
        iters=SIMRANK_ITERS,
        topk=SIMRANK_TOPK,
    )


def _simrank_oracle_sql(iters: int, k_vertices: int, c: float, topk: int) -> str:
    steps = []
    prev = "s0"
    for t in range(1, iters + 1):
        steps.append(
            f"""a{t} AS MATERIALIZED (
  SELECT e1.dst AS u, e2.dst AS v, SUM({prev}.s) AS ssum
  FROM {prev} JOIN se e1 ON e1.src = {prev}.u JOIN se e2 ON e2.src = {prev}.v
  WHERE e1.dst <> e2.dst GROUP BY e1.dst, e2.dst),
s{t} AS MATERIALIZED (
  SELECT a{t}.u, a{t}.v,
         CAST({c} AS DOUBLE) / (da.deg * db.deg) * a{t}.ssum AS s
  FROM a{t} JOIN d da ON da.src = a{t}.u JOIN d db ON db.src = a{t}.v
  UNION ALL SELECT u, v, s FROM s0)"""
        )
        prev = f"s{t}"
    chain = ",\n".join(steps)
    return f"""
WITH
{_COPURCHASE_E},
dg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
top AS MATERIALIZED (
  SELECT src AS vid FROM dg ORDER BY deg DESC, src ASC LIMIT {k_vertices}),
se AS MATERIALIZED (
  SELECT e.src, e.dst FROM e
  JOIN top t1 ON t1.vid = e.src JOIN top t2 ON t2.vid = e.dst),
d AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM se GROUP BY src),
s0 AS MATERIALIZED (SELECT vid AS u, vid AS v, CAST(1.0 AS DOUBLE) AS s FROM top),
{chain}
SELECT CAST(u AS BIGINT) AS a, CAST(v AS BIGINT) AS b, ROUND(s, 6) AS s
FROM s{iters} WHERE u < v
ORDER BY ROUND(s, 6) DESC, a, b LIMIT {topk}
"""


SQL_SIMRANK = _simrank_oracle_sql(SIMRANK_ITERS, SIMRANK_K, SIMRANK_C, SIMRANK_TOPK)


GDC_K = 5  # greedy budget: k driver-side single-row argmax actions
GDC_N = 3


def q_greedy_doc_cover(spark, sf_dir):
    """Greedy maximum-coverage data selection: pick 5 documents
    maximizing distinct covered trigrams, (1-1/e) guarantee — one
    corpus collapse + k broadcast-anti-join rounds (textops/coverage.py)."""
    from linkgraph.textops.coverage import greedy_doc_cover

    return greedy_doc_cover(_t(spark, sf_dir, "documents"), k=GDC_K, n=GDC_N)


def _doc_cover_oracle_sql(k: int) -> str:
    steps, picks = [], []
    prev = "g"
    for r in range(1, k + 1):
        steps.append(
            f"""p{r} AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS gain FROM {prev}
  GROUP BY doc_id ORDER BY gain DESC, doc_id ASC LIMIT 1),
c{r} AS MATERIALIZED (
  SELECT DISTINCT t.gram FROM {prev} t JOIN p{r} ON t.doc_id = p{r}.doc_id),
r{r} AS MATERIALIZED (
  SELECT t.doc_id, t.gram FROM {prev} t ANTI JOIN c{r} ON t.gram = c{r}.gram)"""
        )
        picks.append(f"SELECT {r} AS rnk, doc_id, gain FROM p{r}")
        prev = f"r{r}"
    chain = ",\n".join(steps)
    union = "\nUNION ALL ".join(picks)
    return f"""
WITH
tok AS MATERIALIZED (SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents),
g AS MATERIALIZED (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id, unnest(CASE WHEN len(ts) >= {GDC_N}
        THEN list_transform(range(1, len(ts) - {GDC_N} + 2),
             i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])
        ELSE [] END) AS gram
    FROM tok)),
{chain}
SELECT CAST(rnk AS INTEGER) AS rank, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(gain AS BIGINT) AS gain
FROM ({union}) ORDER BY rnk
"""


SQL_GREEDY_DOC_COVER = _doc_cover_oracle_sql(GDC_K)


# ---------------------------------------------------------------- round-5 wave 5

IVU_DUR_S = 300  # each event casts a 5-min busy interval


def q_interval_union(spark, sf_dir):
    """Merged busy-time coverage per user: each event casts a 5-min
    interval; overlapping-or-touching intervals union via the running-
    max gaps-and-islands sweep — ONE shuffle on user_id (see
    operators/intervals.py::interval_union)."""
    from linkgraph.operators.intervals import interval_union

    ev = _t(spark, sf_dir, "events")
    ep = F.unix_timestamp("ts")
    iv = ev.select(
        "user_id",
        ep.alias("start_s"),
        (ep + IVU_DUR_S).alias("end_s"),
        "event_id",
    )
    return interval_union(iv)


SQL_INTERVAL_UNION = f"""
WITH iv AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + {IVU_DUR_S} AS e, event_id
  FROM events),
m AS (
  SELECT user_id, s, e, event_id,
         CASE WHEN MAX(e) OVER pw IS NULL OR s > MAX(e) OVER pw
              THEN 1 ELSE 0 END AS nb
  FROM iv WINDOW pw AS (PARTITION BY user_id ORDER BY s, e, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
b AS (
  SELECT *, SUM(nb) OVER (PARTITION BY user_id ORDER BY s, e, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS blk
  FROM m),
blocks AS (
  SELECT user_id, blk, MAX(e) - MIN(s) AS len_s FROM b GROUP BY user_id, blk)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(len_s) AS BIGINT) AS covered_s,
       CAST(MAX(len_s) AS BIGINT) AS max_block_s
FROM blocks GROUP BY user_id
"""


DECAY_HALF_LIFE_S = 86_400


def q_decayed_activity(spark, sf_dir):
    """Exponential time-decayed per-user activity score (1-day half
    life, anchored at corpus max ts) — the deterministic batch form of
    'trending now' (operators/events.py::decayed_activity)."""
    from linkgraph.operators.events import decayed_activity

    return decayed_activity(
        _t(spark, sf_dir, "events"), half_life_s=DECAY_HALF_LIFE_S
    )


SQL_DECAYED_ACTIVITY = f"""
WITH t AS (SELECT MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS tmax FROM events)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value * POWER(CAST(2.0 AS DOUBLE),
             -CAST(tmax - CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE)
             / {DECAY_HALF_LIFE_S})), 6) AS decayed_score
FROM events CROSS JOIN t GROUP BY user_id
"""


STATIONARY_ITERS = 20


def q_event_stationary(spark, sf_dir):
    """Stationary distribution of the event-type Markov chain: 20 fixed
    power iterations over the per-user adjacent-transition matrix, sink
    states self-looped so mass is conserved (operators/events.py::
    event_stationary); oracle unrolls the identical recursion."""
    from linkgraph.operators.events import event_stationary

    return event_stationary(_t(spark, sf_dir, "events"), iters=STATIONARY_ITERS)


SQL_EVENT_STATIONARY = f"""
WITH RECURSIVE
seq AS MATERIALIZED (
  SELECT event_type, lead(event_type) OVER
         (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events),
cnts AS MATERIALIZED (
  SELECT event_type AS src, nxt AS dst, COUNT(*) AS cnt
  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT src, SUM(cnt) AS tot FROM cnts GROUP BY src),
p0 AS (SELECT c.src, c.dst, CAST(c.cnt AS DOUBLE) / t.tot AS frac
       FROM cnts c JOIN tot t ON t.src = c.src),
states AS MATERIALIZED (SELECT DISTINCT event_type AS s FROM events),
sinks AS (SELECT s FROM states ANTI JOIN p0 ON p0.src = s),
p AS MATERIALIZED (
  SELECT * FROM p0
  UNION ALL SELECT s, s, CAST(1.0 AS DOUBLE) FROM sinks),
ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM states),
it(i, event_type, pi) AS (
  SELECT 0, s, CAST(1.0 AS DOUBLE) / ns.n FROM states CROSS JOIN ns
  UNION ALL
  SELECT t.i + 1, p.dst, SUM(t.pi * p.frac)
  FROM it t JOIN p ON p.src = t.event_type
  WHERE t.i < {STATIONARY_ITERS} GROUP BY t.i + 1, p.dst)
SELECT event_type, ROUND(pi, 6) AS pi FROM it WHERE i = {STATIONARY_ITERS}
"""


def q_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary-growth exponent over per-doc checkpoints
    (first-occurrence formulation — the corpus prefix is never
    materialized; see textops/textstats.py::heaps_fit)."""
    from linkgraph.textops.textstats import heaps_fit

    return heaps_fit(_t(spark, sf_dir, "documents"))


SQL_HEAPS_LAW = f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
pd AS (SELECT doc_id, COUNT(*) AS nt FROM tok GROUP BY doc_id),
fd AS (SELECT term, MIN(doc_id) AS doc_id FROM tok GROUP BY term),
nvt AS (SELECT doc_id, COUNT(*) AS nvv FROM fd GROUP BY doc_id),
chk AS (
  SELECT SUM(COALESCE(pd.nt, 0)) OVER wo AS ct,
         SUM(COALESCE(nvt.nvv, 0)) OVER wo AS cv
  FROM documents d
  LEFT JOIN pd ON pd.doc_id = d.doc_id
  LEFT JOIN nvt ON nvt.doc_id = d.doc_id
  WINDOW wo AS (ORDER BY d.doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
pts AS (
  SELECT ct, cv, ln(CAST(ct AS DOUBLE)) AS x, ln(CAST(cv AS DOUBLE)) AS y
  FROM chk WHERE ct > 0 AND cv > 0)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(ct) AS BIGINT) AS total_tokens,
       CAST(MAX(cv) AS BIGINT) AS vocab,
       ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
             / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)), 6) AS heaps_beta
FROM pts
"""


# ---------------------------------------------------------------- round-5 wave 6

Q1_CUTOFF = "1998-09-02"


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-form pricing summary: the canonical scan-heavy report —
    one filtered scan, map-side-combined aggregate over a 6-ish-row
    group space; every metric algebraic, so AQE/partial-agg carries the
    whole query (sums rounded to cents, averages to 1e-6)."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit(Q1_CUTOFF).cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = f"""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_extendedprice), 6) AS avg_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


Q3_SEGMENT = "BUILDING"
Q3_DATE = "1997-06-01"


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3-form shipping priority: 3-way join with the small dim
    broadcast (customer segment filter), per-order revenue aggregate,
    deterministic top-10 — the classic star-join + TakeOrdered shape."""
    cutoff = F.lit(Q3_DATE).cast("timestamp")
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == Q3_SEGMENT)
        .select("c_custkey")
    )
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    return (
        li.join(
            orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]),
            li["l_orderkey"] == orders["o_orderkey"],
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
    )


SQL_SHIPPING_PRIORITY = f"""
SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{Q3_SEGMENT}'
  AND o_orderdate < TIMESTAMP '{Q3_DATE} 00:00:00'
  AND l_shipdate > TIMESTAMP '{Q3_DATE} 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC LIMIT 10
"""


Q6_YEAR = "1996"


def q_revenue_simple(spark, sf_dir):
    """TPC-H Q6-form forecast revenue: pure predicate-pushdown scan
    (date range + discount band + quantity cap reach the parquet
    reader) with a single global aggregate — the query whose entire
    cost IS the scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit(f"{Q6_YEAR}-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(f"{int(Q6_YEAR) + 1}-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


SQL_REVENUE_SIMPLE = f"""
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{Q6_YEAR}-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '{int(Q6_YEAR) + 1}-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q_cuped_ab(spark, sf_dir):
    """CUPED variance-reduced A/B readout over a deterministic 50/50
    user hash split: post-period value mean adjusted by the pre-period
    covariate (operators/events.py::cuped_ab_test)."""
    from linkgraph.operators.events import cuped_ab_test

    return cuped_ab_test(_t(spark, sf_dir, "events"))


SQL_CUPED_AB = f"""
WITH b AS (
  SELECT CAST(floor((MIN(CAST(floor(epoch(ts)) AS BIGINT))
             + MAX(CAST(floor(epoch(ts)) AS BIGINT))) / 2.0) AS BIGINT) AS tmid
  FROM events),
pu AS MATERIALIZED (
  SELECT user_id,
         COALESCE(SUM(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) < b.tmid
                           THEN value END), 0.0) AS pre,
         COALESCE(SUM(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) >= b.tmid
                           THEN value END), 0.0) AS post
  FROM events CROSS JOIN b GROUP BY user_id),
st AS (SELECT COVAR_POP(pre, post) / VAR_POP(pre) AS theta,
              AVG(pre) AS mean_pre FROM pu)
SELECT CASE WHEN ({_SQL_H60.format(x="CAST(user_id AS VARCHAR) || '#cuped'")}) % 2 = 0
            THEN 'A' ELSE 'B' END AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(AVG(post), 6) AS mean_post,
       ROUND(AVG(post - st.theta * (pre - st.mean_pre)), 6) AS mean_adj,
       ROUND(ANY_VALUE(st.theta), 6) AS theta
FROM pu CROSS JOIN st GROUP BY 1
"""


# ---------------------------------------------------------------- round-5 wave 7

BIP_LEVELS = 32  # shared BFS depth bound: engine loop == oracle recursion


def q_bipartite_check(spark, sf_dir):
    """Bipartiteness / odd-cycle audit per component of the user graph:
    min-label components pick roots, ONE multi-root BFS 2-colors every
    component simultaneously, conflict edges counted per component
    (algos/bipartite.py)."""
    from linkgraph.algos.bipartite import bipartite_check

    return bipartite_check(user_graph(spark, sf_dir), max_levels=BIP_LEVELS)


SQL_BIPARTITE_CHECK = f"""
WITH RECURSIVE {_USER_E_MAT},
verts AS (SELECT DISTINCT src AS v FROM e),
reach(v, u) AS (
  SELECT v, v FROM verts
  UNION
  SELECT reach.v, e.dst FROM reach JOIN e ON e.src = reach.u),
cmp AS MATERIALIZED (SELECT v AS vid, MIN(u) AS comp FROM reach GROUP BY v),
roots AS (SELECT comp, MIN(vid) AS r FROM cmp GROUP BY comp),
bfs(v, d) AS (
  SELECT r, 0 FROM roots
  UNION
  SELECT e.dst, bfs.d + 1 FROM bfs JOIN e ON e.src = bfs.v
  WHERE bfs.d < {BIP_LEVELS}),
par AS MATERIALIZED (SELECT v AS vid, MIN(d) % 2 AS par FROM bfs GROUP BY v),
odd AS (
  SELECT c.comp, COUNT(*) AS n_odd
  FROM e JOIN par p1 ON p1.vid = e.src
  JOIN par p2 ON p2.vid = e.dst
  JOIN cmp c ON c.vid = e.src
  WHERE e.src < e.dst AND p1.par = p2.par
  GROUP BY c.comp),
cs AS (SELECT comp, COUNT(*) AS n_vertices FROM cmp GROUP BY comp)
SELECT CAST(cs.comp AS BIGINT) AS comp,
       CAST(cs.n_vertices AS BIGINT) AS n_vertices,
       CAST(COALESCE(o.n_odd, 0) AS BIGINT) AS n_odd_edges,
       COALESCE(o.n_odd, 0) = 0 AS is_bipartite
FROM cs LEFT JOIN odd o ON o.comp = cs.comp
"""


BM25_TERMS = ("spark", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 15


def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 (Lucene +1 idf) for a fixed query over the corpus —
    one tokenize scan, broadcast df/length stats, deterministic top-15
    (textops/retrieval.py::bm25_topk)."""
    from linkgraph.textops.retrieval import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"),
        list(BM25_TERMS),
        k1=BM25_K1,
        b=BM25_B,
        k=BM25_TOPK,
    )


_BM25_IN = ", ".join(f"'{t}'" for t in BM25_TERMS)
SQL_BM25_TOPK = f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
dl AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
       WHERE term IN ({_BM25_IN}) GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
idf AS (SELECT term,
               ln(1.0 + (st.n_docs - df + 0.5) / (df + 0.5)) AS idf
        FROM df CROSS JOIN st),
sc AS (
  SELECT tf.doc_id,
         idf.idf * (tf.tf * ({BM25_K1} + 1))
         / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl)) AS s
  FROM tf JOIN dl ON dl.doc_id = tf.doc_id
  JOIN idf ON idf.term = tf.term CROSS JOIN st)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
       ROUND(SUM(s), 6) AS score
FROM sc GROUP BY doc_id
ORDER BY ROUND(SUM(s), 6) DESC, doc_id ASC LIMIT {BM25_TOPK}
"""


HV_DIMS = 64


def q_hash_embed(spark, sf_dir):
    """Feature-hashing vectorizer summary: signed 64-dim hashed TF
    vector per doc (portable md5 dim+sign hashes), reporting nnz / L2 /
    argmax dim (textops/retrieval.py::hashing_vectorizer_stats)."""
    from linkgraph.textops.retrieval import hashing_vectorizer_stats

    return hashing_vectorizer_stats(
        _t(spark, sf_dir, "documents"), dims=HV_DIMS
    )


SQL_HASH_EMBED = f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
hv AS (
  SELECT doc_id,
         ({_SQL_H60.format(x="term || '#hvdim'")}) % {HV_DIMS} AS dim,
         CASE WHEN ({_SQL_H60.format(x="term || '#hvsign'")}) % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM tok),
vec AS MATERIALIZED (
  SELECT doc_id, dim, SUM(sgn) AS v FROM hv GROUP BY doc_id, dim
  HAVING SUM(sgn) <> 0),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY abs(v) DESC, dim ASC) AS rn
  FROM vec)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS nnz,
       ROUND(sqrt(CAST(SUM(v * v) AS DOUBLE)), 6) AS l2,
       CAST(MAX(CASE WHEN rn = 1 THEN dim END) AS BIGINT) AS top_dim
FROM rk GROUP BY doc_id
"""


# ---------------------------------------------------------------- round-5 wave 8

KWIC_TERM = "join"
KWIC_WINDOW = 3


def q_kwic(spark, sf_dir):
    """Keyword-in-context concordance for a fixed term: one positional
    explode, context spans built in place — `text` never shuffles
    (textops/retrieval.py::kwic_concordance)."""
    from linkgraph.textops.retrieval import kwic_concordance

    return kwic_concordance(
        _t(spark, sf_dir, "documents"), KWIC_TERM, window=KWIC_WINDOW
    )


SQL_KWIC = f"""
WITH tok AS MATERIALIZED (SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents),
pos AS (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM tok)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(i AS BIGINT) AS pos,
       array_to_string(
         ts[greatest(1, i - {KWIC_WINDOW}):least(len(ts), i + {KWIC_WINDOW})],
         ' ') AS context
FROM pos WHERE ts[i] = '{KWIC_TERM}'
"""


def q_source_vocab_overlap(spark, sf_dir):
    """Pairwise source vocabulary Jaccard — the corpus-comparison view
    of duplication (textops/textstats.py::source_vocab_overlap)."""
    from linkgraph.textops.textstats import source_vocab_overlap

    return source_vocab_overlap(_t(spark, sf_dir, "documents"))


SQL_SOURCE_VOCAB_OVERLAP = f"""
WITH sv AS MATERIALIZED (
  SELECT DISTINCT source, term FROM (
    SELECT source, unnest({_SQL_TOKENS}) AS term FROM documents)),
sz AS (SELECT source, COUNT(*) AS vocab FROM sv GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
  FROM sv a JOIN sv b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2)
SELECT src_a, src_b,
       CAST(sa.vocab AS BIGINT) AS vocab_a,
       CAST(sb.vocab AS BIGINT) AS vocab_b,
       CAST(n_common AS BIGINT) AS n_common,
       ROUND(CAST(n_common AS DOUBLE)
             / (sa.vocab + sb.vocab - n_common), 6) AS jac
FROM inter JOIN sz sa ON sa.source = inter.src_a
JOIN sz sb ON sb.source = inter.src_b
"""


def q_burstiness(spark, sf_dir):
    """Goh-Barabási burstiness of same-type inter-arrival gaps per
    event type (operators/events.py::burstiness)."""
    from linkgraph.operators.events import burstiness

    return burstiness(_t(spark, sf_dir, "events"))


SQL_BURSTINESS = """
WITH g AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT)
         - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
           (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_s
  FROM events)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       ROUND(AVG(gap_s), 6) AS mean_gap_s,
       ROUND(STDDEV_SAMP(CAST(gap_s AS DOUBLE)) / AVG(gap_s), 6) AS cv,
       ROUND((STDDEV_SAMP(CAST(gap_s AS DOUBLE)) - AVG(gap_s))
             / (STDDEV_SAMP(CAST(gap_s AS DOUBLE)) + AVG(gap_s)), 6)
         AS burstiness
FROM g WHERE gap_s IS NOT NULL GROUP BY event_type
"""


MAD_CUT = 3.0


def q_mad_outliers(spark, sf_dir):
    """Median/MAD robust value anomalies per event type — the heavy-
    tail-safe companion to value_outliers' mean/σ z-score
    (operators/events.py::mad_outliers)."""
    from linkgraph.operators.events import mad_outliers

    return mad_outliers(_t(spark, sf_dir, "events"), cut=MAD_CUT)


SQL_MAD_OUTLIERS = f"""
WITH med AS MATERIALIZED (
  SELECT event_type, quantile_cont(value, 0.5) AS med,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type),
dev AS MATERIALIZED (
  SELECT e.event_type, m.n_events, m.med, abs(e.value - m.med) AS ad
  FROM events e JOIN med m ON m.event_type = e.event_type),
mad AS MATERIALIZED (
  SELECT event_type, n_events, med, quantile_cont(ad, 0.5) AS mad
  FROM dev GROUP BY event_type, n_events, med),
fl AS (
  SELECT d.event_type,
         CASE WHEN d.ad > {MAD_CUT} * m.mad THEN 1 ELSE 0 END AS is_out
  FROM dev d JOIN mad m ON m.event_type = d.event_type),
o AS (SELECT event_type, CAST(SUM(is_out) AS BIGINT) AS n_outliers
      FROM fl GROUP BY event_type)
SELECT m.event_type, m.n_events, ROUND(m.med, 6) AS median_v,
       ROUND(m.mad, 6) AS mad_v, o.n_outliers
FROM mad m JOIN o ON o.event_type = m.event_type
"""


KM_CENSOR_DAYS = 7


def q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival curve of user lifetimes, right-censored
    near the corpus end (operators/timeseries.py::kaplan_meier)."""
    from linkgraph.operators.timeseries import kaplan_meier

    return kaplan_meier(_t(spark, sf_dir, "events"), censor_days=KM_CENSOR_DAYS)


SQL_KAPLAN_MEIER = f"""
WITH pu AS MATERIALIZED (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d, MAX(CAST(ts AS DATE)) AS last_d
  FROM events GROUP BY user_id),
ce AS (SELECT MAX(CAST(ts AS DATE)) AS end_d FROM events),
lt AS (
  SELECT date_diff('day', first_d, last_d) AS t_days,
         CASE WHEN date_diff('day', last_d, end_d) < {KM_CENSOR_DAYS}
              THEN 1 ELSE 0 END AS censored
  FROM pu, ce),
grp AS (
  SELECT t_days, CAST(SUM(1 - censored) AS BIGINT) AS n_deaths,
         CAST(SUM(censored) AS BIGINT) AS n_censored
  FROM lt GROUP BY t_days),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM lt),
curve AS (
  SELECT t_days, n_deaths, n_censored,
         total - COALESCE(SUM(n_deaths + n_censored) OVER (
           ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM grp, tot),
f AS (SELECT *, 1.0 - n_deaths / CAST(n_risk AS DOUBLE) AS factor FROM curve),
s AS (
  SELECT t_days, n_risk, n_deaths, n_censored,
         MAX(CASE WHEN factor <= 0 THEN 1 ELSE 0 END) OVER (ORDER BY t_days)
           AS dead_flag,
         SUM(CASE WHEN factor > 0 THEN ln(factor) ELSE 0 END)
           OVER (ORDER BY t_days) AS logsum
  FROM f)
SELECT CAST(t_days AS BIGINT) AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
       n_deaths, n_censored,
       ROUND(CASE WHEN dead_flag = 1 THEN 0.0 ELSE exp(logsum) END, 6)
         AS survival
FROM s
"""


def q_cusum_changepoint(spark, sf_dir):
    """Per-type CUSUM mean-shift scan over the daily count series
    (operators/timeseries.py::cusum_changepoint)."""
    from linkgraph.operators.timeseries import cusum_changepoint

    return cusum_changepoint(_t(spark, sf_dir, "events"))


SQL_CUSUM_CHANGEPOINT = """
WITH daily AS MATERIALIZED (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, day),
m AS (SELECT event_type, AVG(CAST(c AS DOUBLE)) AS mu,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY event_type),
scan AS (
  SELECT d.event_type, d.day, m.n_days,
         SUM(d.c - m.mu) OVER (PARTITION BY d.event_type ORDER BY d.day)
           AS cusum
  FROM daily d JOIN m USING (event_type)),
pick AS (
  SELECT event_type, n_days, day AS change_day,
         ROUND(abs(cusum), 6) AS max_abs_cusum,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ROUND(abs(cusum), 6) DESC, day ASC) AS rn
  FROM scan)
SELECT event_type, n_days, change_day, max_abs_cusum FROM pick WHERE rn = 1
"""


ACF_MAX_LAG = 7


def q_acf_daily(spark, sf_dir):
    """Autocorrelation of the total daily event-count series at lags
    1..7 (operators/timeseries.py::acf_daily)."""
    from linkgraph.operators.timeseries import acf_daily

    return acf_daily(_t(spark, sf_dir, "events"), max_lag=ACF_MAX_LAG)


SQL_ACF_DAILY = f"""
WITH daily AS MATERIALIZED (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1),
st AS (SELECT AVG(y) AS ybar FROM daily),
c AS MATERIALIZED (SELECT d, y - ybar AS e FROM daily, st),
den AS (SELECT SUM(e * e) AS den FROM c),
l AS (SELECT c.e, lags.lag, c.d + CAST(lags.lag AS INTEGER) AS d2
      FROM c, (SELECT UNNEST(range(1, {ACF_MAX_LAG + 1})) AS lag) lags),
p AS (SELECT l.lag, l.e, c2.e AS e2 FROM l JOIN c c2 ON c2.d = l.d2)
SELECT CAST(p.lag AS BIGINT) AS lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(SUM(p.e * p.e2) / den.den, 6) AS acf
FROM p, den GROUP BY p.lag, den.den
"""


MOVING_WINDOW_ROWS = 7


def q_moving_stats(spark, sf_dir):
    """Daily revenue with 7-row moving average + running cumulative
    total — the frame-spec window analytic
    (operators/timeseries.py::moving_stats)."""
    from linkgraph.operators.timeseries import moving_stats

    return moving_stats(_t(spark, sf_dir, "orders"), window_rows=MOVING_WINDOW_ROWS)


SQL_MOVING_STATS = f"""
WITH daily AS MATERIALIZED (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
  FROM orders GROUP BY 1)
SELECT day,
  ROUND(rev_c / 100.0, 6) AS revenue,
  ROUND(AVG(CAST(rev_c AS DOUBLE)) OVER (
    ORDER BY day ROWS BETWEEN {MOVING_WINDOW_ROWS - 1} PRECEDING AND CURRENT ROW
  ) / 100.0, 6) AS ma,
  ROUND(SUM(rev_c) OVER (ORDER BY day) / 100.0, 6) AS cum_revenue
FROM daily
"""


PEAK_WINDOW_S = 3600


def q_peak_hour_load(spark, sf_dir):
    """Per-user peak rolling-hour event load — the RANGE-interval frame
    analytic (operators/events.py::peak_hour_load)."""
    from linkgraph.operators.events import peak_hour_load

    return peak_hour_load(_t(spark, sf_dir, "events"), window_s=PEAK_WINDOW_S)


SQL_PEAK_HOUR_LOAD = f"""
WITH e AS (
  -- floor, not round: Spark's unix_timestamp truncates sub-second parts
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
r AS (
  SELECT user_id, ep,
         CAST(COUNT(*) OVER (
           PARTITION BY user_id ORDER BY ep
           RANGE BETWEEN {PEAK_WINDOW_S - 1} PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS n_1h
  FROM e),
p AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY n_1h DESC, ep ASC) AS rn FROM r)
SELECT user_id, n_1h AS peak_n, ep AS peak_ep FROM p WHERE rn = 1
"""


EB_TAU = 20.0


def q_eb_source_rates(spark, sf_dir):
    """Empirical-Bayes shrunk per-source long-doc rates
    (textops/textstats.py::eb_smoothed_long_doc_rates)."""
    from linkgraph.textops.textstats import eb_smoothed_long_doc_rates

    return eb_smoothed_long_doc_rates(
        _t(spark, sf_dir, "documents"), prior_strength=EB_TAU
    )


SQL_EB_SOURCE_RATES = f"""
WITH med AS (SELECT quantile_cont(n_chars, 0.5) AS med FROM documents),
fl AS (SELECT source,
              CASE WHEN n_chars > med THEN 1 ELSE 0 END AS is_long
       FROM documents, med),
ps AS MATERIALIZED (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(is_long) AS BIGINT) AS n_long
  FROM fl GROUP BY source),
g AS (SELECT SUM(n_long) / CAST(SUM(n_docs) AS DOUBLE) AS g FROM ps)
SELECT source, n_docs, n_long,
       ROUND(n_long / CAST(n_docs AS DOUBLE), 6) AS raw_rate,
       ROUND((n_long + {EB_TAU} * g.g) / (n_docs + {EB_TAU}), 6)
         AS smoothed_rate
FROM ps, g
"""


L_DIVERSITY_L = 3


def q_l_diversity(spark, sf_dir):
    """l-diversity audit: (event_type, day) classes vs the user_id
    sensitive attribute (textops/pii.py::l_diversity)."""
    from linkgraph.textops.pii import l_diversity

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "user_id",
    )
    return l_diversity(ev, ["event_type", "day"], "user_id", l=L_DIVERSITY_L)


SQL_L_DIVERSITY = f"""
SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS group_n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_sensitive,
       CAST(CASE WHEN COUNT(DISTINCT user_id) < {L_DIVERSITY_L}
                 THEN 1 ELSE 0 END AS BIGINT) AS at_risk
FROM events GROUP BY 1, 2
"""


def q_class_balance(spark, sf_dir):
    """Exact class-balanced document sample across languages
    (operators/sampling.py::class_balance_sample)."""
    from linkgraph.operators.sampling import class_balance_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return class_balance_sample(docs, "lang", "doc_id")


SQL_CLASS_BALANCE = """
WITH keepn AS (
  SELECT MIN(n) AS keep FROM (
    SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang)),
rk AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#balance'),
                                        1, 15) AS BIGINT) ASC,
                    doc_id ASC) AS r
  FROM documents)
SELECT doc_id, lang, n_chars FROM rk, keepn WHERE r <= keep
"""


def q_strength_disparity(spark, sf_dir):
    """Weighted-degree strength + Barrat disparity per vertex on the
    weighted co-purchase graph (algos/gstats.py::strength_disparity)."""
    from linkgraph.algos.gstats import strength_disparity
    from linkgraph.sources.derive import copurchase_weighted_edges

    return strength_disparity(
        copurchase_weighted_edges(_t(spark, sf_dir, "lineitem"))
    )


SQL_STRENGTH_DISPARITY = """
WITH pk AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
we AS MATERIALIZED (
  SELECT a.p AS src, b.p AS dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM pk a JOIN pk b ON a.k = b.k AND a.p <> b.p GROUP BY 1, 2)
SELECT CAST(src AS BIGINT) AS vid, CAST(COUNT(*) AS BIGINT) AS deg,
       CAST(SUM(w) AS BIGINT) AS strength,
       ROUND(SUM(w * w) / CAST(SUM(w) * SUM(w) AS DOUBLE), 6) AS disparity,
       ROUND(CAST(SUM(w) * SUM(w) AS DOUBLE) / SUM(w * w), 6) AS k_eff
FROM we GROUP BY src
"""


def q_tie_strength_overlap(spark, sf_dir):
    """Granovetter embeddedness-vs-strength curve on the sequential
    co-purchase multigraph (algos/gstats.py::tie_strength_overlap)."""
    from linkgraph.algos.gstats import tie_strength_overlap

    return tie_strength_overlap(
        derive.sequential_copurchase_edges(
            _t(spark, sf_dir, "lineitem"), keep_multiplicity=True
        )
    )


SQL_TIE_STRENGTH_OVERLAP = """
WITH seq AS (
  SELECT l_partkey AS src,
         LEAD(l_partkey) OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber ASC, l_partkey ASC) AS dst
  FROM lineitem),
de AS (SELECT src, dst FROM seq WHERE dst IS NOT NULL AND dst <> src),
und AS MATERIALIZED (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w FROM (
    SELECT src, dst FROM de
    UNION ALL SELECT dst AS src, src AS dst FROM de)
  GROUP BY 1, 2),
ties AS (SELECT src, dst, w FROM und WHERE src < dst),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY src),
common AS (
  SELECT a.src AS a, b.src AS b, CAST(COUNT(*) AS BIGINT) AS cn
  FROM und a JOIN und b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2),
scored AS (
  SELECT t.w, COALESCE(c.cn, 0) AS cn, du.deg + dv.deg AS dd
  FROM ties t
  LEFT JOIN common c ON t.src = c.a AND t.dst = c.b
  JOIN deg du ON t.src = du.src
  JOIN deg dv ON t.dst = dv.src)
SELECT w, CAST(COUNT(*) AS BIGINT) AS n_ties,
       ROUND(AVG(CASE WHEN dd - cn - 2 > 0
                      THEN cn / CAST(dd - cn - 2 AS DOUBLE)
                      ELSE 0.0 END), 6) AS mean_jaccard
FROM scored GROUP BY w
"""


def q_psi_drift(spark, sf_dir):
    """Event-mix PSI, first half of the month vs second, keyed by
    event_type × 6-hour bucket (operators/profile.py::population_stability)."""
    from linkgraph.operators.profile import population_stability

    ev = _t(spark, sf_dir, "events")
    labeled = ev.select(
        F.when(F.dayofmonth("ts") <= 15, "ref").otherwise("cur").alias("pop"),
        F.concat_ws(
            "#h", F.col("event_type"), F.floor(F.hour("ts") / 6).cast("string")
        ).alias("cat"),
    )
    return population_stability(labeled)


SQL_PSI_DRIFT = """
WITH lab AS (
  SELECT CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 'ref' ELSE 'cur' END AS pop,
         event_type || '#h' ||
           CAST(CAST(FLOOR(EXTRACT(hour FROM ts) / 6) AS BIGINT) AS VARCHAR) AS cat
  FROM events),
c AS (
  SELECT cat,
         CAST(SUM(CASE WHEN pop = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN pop = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM lab GROUP BY cat),
t AS (SELECT CAST(SUM(n_ref) AS DOUBLE) AS t_ref,
             CAST(SUM(n_cur) AS DOUBLE) AS t_cur FROM c)
SELECT cat, n_ref, n_cur,
       ROUND((GREATEST(n_cur / t_cur, 1e-6) - GREATEST(n_ref / t_ref, 1e-6))
             * LN(GREATEST(n_cur / t_cur, 1e-6) / GREATEST(n_ref / t_ref, 1e-6)),
             6) AS psi_term
FROM c, t
"""


def q_triadic_closure(spark, sf_dir):
    """Monthly temporal triadic-closure rate on the timestamped
    sequential co-purchase graph (algos/linkpred.py::triadic_closure_rate)."""
    from linkgraph.algos.linkpred import triadic_closure_rate

    return triadic_closure_rate(
        derive.sequential_copurchase_times(
            _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
        ),
        hub_cap=64,
    )


SQL_TRIADIC_CLOSURE = """
WITH seq AS (
  SELECT l_orderkey, l_partkey AS src,
         LEAD(l_partkey) OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber ASC, l_partkey ASC) AS dst
  FROM lineitem),
trans AS (
  SELECT l_orderkey, src, dst FROM seq
  WHERE dst IS NOT NULL AND dst <> src),
te AS MATERIALIZED (
  SELECT src, dst, MIN(o_orderdate) AS t
  FROM trans JOIN orders ON trans.l_orderkey = orders.o_orderkey
  GROUP BY 1, 2),
deg AS (
  SELECT v FROM (
    SELECT src AS v FROM te UNION ALL SELECT dst AS v FROM te)
  GROUP BY v HAVING COUNT(*) <= 64),
wedges AS (
  SELECT i.src AS a, i.dst AS b, o.dst AS c,
         GREATEST(i.t, o.t) AS tf
  FROM te i JOIN te o ON i.dst = o.src
  WHERE i.src <> o.dst AND i.dst IN (SELECT v FROM deg)),
scored AS (
  SELECT strftime(w.tf, '%Y-%m') AS month,
         CASE WHEN e.t > w.tf THEN 1 ELSE 0 END AS closed
  FROM wedges w LEFT JOIN te e ON w.a = e.src AND w.c = e.dst)
SELECT month, CAST(COUNT(*) AS BIGINT) AS n_wedges,
       CAST(SUM(closed) AS BIGINT) AS n_closed,
       ROUND(SUM(closed) / CAST(COUNT(*) AS DOUBLE), 6) AS closure_rate
FROM scored GROUP BY month
"""


def q_ewma_control(spark, sf_dir):
    """EWMA control chart over per-type daily event counts
    (operators/timeseries.py::ewma_control)."""
    from linkgraph.operators.timeseries import ewma_control

    return ewma_control(_t(spark, sf_dir, "events"))


SQL_EWMA_CONTROL = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
idx AS (
  SELECT event_type, day, c,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
         AVG(c) OVER (PARTITION BY event_type) AS mu,
         STDDEV_POP(c) OVER (PARTITION BY event_type) AS sig
  FROM daily),
ws AS (
  SELECT l.event_type, l.day, l.c, l.t, l.mu, l.sig,
         SUM(POWER(0.5, l.t - r.t) * r.c) AS wsum
  FROM idx l JOIN idx r ON l.event_type = r.event_type AND r.t <= l.t
  GROUP BY 1, 2, 3, 4, 5, 6),
fin AS (
  SELECT event_type, day, c,
         ROUND(0.5 * wsum + POWER(0.5, t) * mu, 6) AS ewma,
         ROUND(mu - 3.0 * sig * SQRT((0.5 / 1.5) * (1 - POWER(0.5, 2 * t))), 6)
           AS lcl,
         ROUND(mu + 3.0 * sig * SQRT((0.5 / 1.5) * (1 - POWER(0.5, 2 * t))), 6)
           AS ucl
  FROM ws)
SELECT event_type, day, c AS n_events, ewma, lcl, ucl,
       CAST(CASE WHEN ewma > ucl OR ewma < lcl THEN 1 ELSE 0 END AS INTEGER)
         AS flag
FROM fin
"""


def q_did_estimate(spark, sf_dir):
    """Difference-in-differences A/A calibration over the corpus-midpoint
    panel (operators/events.py::did_estimate)."""
    from linkgraph.operators.events import did_estimate

    return did_estimate(_t(spark, sf_dir, "events"))


SQL_DID_ESTIMATE = f"""
WITH b AS (
  SELECT CAST(floor((MIN(CAST(floor(epoch(ts)) AS BIGINT))
             + MAX(CAST(floor(epoch(ts)) AS BIGINT))) / 2.0) AS BIGINT) AS tmid
  FROM events),
pu AS MATERIALIZED (
  SELECT user_id,
         COALESCE(SUM(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) < b.tmid
                           THEN value END), 0.0) AS pre,
         COALESCE(SUM(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) >= b.tmid
                           THEN value END), 0.0) AS post
  FROM events CROSS JOIN b GROUP BY user_id),
g AS (
  SELECT pre, post,
         ({_SQL_H60.format(x="CAST(user_id AS VARCHAR) || '#did'")}) % 2 = 0
           AS is_t
  FROM pu)
SELECT CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
       CAST(SUM(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl,
       ROUND(AVG(CASE WHEN is_t THEN pre END), 6) AS pre_treat,
       ROUND(AVG(CASE WHEN is_t THEN post END), 6) AS post_treat,
       ROUND(AVG(CASE WHEN NOT is_t THEN pre END), 6) AS pre_ctrl,
       ROUND(AVG(CASE WHEN NOT is_t THEN post END), 6) AS post_ctrl,
       ROUND((AVG(CASE WHEN is_t THEN post END)
              - AVG(CASE WHEN is_t THEN pre END))
             - (AVG(CASE WHEN NOT is_t THEN post END)
                - AVG(CASE WHEN NOT is_t THEN pre END)), 6) AS did
FROM g
"""


def q_null_model(spark, sf_dir):
    """Configuration-model null audit of the user graph: Molloy-Reed
    kappa + observed-vs-expected transitivity
    (algos/gstats.py::null_model_audit)."""
    from linkgraph.algos.gstats import null_model_audit

    return null_model_audit(user_graph(spark, sf_dir))


SQL_NULL_MODEL = f"""
WITH {_USER_E},
d AS MATERIALIZED (SELECT src AS vid, CAST(COUNT(*) AS BIGINT) AS deg
                   FROM e GROUP BY src),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(deg) AS BIGINT) AS s1,
             CAST(SUM(deg * deg) AS BIGINT) AS s2,
             CAST(SUM(deg * (deg - 1)) AS BIGINT) AS wedges2
      FROM d),
o AS (SELECT src AS a, dst AS b FROM e WHERE src < dst),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS tri
      FROM o e1 JOIN o e2 ON e1.b = e2.a
      JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT n AS n_vertices,
       s1 // 2 AS n_edges,
       tri AS n_triangles,
       ROUND(s2 / CAST(s1 AS DOUBLE), 6) AS kappa,
       CAST(CASE WHEN ROUND(s2 / CAST(s1 AS DOUBLE), 6) > 2.0
                 THEN 1 ELSE 0 END AS INTEGER) AS supercritical,
       ROUND(((s2 / CAST(n AS DOUBLE) - s1 / CAST(n AS DOUBLE))
              * (s2 / CAST(n AS DOUBLE) - s1 / CAST(n AS DOUBLE)))
             / (CAST(n AS DOUBLE) * (s1 / CAST(n AS DOUBLE))
                * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))),
             6) AS c_expected,
       ROUND(6.0 * tri / CAST(wedges2 AS DOUBLE), 6) AS c_actual,
       ROUND((6.0 * tri / CAST(wedges2 AS DOUBLE))
             / (((s2 / CAST(n AS DOUBLE) - s1 / CAST(n AS DOUBLE))
                 * (s2 / CAST(n AS DOUBLE) - s1 / CAST(n AS DOUBLE)))
                / (CAST(n AS DOUBLE) * (s1 / CAST(n AS DOUBLE))
                   * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)))),
             6) AS c_lift
FROM m CROSS JOIN t
"""


def q_retention_lift(spark, sf_dir):
    """Decile lift curve: pre-period spend vs post-period retention
    (operators/events.py::retention_lift)."""
    from linkgraph.operators.events import retention_lift

    return retention_lift(_t(spark, sf_dir, "events"))


_SQL_LIFT_ABOVE = " + ".join(
    f"CAST(score > cs[{i}] AS INTEGER)" for i in range(1, 10)
)

SQL_RETENTION_LIFT = f"""
WITH b AS (
  SELECT CAST(floor((MIN(CAST(floor(epoch(ts)) AS BIGINT))
             + MAX(CAST(floor(epoch(ts)) AS BIGINT))) / 2.0) AS BIGINT) AS tmid
  FROM events),
pu AS MATERIALIZED (
  SELECT user_id,
         ROUND(COALESCE(SUM(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) < b.tmid
                                 THEN value END), 0.0), 6) AS score,
         MAX(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) >= b.tmid
                  THEN 1 ELSE 0 END) AS label
  FROM events CROSS JOIN b GROUP BY user_id),
c AS (
  SELECT quantile_cont(score,
           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
  FROM pu),
cells AS (
  SELECT 10 - ({_SQL_LIFT_ABOVE}) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(label) AS BIGINT) AS n_retained
  FROM pu CROSS JOIN c GROUP BY 1)
SELECT bucket, n_users, n_retained,
       ROUND(n_retained / CAST(n_users AS DOUBLE), 6) AS retain_rate,
       ROUND((SUM(n_retained) OVER (ORDER BY bucket)
              / CAST(SUM(n_users) OVER (ORDER BY bucket) AS DOUBLE))
             / (SUM(n_retained) OVER ()
                / CAST(SUM(n_users) OVER () AS DOUBLE)), 6) AS cum_lift
FROM cells
"""


_AUC_K = 200

_SEQ_UND_E_MAT = """
seq AS (
  SELECT l_partkey AS s0,
         LEAD(l_partkey) OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber ASC, l_partkey ASC) AS d0
  FROM lineitem),
e0 AS (SELECT DISTINCT s0 AS src, d0 AS dst FROM seq
       WHERE d0 IS NOT NULL AND d0 <> s0),
e AS MATERIALIZED (
  SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0)
"""


def q_embedding_auc(spark, sf_dir):
    """Link-prediction AUC of FastRP embeddings on the (undirected)
    sequential co-purchase graph — the does-the-embedding-reconstruct-
    the-graph eval (algos/fastrp.py::embedding_link_auc).  On this
    near-random synthetic fixture the true AUC is ~0.5 (the null
    calibration); the two-clique unit fixture pins the structured case
    high."""
    from linkgraph.algos.fastrp import embedding_link_auc, fastrp_embeddings
    from linkgraph.sources.derive import sequential_copurchase_edges

    g = LinkGraph.from_undirected(
        sequential_copurchase_edges(_t(spark, sf_dir, "lineitem"))
    )
    emb = fastrp_embeddings(g, dims=_FRP_DIMS, weights=_FRP_W, hash_mode="md5")
    return embedding_link_auc(g, emb, dims=_FRP_DIMS, k=_AUC_K)


def _embedding_auc_sql() -> str:
    d = _FRP_DIMS
    embn_cols = ", ".join(
        f"CASE WHEN nn > 0 THEN ROUND(CAST(x{j} AS DOUBLE) / nn, 9)"
        f" ELSE 0.0 END AS e{j}"
        for j in range(d)
    )
    dot = " + ".join(f"a.e{j} * b.e{j}" for j in range(d))
    hpair = (
        "CAST('0x' || substr(md5(CAST(src AS VARCHAR) || '#' ||"
        " CAST(dst AS VARCHAR) || '#auc'), 1, 15) AS BIGINT)"
    )
    hvert = (
        "CAST('0x' || substr(md5(CAST(vid AS VARCHAR) || '#aucneg'), 1, 15)"
        " AS BIGINT)"
    )
    return f"""{_frp_cte(edges_cte=_SEQ_UND_E_MAT)},
embn AS MATERIALIZED (SELECT vid, {embn_cols} FROM nrm),
und AS MATERIALIZED (SELECT src, dst FROM e WHERE src < dst),
pos AS (SELECT src, dst FROM und
        ORDER BY {hpair} ASC, src ASC, dst ASC LIMIT {_AUC_K}),
vh0 AS (SELECT vid, {hvert} AS h FROM embn
        ORDER BY h ASC, vid ASC LIMIT {2 * _AUC_K}),
vh AS (SELECT vid, ROW_NUMBER() OVER (ORDER BY h ASC, vid ASC) AS rn FROM vh0),
aa AS (SELECT vid AS u, (rn + 1) // 2 AS p FROM vh WHERE rn % 2 = 1),
bb AS (SELECT vid AS v, rn // 2 AS p FROM vh WHERE rn % 2 = 0),
cand AS (SELECT LEAST(u, v) AS src, GREATEST(u, v) AS dst
         FROM aa JOIN bb USING (p)),
neg AS (SELECT c.src, c.dst FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM und
                          WHERE und.src = c.src AND und.dst = c.dst)),
ps AS (SELECT {dot} AS sp FROM pos p
       JOIN embn a ON a.vid = p.src JOIN embn b ON b.vid = p.dst),
ns AS (SELECT {dot} AS sn FROM neg p
       JOIN embn a ON a.vid = p.src JOIN embn b ON b.vid = p.dst)
SELECT CAST((SELECT COUNT(*) FROM ps) AS BIGINT) AS n_pos,
       CAST((SELECT COUNT(*) FROM ns) AS BIGINT) AS n_neg,
       ROUND((SELECT AVG(CASE WHEN sp > sn THEN 1.0
                              WHEN sp = sn THEN 0.5
                              ELSE 0.0 END)
              FROM ps CROSS JOIN ns), 6) AS auc
"""


SQL_EMBEDDING_AUC = _embedding_auc_sql()


IPF_ROUNDS = 5


def q_ipf_weights(spark, sf_dir):
    """Two-axis raking of the event corpus toward a uniform
    event_type × 6-hour-bucket mix (operators/sampling.py::ipf_weights)."""
    from linkgraph.operators.sampling import ipf_weights

    lab = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("i"),
        F.floor(F.hour("ts") / 6).cast("long").alias("j"),
    )
    return ipf_weights(lab, rounds=IPF_ROUNDS)


def _ipf_sql() -> str:
    prev = "m0"
    steps = []
    for r in range(1, IPF_ROUNDS + 1):
        steps.append(
            f"r{r} AS (SELECT i, j, n,"
            f" m * (t.nn / t.ni) / SUM(m) OVER (PARTITION BY i) AS m"
            f" FROM {prev} CROSS JOIN t)"
        )
        steps.append(
            f"s{r} AS (SELECT i, j, n,"
            f" m * (t.nn / t.nj) / SUM(m) OVER (PARTITION BY j) AS m"
            f" FROM r{r} CROSS JOIN t)"
        )
        prev = f"s{r}"
    chain = ",\n".join(steps)
    return f"""
WITH lab AS (
  SELECT event_type AS i,
         CAST(FLOOR(EXTRACT(hour FROM ts) / 6) AS BIGINT) AS j
  FROM events),
c0 AS (SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n FROM lab GROUP BY 1, 2),
t AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn,
             CAST(COUNT(DISTINCT i) AS DOUBLE) AS ni,
             CAST(COUNT(DISTINCT j) AS DOUBLE) AS nj
      FROM c0),
m0 AS (SELECT i, j, n, CAST(n AS DOUBLE) AS m FROM c0),
{chain}
SELECT i, j, n, ROUND(m, 6) AS m_fit, ROUND(m / n, 6) AS w FROM {prev}
"""


SQL_IPF_WEIGHTS = _ipf_sql()


def q_covariate_balance(spark, sf_dir):
    """Standardized-mean-difference balance audit of the did/cuped hash
    split (operators/events.py::covariate_balance)."""
    from linkgraph.operators.events import covariate_balance

    return covariate_balance(_t(spark, sf_dir, "events"))


def _covariate_balance_sql() -> str:
    covs = ("pre_days", "pre_events", "pre_value")
    stat = ", ".join(
        f"AVG(CASE WHEN is_t THEN {c} END) AS {c}__mt,"
        f" AVG(CASE WHEN NOT is_t THEN {c} END) AS {c}__mc,"
        f" VAR_POP(CASE WHEN is_t THEN {c} END) AS {c}__vt,"
        f" VAR_POP(CASE WHEN NOT is_t THEN {c} END) AS {c}__vc"
        for c in covs
    )
    def _smd(c: str) -> str:
        # zero-pooled-variance guard mirrors the Spark operator: smd 0
        # when the means agree, NULL when a constant covariate differs
        return (
            f"CASE WHEN SQRT(({c}__vt + {c}__vc) / 2.0) > 0"
            f" THEN ({c}__mt - {c}__mc) / SQRT(({c}__vt + {c}__vc) / 2.0)"
            f" WHEN ROUND({c}__mt - {c}__mc, 6) = 0.0 THEN 0.0"
            f" ELSE NULL END"
        )

    arms = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS covariate, ROUND({c}__mt, 6) AS mean_treat,"
        f" ROUND({c}__mc, 6) AS mean_ctrl,"
        f" ROUND({_smd(c)}, 6) AS smd,"
        f" CAST(CASE WHEN {_smd(c)} IS NULL THEN 1"
        f"      WHEN ABS(ROUND({_smd(c)}, 6)) > 0.1"
        f"      THEN 1 ELSE 0 END AS INTEGER) AS imbalanced"
        f" FROM s"
        for c in covs
    )
    h = _SQL_H60.format(x="CAST(user_id AS VARCHAR) || '#did'")
    return f"""
WITH b AS (
  SELECT CAST(floor((MIN(CAST(floor(epoch(ts)) AS BIGINT))
             + MAX(CAST(floor(epoch(ts)) AS BIGINT))) / 2.0) AS BIGINT) AS tmid
  FROM events),
pu AS MATERIALIZED (
  SELECT user_id,
         COALESCE(SUM(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) < b.tmid
                           THEN value END), 0.0) AS pre_value,
         CAST(SUM(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) < b.tmid
                       THEN 1 ELSE 0 END) AS DOUBLE) AS pre_events,
         CAST(COUNT(DISTINCT CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) < b.tmid
                                  THEN CAST(ts AS DATE) END) AS DOUBLE)
           AS pre_days
  FROM events CROSS JOIN b GROUP BY user_id),
g AS (SELECT *, ({h}) % 2 = 0 AS is_t FROM pu),
s AS (SELECT {stat} FROM g)
{arms}
"""


SQL_COVARIATE_BALANCE = _covariate_balance_sql()


def q_poisson_bootstrap(spark, sf_dir):
    """Deterministic Poisson-bootstrap CI for the mean per-user value
    sum (operators/events.py::poisson_bootstrap_mean)."""
    from linkgraph.operators.events import poisson_bootstrap_mean

    return poisson_bootstrap_mean(_t(spark, sf_dir, "events"), b=100)


def _poisson_boot_sql() -> str:
    from linkgraph.operators.events import POISSON1_CDF

    case = " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(POISSON1_CDF)
    )
    h = (
        "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#' ||"
        " CAST(rep AS VARCHAR) || '#boot'), 1, 15) AS BIGINT)"
    )
    return f"""
WITH pu AS MATERIALIZED (
  SELECT user_id, SUM(value) AS x FROM events GROUP BY user_id),
reps AS (
  SELECT pu.user_id, pu.x, CAST(t.range AS BIGINT) AS rep
  FROM pu CROSS JOIN range(100) t),
wdraw AS (
  SELECT rep, x, CASE {case} ELSE 7 END AS w
  FROM (SELECT rep, x, user_id,
               ({h}) / 1152921504606846976.0 AS u
        FROM reps)),
cells AS (SELECT rep, SUM(w * x) AS sx, SUM(CAST(w AS DOUBLE)) AS sw
          FROM wdraw GROUP BY rep),
ms AS (SELECT sx / sw AS m FROM cells WHERE sw > 0),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_reps,
              ROUND(STDDEV_SAMP(m), 6) AS boot_se,
              ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
              ROUND(quantile_cont(m, 0.975), 6) AS ci_hi
       FROM ms),
e AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users, ROUND(AVG(x), 6) AS est
      FROM pu)
SELECT n_users, n_reps, est, boot_se, ci_lo, ci_hi FROM e CROSS JOIN st
"""


SQL_POISSON_BOOTSTRAP = _poisson_boot_sql()


def q_ks_drift(spark, sf_dir):
    """One-vs-rest Kolmogorov-Smirnov drift over doc-length
    distributions (textops/textstats.py::ks_drift)."""
    from linkgraph.textops.textstats import ks_drift

    return ks_drift(_t(spark, sf_dir, "documents"))


SQL_KS_DRIFT = """
WITH per AS (
  SELECT source, n_chars AS l, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2),
ls AS (SELECT DISTINCT l FROM per),
srcs AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_s FROM per GROUP BY source),
filled AS (
  SELECT s.source, ls.l, s.n_s, COALESCE(p.n, 0) AS n
  FROM srcs s CROSS JOIN ls
  LEFT JOIN per p ON p.source = s.source AND p.l = ls.l),
cum AS (
  SELECT source, l, n_s,
         CAST(SUM(n) OVER (PARTITION BY source ORDER BY l) AS BIGINT) AS cs
  FROM filled),
cum2 AS (
  SELECT *, CAST(SUM(cs) OVER (PARTITION BY l) AS BIGINT) AS call FROM cum),
tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS nn FROM srcs),
scored AS (
  SELECT source, l, n_s, nn,
         ROUND(ABS(cs / CAST(n_s AS DOUBLE)
                   - (call - cs) / CAST(nn - n_s AS DOUBLE)), 6) AS gap
  FROM cum2 CROSS JOIN tot),
pick AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY source ORDER BY gap DESC, l ASC) AS rn
  FROM scored)
SELECT source, n_s, gap AS ks, l AS at_len,
       ROUND(1.358 * SQRT(nn / CAST(n_s * (nn - n_s) AS DOUBLE)), 6) AS crit,
       CAST(CASE WHEN gap > ROUND(1.358 * SQRT(nn / CAST(n_s * (nn - n_s) AS DOUBLE)), 6)
                 THEN 1 ELSE 0 END AS INTEGER) AS drifted
FROM pick WHERE rn = 1
"""


def q_brand_elasticity(spark, sf_dir):
    """Per-brand log-log price-quantity OLS — the fit-a-line-per-segment
    primitive (operators/profile.py::grouped_ols) on the lineitem ⋈ part
    star join with the ≤|brands| dim broadcast."""
    from linkgraph.operators.profile import grouped_ols

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 0)
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"]).select(
        "p_brand",
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("lx"),
        F.log(F.col("l_quantity")).alias("ly"),
    )
    return grouped_ols(j, "p_brand", "lx", "ly")


SQL_BRAND_ELASTICITY = """
WITH j AS (
  SELECT p_brand AS grp,
         LN(l_extendedprice / l_quantity) AS x,
         LN(l_quantity) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_quantity > 0),
a AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM j WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY grp),
d AS (
  SELECT grp, n,
         CAST(n AS DOUBLE) * sxx - sx * sx AS dxx,
         CAST(n AS DOUBLE) * syy - sy * sy AS dyy,
         CAST(n AS DOUBLE) * sxy - sx * sy AS dxy,
         sx, sy
  FROM a)
SELECT grp, n,
       ROUND(CASE WHEN n >= 2 AND dxx > 0 AND dyy > 0
                  THEN dxy / dxx ELSE NULL END, 6) AS slope,
       ROUND(CASE WHEN n >= 2 AND dxx > 0 AND dyy > 0
                  THEN (sy - (dxy / dxx) * sx) / CAST(n AS DOUBLE)
                  ELSE NULL END, 6) AS intercept,
       ROUND(CASE WHEN n >= 2 AND dxx > 0 AND dyy > 0
                  THEN (dxy * dxy) / (dxx * dyy) ELSE NULL END, 6) AS r2
FROM d
"""


def q_entry_exit(spark, sf_dir):
    """Session entry/exit matrix with bounce rates at the standard
    session gap (operators/events.py::entry_exit_matrix)."""
    from linkgraph.operators.events import entry_exit_matrix

    return entry_exit_matrix(_t(spark, sf_dir, "events"), gap_seconds=SESSION_GAP_S)


SQL_ENTRY_EXIT = f"""
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM events),
f AS (
  SELECT *, CASE WHEN ep - lag(ep) OVER w > {SESSION_GAP_S} THEN 1 ELSE 0 END AS nw
  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sno
  FROM f),
m AS (
  SELECT user_id, sno, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, sno
                            ORDER BY ts ASC, event_id ASC) AS rf,
         ROW_NUMBER() OVER (PARTITION BY user_id, sno
                            ORDER BY ts DESC, event_id DESC) AS rl
  FROM s),
sess AS (
  SELECT user_id, sno,
         MAX(CASE WHEN rf = 1 THEN event_type END) AS entry_type,
         MAX(CASE WHEN rl = 1 THEN event_type END) AS exit_type,
         COUNT(*) AS n_ev
  FROM m GROUP BY user_id, sno),
cells AS (
  SELECT entry_type, exit_type,
         CAST(COUNT(*) AS BIGINT) AS n_sessions,
         CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce
  FROM sess GROUP BY 1, 2)
SELECT entry_type, exit_type, n_sessions, n_bounce,
       ROUND(n_bounce / CAST(n_sessions AS DOUBLE), 6) AS bounce_rate,
       ROUND(n_sessions / CAST(SUM(n_sessions) OVER () AS DOUBLE), 6) AS share
FROM cells
"""


def q_dedup_coverage(spark, sf_dir):
    """Chapman capture-recapture estimate of the true near-dup pair
    population from two INDEPENDENT detectors (MinHash-LSH verified
    pairs vs portable-SimHash hamming≤3 pairs): N̂ = (n_a+1)(n_b+1)/
    (m+1) − 1 and each detector's implied coverage — the "how many
    duplicates are we missing" answer no single detector can give
    about itself."""
    from linkgraph.textops.dedup import (
        minhash_near_duplicates,
        simhash_portable_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pa = minhash_near_duplicates(
        docs, threshold=0.3, num_hashes=64, bands=16, hash_family="md5"
    ).select("a", "b")
    pb = simhash_portable_pairs(docs, max_hamming=3).select("a", "b")
    from linkgraph.textops.dedup import chapman_estimate

    return chapman_estimate(pa, pb)


def _dedup_coverage_sql() -> str:
    pack = "\n     + ".join(
        f"(CASE WHEN 2*c{j} > n THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END)"
        for j in range(60)
    )
    bits_cnt = ",\n       ".join(
        f"SUM((h >> {j}) & 1) AS c{j}" for j in range(60)
    )
    return f"""
WITH {_SQL_MINHASH_CTES},
pa AS (SELECT a, b FROM jac WHERE jac >= 0.3),
stok AS (
  SELECT doc_id, unnest(list_distinct({_SQL_TOKENS})) AS w FROM documents),
sth AS (SELECT doc_id, {_SQL_H60.format(x="w")} AS h FROM stok),
scnt AS (SELECT doc_id, COUNT(*) AS n,
       {bits_cnt}
       FROM sth GROUP BY doc_id),
sh AS (SELECT doc_id, CAST({pack} AS BIGINT) AS simhash FROM scnt),
chunks AS (
  SELECT doc_id, simhash, t.c AS chunk,
         (simhash >> (15 * t.c)) & 32767 AS val
  FROM sh, (SELECT unnest(range(4)) AS c) t),
pb AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM chunks x JOIN chunks y ON x.chunk = y.chunk AND x.val = y.val
  WHERE x.doc_id < y.doc_id
    AND bit_count(xor(x.simhash, y.simhash)) <= 3),
ca AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a FROM pa),
cb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b FROM pb),
cm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_both
       FROM pa WHERE EXISTS (SELECT 1 FROM pb WHERE pb.a = pa.a AND pb.b = pa.b))
SELECT n_a, n_b, n_both,
       ROUND((n_a + 1) * (n_b + 1) / CAST(n_both + 1 AS DOUBLE) - 1.0, 6) AS n_est,
       ROUND(n_a / ((n_a + 1) * (n_b + 1) / CAST(n_both + 1 AS DOUBLE) - 1.0), 6)
         AS coverage_a,
       ROUND(n_b / ((n_a + 1) * (n_b + 1) / CAST(n_both + 1 AS DOUBLE) - 1.0), 6)
         AS coverage_b
FROM ca CROSS JOIN cb CROSS JOIN cm
"""


SQL_DEDUP_COVERAGE = _dedup_coverage_sql()


def q_wl_anonymity(spark, sf_dir):
    """Structural re-identification risk curve over WL rounds on the
    co-purchase graph (algos/wl.py::wl_anonymity)."""
    from linkgraph.algos.wl import wl_anonymity

    return wl_anonymity(copurchase_graph(spark, sf_dir), rounds=WL_ROUNDS)


def _wl_anon_sql(rounds: int) -> str:
    P = (1 << 61) - 1
    parts = [
        "w0 AS MATERIALIZED (SELECT src AS vid, CAST(COUNT(*) AS VARCHAR)"
        " AS color FROM e GROUP BY src)"
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""a{i} AS MATERIALIZED (
  SELECT e.dst,
         SUM(CAST('0x' || substr(md5(x.color), 1, 15) AS BIGINT)) % {P} AS s
  FROM e JOIN w{i - 1} x ON x.vid = e.src GROUP BY e.dst)""")
        parts.append(f"""w{i} AS MATERIALIZED (
  SELECT w.vid, md5(w.color || '|' || CAST(COALESCE(a.s, 0) AS VARCHAR)) AS color
  FROM w{i - 1} w LEFT JOIN a{i} a ON a.dst = w.vid)""")
    arms = []
    for i in range(rounds + 1):
        parts.append(
            f"s{i} AS (SELECT color, COUNT(*) AS n FROM w{i} GROUP BY color)"
        )
        arms.append(
            f"SELECT CAST({i} AS INTEGER) AS round,"
            f" CAST(COUNT(*) AS BIGINT) AS n_classes,"
            f" CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,"
            f" ROUND(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END)"
            f" / CAST(SUM(n) AS DOUBLE), 6) AS frac_unique,"
            f" CAST(MAX(n) AS BIGINT) AS max_class FROM s{i}"
        )
    return (
        f"WITH {_COPURCHASE_E},"
        + ",".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(arms)
    )


SQL_WL_ANONYMITY = _wl_anon_sql(WL_ROUNDS)


def q_partition_audit(spark, sf_dir):
    """Edge-cut vs vertex-cut replication/balance audit on the
    co-purchase edge table (operators/layout.py::edge_partition_audit)."""
    from linkgraph.operators.layout import edge_partition_audit

    return edge_partition_audit(copurchase_graph(spark, sf_dir).edges, n_parts=16)


_SQL_PART_H = (
    "CAST('0x' || substr(md5(CAST({c} AS VARCHAR) || '#part'), 1, 15)"
    " AS BIGINT)"
)


def _partition_audit_sql() -> str:
    hp_src = f"({_SQL_PART_H.format(c='src')}) % 16"
    h4_src = f"({_SQL_PART_H.format(c='src')}) % 4"
    h4_dst = f"({_SQL_PART_H.format(c='dst')}) % 4"

    def arm(tag: str, part: str) -> str:
        return f"""
t_{tag} AS (SELECT src, dst, {part} AS part FROM e),
sz_{tag} AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS ne
             FROM t_{tag} GROUP BY part),
bal_{tag} AS (SELECT MAX(ne) / (SUM(ne) / 16.0) AS balance FROM sz_{tag}),
v_{tag} AS (SELECT vid, CAST(COUNT(*) AS BIGINT) AS np FROM (
    SELECT DISTINCT vid, part FROM (
      SELECT src AS vid, part FROM t_{tag}
      UNION ALL SELECT dst AS vid, part FROM t_{tag}))
  GROUP BY vid),
rf_{tag} AS (SELECT AVG(np) AS repl_factor FROM v_{tag})"""

    return f"""
WITH {_COPURCHASE_E},{arm("a", hp_src)},{arm("b", f"({h4_src}) * 4 + ({h4_dst})")}
SELECT '1d_src_hash' AS strategy, CAST(16 AS BIGINT) AS n_parts,
       ROUND(repl_factor, 6) AS repl_factor, ROUND(balance, 6) AS balance
FROM rf_a CROSS JOIN bal_a
UNION ALL
SELECT '2d_grid' AS strategy, CAST(16 AS BIGINT) AS n_parts,
       ROUND(repl_factor, 6) AS repl_factor, ROUND(balance, 6) AS balance
FROM rf_b CROSS JOIN bal_b
"""


SQL_PARTITION_AUDIT = _partition_audit_sql()


def q_lang_detector_prf(spark, sf_dir):
    """Precision/recall/F1 of the stopword language detector against the
    declared labels, binarized to en/other
    (operators/profile.py::classifier_report)."""
    from linkgraph.operators.profile import classifier_report
    from linkgraph.textops.textstats import language_id

    docs = _t(spark, sf_dir, "documents")
    pred = language_id(docs).select("doc_id", "lang_pred")
    lab = (
        docs.select(
            "doc_id",
            F.when(F.col("lang") == "en", "en").otherwise("other").alias("truth"),
        )
        .join(pred, "doc_id")
        .select("truth", F.col("lang_pred").alias("pred"))
    )
    return classifier_report(lab)


SQL_LANG_DETECTOR_PRF = f"""
WITH tok AS (SELECT doc_id, lang, {_SQL_TOKENS} AS ts FROM documents),
m AS (SELECT doc_id, lang, len(ts) AS nt,
             len(list_filter(ts, x -> list_contains({_SQL_STOP}, x))) AS en
      FROM tok),
lab AS (
  SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS truth,
         CASE WHEN nt > 0 AND CAST(en AS DOUBLE) / nt >= 0.05
              THEN 'en' ELSE 'other' END AS pred
  FROM m),
cells AS (SELECT truth, pred, CAST(COUNT(*) AS BIGINT) AS n
          FROM lab GROUP BY 1, 2),
nt AS (SELECT truth AS label, CAST(SUM(n) AS BIGINT) AS n_true
       FROM cells GROUP BY truth),
np AS (SELECT pred AS label, CAST(SUM(n) AS BIGINT) AS n_pred
       FROM cells GROUP BY pred),
tp AS (SELECT truth AS label, n AS tp FROM cells WHERE truth = pred),
base AS (
  SELECT COALESCE(nt.label, np.label) AS label,
         COALESCE(n_true, 0) AS n_true,
         COALESCE(n_pred, 0) AS n_pred,
         COALESCE(tp, 0) AS tp
  FROM nt FULL OUTER JOIN np ON np.label = nt.label
  LEFT JOIN tp ON tp.label = COALESCE(nt.label, np.label)),
pr AS (
  SELECT label, n_true, n_pred, tp,
         CASE WHEN n_pred > 0 THEN tp / CAST(n_pred AS DOUBLE) END AS p,
         CASE WHEN n_true > 0 THEN tp / CAST(n_true AS DOUBLE) END AS r
  FROM base)
SELECT label, CAST(n_true AS BIGINT) AS n_true,
       CAST(n_pred AS BIGINT) AS n_pred, CAST(tp AS BIGINT) AS tp,
       ROUND(p, 6) AS precision,
       ROUND(r, 6) AS recall,
       ROUND(CASE WHEN p IS NOT NULL AND r IS NOT NULL AND p + r > 0
                  THEN 2.0 * p * r / (p + r) END, 6) AS f1
FROM pr
"""


RRF_LIST_K = 20
RRF_K = 60


def q_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of the BM25 and query-density rankers for
    the fixed query (textops/retrieval.py::rrf_fuse)."""
    from linkgraph.textops.retrieval import bm25_topk, query_density_topk, rrf_fuse

    docs = _t(spark, sf_dir, "documents")
    a = bm25_topk(
        docs, list(BM25_TERMS), k1=BM25_K1, b=BM25_B, k=RRF_LIST_K
    ).select("doc_id", "score")
    b = query_density_topk(docs, list(BM25_TERMS), k=RRF_LIST_K)
    return rrf_fuse(a, b, kconst=RRF_K, k=BM25_TOPK)


SQL_RRF_FUSION = f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
dl AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
       WHERE term IN ({_BM25_IN}) GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
idf AS (SELECT term,
               ln(1.0 + (st.n_docs - df + 0.5) / (df + 0.5)) AS idf
        FROM df CROSS JOIN st),
sc AS (
  SELECT tf.doc_id,
         idf.idf * (tf.tf * ({BM25_K1} + 1))
         / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl)) AS s
  FROM tf JOIN dl ON dl.doc_id = tf.doc_id
  JOIN idf ON idf.term = tf.term CROSS JOIN st),
bm_list AS (
  SELECT doc_id, ROUND(SUM(s), 6) AS score FROM sc GROUP BY doc_id
  ORDER BY ROUND(SUM(s), 6) DESC, doc_id ASC LIMIT {RRF_LIST_K}),
ra AS (SELECT doc_id,
              ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS r_a
       FROM bm_list),
hit AS (SELECT doc_id, COUNT(*) AS h FROM tok
        WHERE term IN ({_BM25_IN}) GROUP BY doc_id),
dn_list AS (
  SELECT hit.doc_id, ROUND(hit.h / CAST(dl.dl AS DOUBLE), 6) AS score
  FROM hit JOIN dl ON dl.doc_id = hit.doc_id
  ORDER BY score DESC, hit.doc_id ASC LIMIT {RRF_LIST_K}),
rb AS (SELECT doc_id,
              ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS r_b
       FROM dn_list),
fused AS (
  SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id, r_a, r_b,
         ROUND(COALESCE(1.0 / ({RRF_K}.0 + r_a), 0.0)
               + COALESCE(1.0 / ({RRF_K}.0 + r_b), 0.0), 6) AS rrf
  FROM ra FULL OUTER JOIN rb ON rb.doc_id = ra.doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(r_a AS BIGINT) AS r_a,
       CAST(r_b AS BIGINT) AS r_b, rrf
FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT {BM25_TOPK}
"""


def q_cohort_ltv(spark, sf_dir):
    """Customer-cohort LTV accumulation by month offset
    (operators/events.py::cohort_ltv)."""
    from linkgraph.operators.events import cohort_ltv

    return cohort_ltv(_t(spark, sf_dir, "orders"))


SQL_COHORT_LTV = """
WITH fst AS MATERIALIZED (
  SELECT o_custkey, MIN(date_trunc('month', CAST(o_orderdate AS DATE))) AS m0
  FROM orders GROUP BY 1),
sized AS (SELECT strftime(m0, '%Y-%m') AS cohort_month,
                 CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
          FROM fst GROUP BY 1),
cells AS MATERIALIZED (
  SELECT strftime(f.m0, '%Y-%m') AS cohort_month,
         CAST((EXTRACT(year FROM CAST(o.o_orderdate AS DATE))
               - EXTRACT(year FROM f.m0)) * 12
              + (EXTRACT(month FROM CAST(o.o_orderdate AS DATE))
                 - EXTRACT(month FROM f.m0)) AS BIGINT) AS month_offset,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
  FROM orders o JOIN fst f USING (o_custkey) GROUP BY 1, 2)
SELECT c.cohort_month, c.month_offset, s.n_customers,
       ROUND(c.rev_c / 100.0, 6) AS revenue,
       ROUND(SUM(c.rev_c) OVER (PARTITION BY c.cohort_month ORDER BY c.month_offset
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / 100.0 / s.n_customers, 6) AS cum_revenue_per_cust
FROM cells c JOIN sized s ON s.cohort_month = c.cohort_month
"""


SEASONAL_Z_CUT = 2.0


def q_seasonal_anomalies(spark, sf_dir):
    """Weekday-adjusted anomalous days in the event stream
    (operators/timeseries.py::seasonal_anomalies)."""
    from linkgraph.operators.timeseries import seasonal_anomalies

    return seasonal_anomalies(_t(spark, sf_dir, "events"), z_cut=SEASONAL_Z_CUT)


SQL_SEASONAL_ANOMALIES = f"""
WITH daily AS MATERIALIZED (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dd,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
wd AS (SELECT day, CAST((dd + 3) % 7 AS BIGINT) AS weekday, c FROM daily),
sc AS (
  SELECT day, weekday, c,
         AVG(CAST(c AS DOUBLE)) OVER (PARTITION BY weekday) AS mu_wd,
         stddev_samp(CAST(c AS DOUBLE)) OVER (PARTITION BY weekday) AS sd_wd
  FROM wd),
z AS (SELECT *, ROUND((c - mu_wd) / sd_wd, 6) AS z FROM sc)
SELECT day, weekday, c, ROUND(mu_wd, 6) AS mu_wd, ROUND(sd_wd, 6) AS sd_wd, z
FROM z WHERE sd_wd IS NOT NULL AND sd_wd > 0 AND abs(z) > {SEASONAL_Z_CUT}
"""


def q_shipping_latency(spark, sf_dir):
    """Order-to-ship latency distribution per order priority (Q12-ish):
    exact mean/p50/p90/max days from the lineitem⋈orders join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    lat = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("double")
        .alias("lat_d"),
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("lat_d"), 6).alias("mean_days"),
        F.round(F.expr("percentile(lat_d, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(lat_d, 0.9)"), 6).alias("p90"),
        F.max("lat_d").cast("long").alias("max_days"),
    )


SQL_SHIPPING_LATENCY = """
WITH lat AS (
  SELECT o_orderpriority,
         CAST(date_diff('day', CAST(o_orderdate AS DATE),
                        CAST(l_shipdate AS DATE)) AS DOUBLE) AS lat_d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(lat_d), 6) AS mean_days,
       ROUND(quantile_cont(lat_d, 0.5), 6) AS p50,
       ROUND(quantile_cont(lat_d, 0.9), 6) AS p90,
       CAST(MAX(lat_d) AS BIGINT) AS max_days
FROM lat GROUP BY o_orderpriority
"""


def q_source_kl(spark, sf_dir):
    """Per-source unigram KL divergence from the corpus distribution
    (textops/textstats.py::source_kl_divergence)."""
    from linkgraph.textops.textstats import source_kl_divergence

    return source_kl_divergence(_t(spark, sf_dir, "documents"))


SQL_SOURCE_KL = f"""
WITH tok AS MATERIALIZED (
  SELECT source, unnest({_SQL_TOKENS}) AS w FROM documents),
sw AS MATERIALIZED (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n_sw FROM tok GROUP BY 1, 2),
corpus AS MATERIALIZED (
  SELECT w, CAST(SUM(n_sw) AS BIGINT) AS n_w FROM sw GROUP BY w),
tot AS (SELECT source, CAST(SUM(n_sw) AS BIGINT) AS n_s FROM sw GROUP BY source),
consts AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n_total,
                  CAST(COUNT(*) AS BIGINT) AS v FROM corpus),
dense AS (
  SELECT t.source, t.n_s, c.w, c.n_w, COALESCE(s.n_sw, 0) AS n_sw,
         k.n_total, k.v
  FROM tot t CROSS JOIN corpus c
  LEFT JOIN sw s ON s.source = t.source AND s.w = c.w
  CROSS JOIN consts k),
terms AS (
  SELECT source, n_s,
         CASE WHEN n_sw > 0 THEN 1 ELSE 0 END AS hit,
         ((n_sw + 1) / CAST(n_s + v AS DOUBLE))
           * ln(((n_sw + 1) / CAST(n_s + v AS DOUBLE))
                / (n_w / CAST(n_total AS DOUBLE))) AS term
  FROM dense)
SELECT source, MAX(n_s) AS n_tokens, CAST(SUM(hit) AS BIGINT) AS vocab_hits,
       ROUND(SUM(term), 6) AS kl
FROM terms GROUP BY source
"""


BPE_NUM_MERGES = 4


def q_bpe_merges(spark, sf_dir):
    """First 4 BPE merge rules learned over the document corpus
    (textops/bpe.py::bpe_merge_table)."""
    from linkgraph.textops.bpe import bpe_merge_table

    return bpe_merge_table(_t(spark, sf_dir, "documents"), num_merges=BPE_NUM_MERGES)


def _bpe_oracle() -> str:
    from linkgraph.textops.bpe import bpe_oracle_sql

    return bpe_oracle_sql(BPE_NUM_MERGES)


def q_bpe_fertility(spark, sf_dir):
    """BPE compression curve: vocab size and symbols/word after each of
    the first 4 merges (textops/bpe.py::bpe_fertility_curve)."""
    from linkgraph.textops.bpe import bpe_fertility_curve

    return bpe_fertility_curve(
        _t(spark, sf_dir, "documents"), num_merges=BPE_NUM_MERGES
    )


def _bpe_fertility_oracle() -> str:
    from linkgraph.textops.bpe import bpe_fertility_oracle_sql

    return bpe_fertility_oracle_sql(BPE_NUM_MERGES)


def q_benford_audit(spark, sf_dir):
    """Benford first-digit audit of event values per type
    (operators/profile.py::benford_audit)."""
    from linkgraph.operators.profile import benford_audit

    return benford_audit(_t(spark, sf_dir, "events"))


SQL_BENFORD_AUDIT = """
WITH obs AS MATERIALIZED (
  SELECT event_type,
         CAST(substr(CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n_d
  FROM events WHERE value > 0 GROUP BY 1, 2),
tot AS (SELECT event_type, CAST(SUM(n_d) AS BIGINT) AS n FROM obs GROUP BY 1),
dig AS (SELECT CAST(UNNEST(range(1, 10)) AS BIGINT) AS digit),
dense AS MATERIALIZED (
  SELECT t.event_type, d.digit, t.n,
         COALESCE(o.n_d, 0) AS n_d,
         log10(1 + 1.0 / d.digit) AS benford_p,
         t.n * log10(1 + 1.0 / d.digit) AS exp_d
  FROM tot t CROSS JOIN dig d
  LEFT JOIN obs o ON o.event_type = t.event_type AND o.digit = d.digit),
chi AS (SELECT event_type, ROUND(SUM(pow(n_d - exp_d, 2) / exp_d), 6) AS chi2
        FROM dense GROUP BY event_type)
SELECT dense.event_type, digit, n_d,
       ROUND(n_d / CAST(n AS DOUBLE), 6) AS share,
       ROUND(benford_p, 6) AS benford_p, chi.chi2
FROM dense JOIN chi ON chi.event_type = dense.event_type
"""


Q10_D1, Q10_D2 = "1997-01-01", "1997-04-01"


def q_returned_items(spark, sf_dir):
    """TPC-H Q10-form returned-item report: revenue lost to returns per
    customer over a quarter, top 20.  Fact-fact join (lineitem ⋈ orders)
    shuffles on orderkey with both sides date/flag-filtered BEFORE the
    shuffle; customer joins on custkey (shuffle — customer is NOT a
    broadcastable dim at scale); 25-row nation broadcasts.  Top-20 ranks
    on the ROUNDED revenue with custkey tiebreak so the cut is
    engine-stable."""
    d1 = F.lit(Q10_D1).cast("timestamp")
    d2 = F.lit(Q10_D2).cast("timestamp")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= d1) & (F.col("o_orderdate") < d2)
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_cust = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
    )
    # top-20 via orderBy+limit -> TakeOrderedAndProject (a distributed
    # per-partition heap + driver merge), NOT row_number over an
    # unpartitioned Window (which funnels every per-customer row through
    # ONE task at scale).  (revenue desc, c_custkey asc) is a strict
    # total order (custkey unique), so the 20-row cut is identical.
    return (
        per_cust.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name", "revenue",
        )
    )


SQL_RETURNED_ITEMS = f"""
WITH per_cust AS MATERIALIZED (
  SELECT c_custkey, c_name, c_acctbal, n_name,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '{Q10_D1} 00:00:00'
    AND o_orderdate <  TIMESTAMP '{Q10_D2} 00:00:00'
  GROUP BY c_custkey, c_name, c_acctbal, n_name),
r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY revenue DESC, c_custkey ASC) AS rn
      FROM per_cust)
SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal, n_name, revenue
FROM r WHERE rn <= 20
"""


Q5_REGION = "ASIA"
Q5_YEAR = 1997


def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5-form local-supplier volume: revenue per nation where the
    ordering customer and the supplying supplier share a nation, one
    region, one year.  nation⋈region collapses to a ≤25-key broadcast
    filter; supplier broadcasts (true small dim); the only big shuffles
    are lineitem⋈orders on orderkey and the custkey join."""
    d1 = F.lit(f"{Q5_YEAR}-01-01").cast("timestamp")
    d2 = F.lit(f"{Q5_YEAR + 1}-01-01").cast("timestamp")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == Q5_REGION)
    nr = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= d1) & (F.col("o_orderdate") < d2)
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nr), F.col("s_nationkey") == nr["n_nationkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
    )


SQL_LOCAL_SUPPLIER_VOLUME = f"""
SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE c.c_nationkey = s.s_nationkey
  AND r.r_name = '{Q5_REGION}'
  AND o_orderdate >= TIMESTAMP '{Q5_YEAR}-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '{Q5_YEAR + 1}-01-01 00:00:00'
GROUP BY n_name
"""


Q8_NATION = "NATION_2"


def q_market_share(spark, sf_dir):
    """TPC-H Q8-form market share: the fraction of ASIA-customer revenue
    supplied by one nation's suppliers, per order year — conditional
    aggregation over ONE joined pass (no numerator/denominator
    re-scan)."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == Q5_REGION)
    nr = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    ).select(F.col("n_nationkey").alias("cust_nk"))
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    snat = nation.select(
        F.col("n_nationkey").alias("supp_nk"), F.col("n_name").alias("supp_nation")
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nr), F.col("c_nationkey") == F.col("cust_nk"))
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(snat), F.col("s_nationkey") == F.col("supp_nk"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == Q8_NATION, rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("mkt_share"),
            F.round(F.sum(rev), 2).alias("total_rev"),
        )
    )


SQL_MARKET_SHARE = f"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       ROUND(SUM(CASE WHEN sn.n_name = '{Q8_NATION}'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_rev
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN region r ON cn.n_regionkey = r.r_regionkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
WHERE r.r_name = '{Q5_REGION}'
GROUP BY 1
"""


def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14-form promotion effect: percent of revenue from PROMO
    parts per ship month — broadcast part dim, conditional agg, month
    rollup in one pass."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_pct"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


SQL_PROMO_REVENUE = """
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_pct,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1
"""


Q18_QTY = 200


def q_large_volume_customers(spark, sf_dir):
    """TPC-H Q18-form large-volume customers: orders whose total
    quantity exceeds a threshold, with their customer — the aggregate
    HAVING pushes the qty rollup BEFORE the joins, so only qualifying
    orderkeys (≈1% here) reach the orders/customer joins."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .where(F.col("sum_qty") > Q18_QTY)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_day"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
    )


SQL_LARGE_VOLUME_CUSTOMERS = f"""
WITH big AS MATERIALIZED (
  SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING ROUND(SUM(l_quantity), 2) > {Q18_QTY})
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_day,
       ROUND(o_totalprice, 2) AS o_totalprice, sum_qty
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


QUERIES = {
    "degree_topk": q_degree_topk,
    "edges_shared_key": q_edges_shared_key,
    "edge_pmi": q_edge_pmi,
    "frequent_triples": q_frequent_triples,
    "edges_events_user": q_edges_events_user,
    "turn_adjacency": q_turn_adjacency,
    "activity_profile": q_activity_profile,
    "transition_entropy": q_transition_entropy,
    "transition_latency": q_transition_latency,
    "event_trigrams": q_event_trigrams,
    "value_outliers": q_value_outliers,
    "square_count": q_square_count,
    "bfs_distances": q_bfs_distances,
    "anf": q_anf,
    "anf_full": q_anf_full,
    "diameter_lb": q_diameter_lb,
    "hub_coverage": q_hub_coverage,
    "hyperball_harmonic": q_hyperball_harmonic,
    "eccentricity": q_eccentricity,
    "betweenness": q_betweenness,
    "edge_betweenness": q_edge_betweenness,
    "closeness": q_closeness,
    "harmonic": q_harmonic,
    "khop_sample": q_khop_sample,
    "connected_components": q_connected_components,
    "cc_two_phase": q_cc_two_phase,
    "ppr_push": q_ppr_push,
    "heavy_hitters": q_heavy_hitters,
    "event_pivot": q_event_pivot,
    "recommend_items": q_recommend,
    "table_diff": q_table_diff,
    "ssjoin_prefix": q_ssjoin_prefix,
    "event_hopping": q_event_hopping,
    "partition_cut": q_partition_cut,
    "zorder_layout": q_zorder_layout,
    "triad_census": q_triad_census,
    "recommend_eval": q_recommend_eval,
    "clustering_ari": q_clustering_ari,
    "attack_robustness": q_attack_robustness,
    "failure_robustness": q_failure_robustness,
    "edge_percolation": q_edge_percolation,
    "embedding_top_pc": q_embedding_top_pc,
    "countmin_tokens": q_countmin_tokens,
    "bloom_dedup_audit": q_bloom_dedup_audit,
    "hll_daily_users": q_hll_daily_users,
    "kmv_user_overlap": q_kmv_user_overlap,
    "join_size_estimate": q_join_size_estimate,
    "skew_report": q_skew_report,
    "k_anonymity": q_k_anonymity,
    "triangle_estimate": q_triangle_estimate,
    "mutual_knn": q_mutual_knn,
    "hitting_time": q_hitting_time,
    "salsa": q_salsa,
    "mixture_weights": q_mixture_weights,
    "dedup_token_stats": q_dedup_token_stats,
    "weighted_sample": q_weighted_sample,
    "landmark_distances": q_landmark_distances,
    "pagerank_incremental": q_pagerank_incremental,
    "k_core": q_k_core,
    "k_core_fixpoint": q_k_core_fixpoint,
    "coreness": q_coreness,
    "triangle_count": q_triangle_count,
    "triangles_per_vertex": q_triangles_per_vertex,
    "graphlet_census": q_graphlet_census,
    "knn_curve": q_knn_curve,
    "clustering_by_degree": q_clustering_by_degree,
    "local_bridges": q_local_bridges,
    "edge_audit": q_edge_audit,
    "pagerank": q_pagerank,
    "personalized_pagerank": q_personalized_pagerank,
    "label_propagation": q_label_propagation,
    "label_spreading": q_label_spreading,
    "customers_without_urgent_orders": q_customers_without_urgent_orders,
    "event_props_hourly": q_event_props_hourly,
    "rollup_lineitem": q_rollup_lineitem,
    "dedup_exact": q_dedup_exact,
    "dup_cluster_histogram": q_dup_cluster_histogram,
    "text_stats": q_text_stats,
    "char_entropy": q_char_entropy,
    "daily_active": q_daily_active,
    "retention_cohorts": q_retention_cohorts,
    "hourly_profile": q_hourly_profile,
    "value_ab": q_value_ab,
    "corpus_composition": q_corpus_composition,
    "language_id": q_language_id,
    "token_totals": q_token_totals,
    "fertility_by_lang": q_fertility_by_lang,
    "jaccard_pairs": q_jaccard_pairs,
    "containment_pairs": q_containment,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ivf_cosine_topk": q_ivf_cosine_topk,
    "embedding_label_stats": q_embedding_label_stats,
    "centroid_distances": q_centroid_distances,
    "embedding_near_dup": q_embedding_near_dup,
    "embedding_near_dup_banded": q_embedding_near_dup_banded,
    "minhash_lsh": q_minhash_lsh,
    "split_leakage": q_split_leakage,
    "shared_ngram_spans": q_shared_ngram_spans,
    "ngram_novelty": q_ngram_novelty,
    "simhash": q_simhash,
    "fingerprint": q_fingerprint,
    "text_integrity": q_text_integrity,
    "link_prediction": q_link_prediction,
    "vertex_similarity": q_vertex_similarity,
    "graph_stats": q_graph_stats,
    "degree_hist": q_degree_hist,
    "degree_gini": q_degree_gini,
    "rich_club": q_rich_club,
    "label_assortativity": q_label_assortativity,
    "graph_diff": q_graph_diff,
    "powerlaw_alpha": q_powerlaw_alpha,
    "partition_conductance": q_partition_conductance,
    "reciprocity": q_reciprocity,
    "hits": q_hits,
    "sssp_weighted": q_sssp,
    "shortest_path_tree": q_shortest_path_tree,
    "mst": q_mst,
    "sparsify": q_sparsify,
    "random_walks": q_random_walks,
    "node2vec_walks": q_node2vec_walks,
    "clustering_coeff": q_clustering_coeff,
    "pagerank_weighted": q_pagerank_weighted,
    "k_truss": q_k_truss,
    "tfidf_topk": q_tfidf,
    "tfidf_cosine_pairs": q_tfidf_cosine_pairs,
    "ctfidf_topk": q_ctfidf,
    "sessionize": q_sessionize,
    "session_histogram": q_session_histogram,
    "chi_square": q_chi_square,
    "funnel_steps": q_funnel,
    "asof_view_purchase": q_asof_view_purchase,
    "dedup_clusters": q_dedup_clusters,
    "hash_split": q_hash_split,
    "stratified_sample": q_stratified_sample,
    "quantiles_acctbal": q_quantiles_acctbal,
    "correlation_matrix": q_correlation_matrix,
    "rfm_segments": q_rfm_segments,
    "cube_orders": q_cube_orders,
    "scc": q_scc,
    "bowtie": q_bowtie,
    "repetition_stats": q_repetition_stats,
    "contamination": q_contamination,
    "community_modularity": q_community_modularity,
    "maximal_independent_set": q_maximal_independent_set,
    "pii_scrub": q_pii_scrub,
    "greedy_coloring": q_greedy_coloring,
    "wl_colors": q_wl_colors,
    "temporal_reach": q_temporal_reach,
    "ngram_topk": q_ngram_topk,
    "zipf_fit": q_zipf_fit,
    "pmi_collocations": q_pmi_collocations,
    "louvain": q_louvain,
    "community_conductance": q_community_conductance,
    "katz": q_katz,
    "eigenvector": q_eigenvector,
    "sequence_pack": q_sequence_pack,
    "chunk_plan": q_chunk_plan,
    "quality_filter": q_quality_filter,
    "maximal_matching": q_maximal_matching,
    "coarsen_graph": q_coarsen_graph,
    "interval_join": q_interval_join,
    "fuzzy_match": q_fuzzy_match,
    "densest_subgraph": q_densest_subgraph,
    "lm_quality": q_lm_quality,
    "lm2_quality": q_lm2_quality,
    "source_quality": q_source_quality,
    "fastrp_embed": q_fastrp_embed,
    "fastrp_ann_topk": q_fastrp_ann_topk,
    "dedup_split": q_dedup_split,
    "embedding_quantize": q_embedding_quantize,
    "st_distance": q_st_distance,
    "dsir_weights": q_dsir_weights,
    "epoch_shuffle": q_epoch_shuffle,
    "condensation": q_condensation,
    "textrank_keywords": q_textrank_keywords,
    "stopword_candidates": q_stopword_candidates,
    "readability": q_readability,
    "data_profile": q_data_profile,
    "nbr_minhash_sim": q_nbr_minhash_sim,
    "scd2_intervals": q_scd2_intervals,
    "simrank": q_simrank,
    "greedy_doc_cover": q_greedy_doc_cover,
    "interval_union": q_interval_union,
    "decayed_activity": q_decayed_activity,
    "event_stationary": q_event_stationary,
    "heaps_law": q_heaps_law,
    "pricing_summary": q_pricing_summary,
    "shipping_priority": q_shipping_priority,
    "revenue_simple": q_revenue_simple,
    "cuped_ab": q_cuped_ab,
    "bipartite_check": q_bipartite_check,
    "bm25_topk": q_bm25_topk,
    "hash_embed": q_hash_embed,
    "kwic": q_kwic,
    "source_vocab_overlap": q_source_vocab_overlap,
    "burstiness": q_burstiness,
    "mad_outliers": q_mad_outliers,
    "kaplan_meier": q_kaplan_meier,
    "cusum_changepoint": q_cusum_changepoint,
    "acf_daily": q_acf_daily,
    "moving_stats": q_moving_stats,
    "returned_items": q_returned_items,
    "local_supplier_volume": q_local_supplier_volume,
    "market_share": q_market_share,
    "promo_revenue": q_promo_revenue,
    "large_volume_customers": q_large_volume_customers,
    "bpe_merges": q_bpe_merges,
    "peak_hour_load": q_peak_hour_load,
    "eb_source_rates": q_eb_source_rates,
    "bpe_fertility": q_bpe_fertility,
    "benford_audit": q_benford_audit,
    "fiedler_partition": q_fiedler_partition,
    "seasonal_anomalies": q_seasonal_anomalies,
    "shipping_latency": q_shipping_latency,
    "source_kl": q_source_kl,
    "closeness_topk": q_closeness_topk,
    "lang_agreement": q_lang_agreement,
    "strength_disparity": q_strength_disparity,
    "tie_strength_overlap": q_tie_strength_overlap,
    "psi_drift": q_psi_drift,
    "triadic_closure": q_triadic_closure,
    "ewma_control": q_ewma_control,
    "did_estimate": q_did_estimate,
    "null_model": q_null_model,
    "retention_lift": q_retention_lift,
    "embedding_auc": q_embedding_auc,
    "ipf_weights": q_ipf_weights,
    "covariate_balance": q_covariate_balance,
    "poisson_bootstrap": q_poisson_bootstrap,
    "ks_drift": q_ks_drift,
    "brand_elasticity": q_brand_elasticity,
    "entry_exit": q_entry_exit,
    "dedup_coverage": q_dedup_coverage,
    "wl_anonymity": q_wl_anonymity,
    "partition_audit": q_partition_audit,
    "lang_detector_prf": q_lang_detector_prf,
    "rrf_fusion": q_rrf_fusion,
    "cohort_ltv": q_cohort_ltv,
    "l_diversity": q_l_diversity,
    "class_balance": q_class_balance,
}

ORACLES = {
    "degree_topk": SQL_DEGREE_TOPK,
    "edges_shared_key": SQL_EDGES_SHARED_KEY,
    "edge_pmi": SQL_EDGE_PMI,
    "frequent_triples": SQL_FREQUENT_TRIPLES,
    "edges_events_user": SQL_EDGES_EVENTS_USER,
    "turn_adjacency": SQL_TURN_ADJACENCY,
    "activity_profile": SQL_ACTIVITY_PROFILE,
    "transition_entropy": SQL_TRANSITION_ENTROPY,
    "transition_latency": SQL_TRANSITION_LATENCY,
    "event_trigrams": SQL_EVENT_TRIGRAMS,
    "value_outliers": SQL_VALUE_OUTLIERS,
    "square_count": SQL_SQUARE_COUNT,
    "bfs_distances": SQL_BFS_DISTANCES,
    "anf": SQL_ANF,
    "anf_full": SQL_ANF_FULL,
    "diameter_lb": SQL_DIAMETER_LB,
    "hub_coverage": SQL_HUB_COVERAGE,
    "hyperball_harmonic": SQL_HYPERBALL,
    "eccentricity": SQL_ECCENTRICITY,
    "betweenness": SQL_BETWEENNESS,
    "edge_betweenness": SQL_EDGE_BETWEENNESS,
    "closeness": SQL_CLOSENESS,
    "harmonic": SQL_HARMONIC,
    "khop_sample": SQL_KHOP_SAMPLE,
    "connected_components": SQL_CONNECTED_COMPONENTS,
    "cc_two_phase": SQL_CONNECTED_COMPONENTS,
    "ppr_push": SQL_PPR_PUSH,
    "heavy_hitters": SQL_HEAVY_HITTERS,
    "event_pivot": SQL_EVENT_PIVOT,
    "recommend_items": SQL_RECOMMEND,
    "table_diff": SQL_TABLE_DIFF,
    "ssjoin_prefix": SQL_SSJOIN_PREFIX,
    "event_hopping": SQL_EVENT_HOPPING,
    "partition_cut": SQL_PARTITION_CUT,
    "zorder_layout": SQL_ZORDER_LAYOUT,
    "triad_census": SQL_TRIAD_CENSUS,
    "recommend_eval": SQL_RECOMMEND_EVAL,
    "clustering_ari": SQL_CLUSTERING_ARI,
    "attack_robustness": SQL_ATTACK_ROBUSTNESS,
    "failure_robustness": SQL_FAILURE_ROBUSTNESS,
    "edge_percolation": SQL_EDGE_PERCOLATION,
    "embedding_top_pc": SQL_EMBEDDING_TOP_PC,
    "countmin_tokens": SQL_COUNTMIN_TOKENS,
    "bloom_dedup_audit": SQL_BLOOM_DEDUP_AUDIT,
    "hll_daily_users": SQL_HLL_DAILY_USERS,
    "kmv_user_overlap": SQL_KMV_USER_OVERLAP,
    "join_size_estimate": SQL_JOIN_SIZE_ESTIMATE,
    "skew_report": SQL_SKEW_REPORT,
    "k_anonymity": SQL_K_ANONYMITY,
    "triangle_estimate": SQL_TRIANGLE_ESTIMATE,
    "mutual_knn": SQL_MUTUAL_KNN,
    "hitting_time": SQL_HITTING_TIME,
    "salsa": SQL_SALSA,
    "mixture_weights": SQL_MIXTURE_WEIGHTS,
    "dedup_token_stats": SQL_DEDUP_TOKEN_STATS,
    "weighted_sample": SQL_WEIGHTED_SAMPLE,
    "landmark_distances": SQL_LANDMARK_DISTANCES,
    "pagerank_incremental": SQL_PAGERANK_INCREMENTAL,
    "k_core": SQL_K_CORE,
    "k_core_fixpoint": SQL_K_CORE_FIXPOINT,
    "coreness": SQL_CORENESS,
    "triangle_count": SQL_TRIANGLE_COUNT,
    "triangles_per_vertex": SQL_TRIANGLES_PER_VERTEX,
    "graphlet_census": SQL_GRAPHLET_CENSUS,
    "knn_curve": SQL_KNN_CURVE,
    "clustering_by_degree": SQL_CLUSTERING_BY_DEGREE,
    "local_bridges": SQL_LOCAL_BRIDGES,
    "edge_audit": SQL_EDGE_AUDIT,
    "pagerank": SQL_PAGERANK,
    "personalized_pagerank": SQL_PERSONALIZED_PAGERANK,
    "label_propagation": SQL_LABEL_PROPAGATION,
    "label_spreading": SQL_LABEL_SPREADING,
    "customers_without_urgent_orders": SQL_CUSTOMERS_WITHOUT_URGENT_ORDERS,
    "event_props_hourly": SQL_EVENT_PROPS_HOURLY,
    "rollup_lineitem": SQL_ROLLUP_LINEITEM,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dup_cluster_histogram": SQL_DUP_CLUSTER_HISTOGRAM,
    "text_stats": SQL_TEXT_STATS,
    "char_entropy": SQL_CHAR_ENTROPY,
    "daily_active": SQL_DAILY_ACTIVE,
    "retention_cohorts": SQL_RETENTION_COHORTS,
    "hourly_profile": SQL_HOURLY_PROFILE,
    "value_ab": SQL_VALUE_AB,
    "corpus_composition": SQL_CORPUS_COMPOSITION,
    "language_id": SQL_LANGUAGE_ID,
    "token_totals": SQL_TOKEN_TOTALS,
    "fertility_by_lang": SQL_FERTILITY_BY_LANG,
    "jaccard_pairs": SQL_JACCARD_PAIRS,
    "containment_pairs": SQL_CONTAINMENT,
    "ann_cosine_topk": SQL_ANN_COSINE_TOPK,
    "ivf_cosine_topk": SQL_IVF_COSINE_TOPK,
    "embedding_label_stats": SQL_EMBEDDING_LABEL_STATS,
    "centroid_distances": SQL_CENTROID_DISTANCES,
    "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
    "embedding_near_dup_banded": SQL_EMBEDDING_NEAR_DUP_BANDED,
    "minhash_lsh": SQL_MINHASH_LSH,
    "split_leakage": SQL_SPLIT_LEAKAGE,
    "shared_ngram_spans": SQL_SHARED_NGRAM_SPANS,
    "ngram_novelty": SQL_NGRAM_NOVELTY,
    "simhash": SQL_SIMHASH,
    "fingerprint": SQL_FINGERPRINT,
    "text_integrity": SQL_TEXT_INTEGRITY,
    "link_prediction": SQL_LINK_PREDICTION,
    "vertex_similarity": SQL_VERTEX_SIMILARITY,
    "graph_stats": SQL_GRAPH_STATS,
    "degree_hist": SQL_DEGREE_HIST,
    "degree_gini": SQL_DEGREE_GINI,
    "rich_club": SQL_RICH_CLUB,
    "label_assortativity": SQL_LABEL_ASSORTATIVITY,
    "graph_diff": SQL_GRAPH_DIFF,
    "powerlaw_alpha": SQL_POWERLAW_ALPHA,
    "partition_conductance": SQL_PARTITION_CONDUCTANCE,
    "reciprocity": SQL_RECIPROCITY,
    "hits": SQL_HITS,
    "sssp_weighted": SQL_SSSP,
    "shortest_path_tree": SQL_SHORTEST_PATH_TREE,
    "mst": SQL_MST,
    "sparsify": SQL_SPARSIFY,
    "random_walks": SQL_RANDOM_WALKS,
    "node2vec_walks": SQL_NODE2VEC_WALKS,
    "clustering_coeff": SQL_CLUSTERING_COEFF,
    "pagerank_weighted": SQL_PAGERANK_WEIGHTED,
    "k_truss": SQL_K_TRUSS,
    "tfidf_topk": SQL_TFIDF,
    "tfidf_cosine_pairs": SQL_TFIDF_COSINE_PAIRS,
    "ctfidf_topk": SQL_CTFIDF,
    "sessionize": SQL_SESSIONIZE,
    "session_histogram": SQL_SESSION_HISTOGRAM,
    "chi_square": SQL_CHI_SQUARE,
    "funnel_steps": SQL_FUNNEL,
    "asof_view_purchase": SQL_ASOF,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "hash_split": SQL_HASH_SPLIT,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "quantiles_acctbal": SQL_QUANTILES_ACCTBAL,
    "correlation_matrix": SQL_CORRELATION_MATRIX,
    "rfm_segments": SQL_RFM_SEGMENTS,
    "cube_orders": SQL_CUBE_ORDERS,
    "scc": SQL_SCC,
    "bowtie": SQL_BOWTIE,
    "repetition_stats": SQL_REPETITION_STATS,
    "contamination": SQL_CONTAMINATION,
    "community_modularity": SQL_COMMUNITY_MODULARITY,
    "maximal_independent_set": SQL_MAXIMAL_INDEPENDENT_SET,
    "pii_scrub": SQL_PII_SCRUB,
    "greedy_coloring": SQL_GREEDY_COLORING,
    "wl_colors": SQL_WL_COLORS,
    "temporal_reach": SQL_TEMPORAL_REACH,
    "ngram_topk": SQL_NGRAM_TOPK,
    "zipf_fit": SQL_ZIPF_FIT,
    "pmi_collocations": SQL_PMI_COLLOCATIONS,
    "louvain": SQL_LOUVAIN,
    "community_conductance": SQL_COMMUNITY_CONDUCTANCE,
    "katz": SQL_KATZ,
    "eigenvector": SQL_EIGENVECTOR,
    "sequence_pack": SQL_SEQUENCE_PACK,
    "chunk_plan": SQL_CHUNK_PLAN,
    "quality_filter": SQL_QUALITY_FILTER,
    "maximal_matching": SQL_MAXIMAL_MATCHING,
    "coarsen_graph": SQL_COARSEN_GRAPH,
    "interval_join": SQL_INTERVAL_JOIN,
    "fuzzy_match": SQL_FUZZY_MATCH,
    "densest_subgraph": SQL_DENSEST_SUBGRAPH,
    "lm_quality": SQL_LM_QUALITY,
    "lm2_quality": SQL_LM2_QUALITY,
    "source_quality": SQL_SOURCE_QUALITY,
    "fastrp_embed": SQL_FASTRP_EMBED,
    "fastrp_ann_topk": SQL_FASTRP_ANN_TOPK,
    "dedup_split": SQL_DEDUP_SPLIT,
    "embedding_quantize": SQL_EMBEDDING_QUANTIZE,
    "st_distance": SQL_ST_DISTANCE,
    "dsir_weights": SQL_DSIR_WEIGHTS,
    "epoch_shuffle": SQL_EPOCH_SHUFFLE,
    "condensation": SQL_CONDENSATION,
    "textrank_keywords": SQL_TEXTRANK_KEYWORDS,
    "stopword_candidates": SQL_STOPWORD_CANDIDATES,
    "readability": SQL_READABILITY,
    "data_profile": SQL_DATA_PROFILE,
    "nbr_minhash_sim": SQL_NBR_MINHASH_SIM,
    "scd2_intervals": SQL_SCD2_INTERVALS,
    "simrank": SQL_SIMRANK,
    "greedy_doc_cover": SQL_GREEDY_DOC_COVER,
    "interval_union": SQL_INTERVAL_UNION,
    "decayed_activity": SQL_DECAYED_ACTIVITY,
    "event_stationary": SQL_EVENT_STATIONARY,
    "heaps_law": SQL_HEAPS_LAW,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "shipping_priority": SQL_SHIPPING_PRIORITY,
    "revenue_simple": SQL_REVENUE_SIMPLE,
    "cuped_ab": SQL_CUPED_AB,
    "bipartite_check": SQL_BIPARTITE_CHECK,
    "bm25_topk": SQL_BM25_TOPK,
    "hash_embed": SQL_HASH_EMBED,
    "kwic": SQL_KWIC,
    "source_vocab_overlap": SQL_SOURCE_VOCAB_OVERLAP,
    "burstiness": SQL_BURSTINESS,
    "mad_outliers": SQL_MAD_OUTLIERS,
    "kaplan_meier": SQL_KAPLAN_MEIER,
    "cusum_changepoint": SQL_CUSUM_CHANGEPOINT,
    "acf_daily": SQL_ACF_DAILY,
    "moving_stats": SQL_MOVING_STATS,
    "returned_items": SQL_RETURNED_ITEMS,
    "local_supplier_volume": SQL_LOCAL_SUPPLIER_VOLUME,
    "market_share": SQL_MARKET_SHARE,
    "promo_revenue": SQL_PROMO_REVENUE,
    "large_volume_customers": SQL_LARGE_VOLUME_CUSTOMERS,
    "bpe_merges": _bpe_oracle(),
    "peak_hour_load": SQL_PEAK_HOUR_LOAD,
    "eb_source_rates": SQL_EB_SOURCE_RATES,
    "bpe_fertility": _bpe_fertility_oracle(),
    "benford_audit": SQL_BENFORD_AUDIT,
    "fiedler_partition": SQL_FIEDLER_PARTITION,
    "seasonal_anomalies": SQL_SEASONAL_ANOMALIES,
    "shipping_latency": SQL_SHIPPING_LATENCY,
    "source_kl": SQL_SOURCE_KL,
    "closeness_topk": SQL_CLOSENESS_TOPK,
    "lang_agreement": SQL_LANG_AGREEMENT,
    "strength_disparity": SQL_STRENGTH_DISPARITY,
    "tie_strength_overlap": SQL_TIE_STRENGTH_OVERLAP,
    "psi_drift": SQL_PSI_DRIFT,
    "triadic_closure": SQL_TRIADIC_CLOSURE,
    "ewma_control": SQL_EWMA_CONTROL,
    "did_estimate": SQL_DID_ESTIMATE,
    "null_model": SQL_NULL_MODEL,
    "retention_lift": SQL_RETENTION_LIFT,
    "embedding_auc": SQL_EMBEDDING_AUC,
    "ipf_weights": SQL_IPF_WEIGHTS,
    "covariate_balance": SQL_COVARIATE_BALANCE,
    "poisson_bootstrap": SQL_POISSON_BOOTSTRAP,
    "ks_drift": SQL_KS_DRIFT,
    "brand_elasticity": SQL_BRAND_ELASTICITY,
    "entry_exit": SQL_ENTRY_EXIT,
    "dedup_coverage": SQL_DEDUP_COVERAGE,
    "wl_anonymity": SQL_WL_ANONYMITY,
    "partition_audit": SQL_PARTITION_AUDIT,
    "lang_detector_prf": SQL_LANG_DETECTOR_PRF,
    "rrf_fusion": SQL_RRF_FUSION,
    "cohort_ltv": SQL_COHORT_LTV,
    "l_diversity": SQL_L_DIVERSITY,
    "class_balance": SQL_CLASS_BALANCE,
}


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """MS-BFS batched closeness top-10 on the co-purchase link graph."""
    from linkgraph.algos.msbfs import closeness, msbfs

    g = copurchase_graph(spark, sf_dir)
    srcs = g.top_degree_vids(min(64, g.num_vertices()))
    res = msbfs(g, srcs)
    return (
        closeness(g, res)
        .orderBy(F.col("c").desc(), F.col("src").asc())
        .limit(10)
        .select("src", "r", "s", F.round("c", 6).alias("c"))
    )
