"""Neighborhood sampling — GraphSAGE-style k-hop fanout sampling over the
distributed edge table (the GNN-training-data operator of the pipeline
suite).

Per hop: restrict edges to the current frontier (left-semi on src — the
edge table's own partitioning key, so no edge shuffle), rank each
vertex's out-neighbors by a deterministic per-(edge, hop) hash, keep the
`fanout` smallest.  The rank window partitions on src, i.e. on the edge
table's existing partitioning — Spark plans the window without an extra
exchange; the only data movement is the (narrow) frontier list.

Determinism: the rank key is `portable_hash60(src:dst#seed:hop)` with
dst as the tiebreak, so the sample is a pure function of (graph, seeds,
fanouts, seed) — identical across runs, partitionings and engines (the
md5-based hash is bit-identical in DuckDB, which is what makes the
driver query hash-checkable — a seeded `rand()` sample never could be).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph, fits_broadcast
from linkgraph.textops.dedup import portable_hash60


def sample_neighbors(
    graph: LinkGraph,
    frontier: DataFrame,
    fanout: int,
    salt: str = "0",
    est_rows: int | None = None,
) -> DataFrame:
    """One hop: ≤ `fanout` deterministic out-neighbors per frontier vertex.

    frontier: DataFrame with a `vid` column.  Returns (src, dst).

    est_rows: the frontier's row bound.  When `fits_broadcast` passes it
    the semi-join broadcasts and the edge table keeps its own src
    partitioning — the rank window then sorts in place with no exchange.
    khop_sample passes the exact bound |seeds|·Π fanouts.
    """
    f = frontier.select(F.col("vid").alias("src"))
    if est_rows is not None and fits_broadcast(f, est_rows):
        f = F.broadcast(f)
    e = graph.edges.select("src", "dst").join(f, "src", "left_semi")
    h = portable_hash60(
        F.concat_ws(":", F.col("src"), F.col("dst"), F.lit(salt))
    )
    w = Window.partitionBy("src").orderBy(h.asc(), F.col("dst").asc())
    return (
        e.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= fanout)
        .select("src", "dst")
    )


def khop_sample(
    graph: LinkGraph,
    seeds: list[int],
    fanouts: list[int],
    seed: int = 42,
) -> DataFrame:
    """Multi-hop sample: returns (hop, src, dst) — hop h edges go from the
    hop-(h-1) frontier.  The next frontier is the distinct sampled dsts
    (standard GraphSAGE; revisits allowed, so hop h can re-expand a vertex
    already seen at an earlier hop — mirrored exactly by the oracle).
    """
    if not seeds:
        raise ValueError("khop_sample needs a non-empty seed list")
    spark = graph.spark
    frontier = spark.createDataFrame([(int(s),) for s in seeds], "vid long")
    frames = []
    bound = len(seeds)
    for hop, fanout in enumerate(fanouts, start=1):
        samp = sample_neighbors(
            graph, frontier, fanout, salt=f"{seed}:{hop}", est_rows=bound
        ).localCheckpoint(eager=False)
        bound *= max(fanout, 1)
        frames.append(samp.select(F.lit(hop).alias("hop"), "src", "dst"))
        frontier = samp.select(F.col("dst").alias("vid")).distinct()
    out = frames[0]
    for f in frames[1:]:
        out = out.union(f)
    return out.select(
        F.col("hop").cast("int").alias("hop"),
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )


# ---------------------------------------------------------------- hash splits
# Deterministic dataset splitting / per-stratum sampling: hash bucketing
# as a pure projection/filter (rand()-sampling is partition-order-
# dependent and irreproducible across engines, cluster shapes and task
# retries; a salted md5 bucket is identical everywhere, and the same
# portable hash family keeps the DuckDB oracles bit-exact).

BUCKETS = 10_000


def _bucket(id_col: str, salt: str):
    return F.pmod(
        portable_hash60(F.concat(F.col(id_col).cast("string"), F.lit("#" + salt))),
        F.lit(BUCKETS),
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    salt: str = "split",
) -> DataFrame:
    """Adds a `split` column assigning each row to a named split with the
    given weights (must sum to ≤ 1; remainder falls into the last split).

    Pure projection: no shuffle, no state, reproducible everywhere.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(v <= 0 for v in weights.values()):
        raise ValueError(f"weights must be positive: {weights}")
    total = sum(weights.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"weights sum to {total} > 1")
    b = _bucket(id_col, salt)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = b < int(round(acc * BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = names[-1]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fraction: float,
    id_col: str,
    salt: str = "strata",
) -> DataFrame:
    """Deterministic ~fraction sample WITHIN each stratum: the hash bucket
    is salted with the stratum value, so every stratum draws an
    independent, reproducible subset.  Pure filter — no shuffle, and the
    sampled fraction concentrates per stratum rather than globally (the
    property a per-language / per-source corpus cut needs)."""
    if not (0.0 < fraction <= 1.0):
        raise ValueError("fraction must be in (0, 1]")
    b = F.pmod(
        portable_hash60(
            F.concat(
                F.col(id_col).cast("string"),
                F.lit("#" + salt + "#"),
                F.col(strata_col).cast("string"),
            )
        ),
        F.lit(BUCKETS),
    )
    return df.where(b < int(round(fraction * BUCKETS)))


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col,
    k: int,
    salt: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES): each row draws an exponential key
    -ln(u)/w with u = hash-uniform(0,1] from the portable md5 family,
    and the k smallest keys win.  Inclusion probability is proportional
    to weight under without-replacement semantics; the draw is a pure
    projection of (id, weight) — reproducible across engines, cluster
    shapes and task retries, so the same corpus sample can be re-drawn
    bit-identically by the DuckDB oracle.

    Returns (id, weight, ws_key) for the k winners, ties broken by id.
    Plan: projection + global top-k (TakeOrdered, O2) — no full sort,
    no shuffle of anything but the k survivors.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    # (h+1)/2^60 ∈ (0,1]: never 0, so ln(u) is finite; 60-bit resolution
    u = (
        portable_hash60(
            F.concat(F.col(id_col).cast("string"), F.lit("#" + salt))
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(1 << 60))
    key = -F.log(u) / w.cast("double")
    return (
        df.where(w > 0)
        .select(F.col(id_col), w.cast("double").alias("weight"), key.alias("ws_key"))
        .orderBy(F.col("ws_key").asc(), F.col(id_col).asc())
        .limit(k)
    )


def epoch_shuffle(
    df: DataFrame,
    key_col: str = "doc_id",
    seed: int = 1,
    buckets: int | None = None,
) -> DataFrame:
    """(key_col, pos): a deterministic pseudorandom PERMUTATION of the
    table — pos is a bijection onto 0..n-1 in the canonical order
    (bucket, h, key) with h = portable_hash60(key#shuffle#seed) and
    bucket = h mod `buckets`.  The global training-data shuffle: every
    epoch reads the corpus in a different (seeded) order, and because the
    order is a pure function of (key, seed) the permutation is identical
    across runs, partitionings, engines and retries — a `rand()` shuffle
    is none of those.

    NO GLOBAL SORT (the relabel's S2/O1 discipline at 100 TB): the rank
    window partitions on the hash BUCKET (its shuffle spreads rows
    uniformly by construction — the hash is the load balancer), per-bucket
    counts collapse to `buckets` driver scalars, and global positions are
    rank + broadcast bucket offset.  The one full-width sort a naive
    Window.orderBy(h) would do on a single task never happens.
    """
    spark = df.sparkSession
    if buckets is None:
        try:
            # non-numeric on AQE-auto deployments ("auto") — scc.py's lesson
            buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            buckets = 64
    h = portable_hash60(
        F.concat(F.col(key_col).cast("string"), F.lit(f"#shuffle#{seed}"))
    )
    keyed = df.select(
        F.col(key_col),
        h.alias("h"),
        F.pmod(h, F.lit(int(buckets))).alias("bkt"),
    )
    counts = {
        r["bkt"]: r["n"]
        for r in keyed.groupBy("bkt").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    off = F.broadcast(
        spark.createDataFrame(
            [(int(b), int(o)) for b, o in offsets.items()], "bkt bigint, off long"
        )
    )
    w = Window.partitionBy("bkt").orderBy(F.col("h").asc(), F.col(key_col).asc())
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .join(off, "bkt")
        .select(
            F.col(key_col),
            (F.col("rk") - 1 + F.col("off")).cast("long").alias("pos"),
        )
    )


def class_balance_sample(
    df: DataFrame, label_col: str, id_col: str, salt: str = "balance"
) -> DataFrame:
    """Exact class-balanced downsampling: keep min-class-count rows PER
    LABEL, chosen as the lowest portable-md5 hash ranks within each
    label — the deterministic fix for label skew before training (every
    label ends with EXACTLY the same count, unlike fraction-based
    stratified_sample which only equalizes in expectation).  Engine-,
    retry- and partitioning-stable: the kept set is a pure function of
    (id, salt).

    Plan: one count rollup (label cardinality rows, broadcast), one
    rank window PER LABEL partition — the window sorts within labels
    only, no global sort; ties cannot occur (rank key includes the
    unique id)."""
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("_n"))
    floor = counts.agg(F.min("_n").alias("_keep"))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit("#" + salt))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy(label_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .crossJoin(F.broadcast(floor))
        .where(F.col("_rk") <= F.col("_keep"))
        .drop("_rk", "_keep")
    )


def ipf_weights(
    labeled: DataFrame, rounds: int = 5, round_to: int = 6
) -> DataFrame:
    """Iterative proportional fitting / raking [Deming-Stephan, Ann.
    Math. Stat. 1940]: per-cell weights that re-balance a two-axis
    contingency table to UNIFORM target marginals — the two-axis
    generalization of single-axis mixture reweighting, used to rake a
    training corpus toward a target (domain × time, lang × source, …)
    mix without resampling rows.

    Input: (i, j) rows (one per observation).  The corpus pays ONE
    rollup shuffle into the |I|·|J|-cell table; every IPF round is then
    two window-normalizations OVER THE CELL TABLE ONLY (row-scale, then
    column-scale), so the unrolled fixed-`rounds` plan never touches
    corpus-scale data again — the same tiny-table iteration contract as
    the other unrolled oracles.  Output per cell: (i, j, n, m_fit, w)
    with w = m_fit/n the row weight to apply.  Fixed rounds, not a
    convergence probe: the oracle unrolls the identical recursion.
    """
    cells = labeled.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tgt = cells.agg(
        F.sum("n").cast("double").alias("nn"),
        F.countDistinct("i").cast("double").alias("ni"),
        F.countDistinct("j").cast("double").alias("nj"),
    )
    m = cells.crossJoin(F.broadcast(tgt)).withColumn(
        "m", F.col("n").cast("double")
    )
    wi = Window.partitionBy("i")
    wj = Window.partitionBy("j")
    for _ in range(int(rounds)):
        m = m.withColumn(
            "m", F.col("m") * (F.col("nn") / F.col("ni")) / F.sum("m").over(wi)
        )
        m = m.withColumn(
            "m", F.col("m") * (F.col("nn") / F.col("nj")) / F.sum("m").over(wj)
        )
    return m.select(
        "i",
        "j",
        "n",
        F.round("m", round_to).alias("m_fit"),
        F.round(F.col("m") / F.col("n"), round_to).alias("w"),
    )
