"""Salted skew join for hub vertices (SURVEY.md J2; north_star "salted skew
handling for hub conversations").

The frontier-expand join shuffles msg rows to the reducer owning `src`; a
hub vertex with 10^7 out-edges lands them all on one task.  Fix: split each
hub's edges across S salt buckets (salt = hash(dst) % S, precomputed once on
the edge table), replicate the hub's frontier row into all S buckets, and
join on (src, salt).  Results are identical to the unsalted join (tested);
only the physical row distribution changes.  AQE skew-join is kept on as a
runtime backstop for moderate skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from linkgraph.graph import LinkGraph


class SaltedEdges:
    """Edge table pre-salted for hub sources.

    hubs: vertices with out-degree > hub_threshold get salt = hash(dst) % s;
    non-hubs keep salt 0.  Frontiers are expanded with `explode(salts)` only
    for hub rows, so replication cost is bounded by |hub ∩ frontier| * s.
    """

    def __init__(self, graph: LinkGraph, hub_threshold: int, s: int = 8):
        self.s = s
        deg = graph.degrees()
        hubs = deg.where(F.col("deg") > hub_threshold).select(
            F.col("vid").alias("src"), F.lit(True).alias("is_hub")
        )
        self.hubs = hubs.persist(StorageLevel.MEMORY_AND_DISK)
        e = graph.edges.join(F.broadcast(hubs), "src", "left")
        salted = e.select(
            "src",
            "dst",
            F.when(
                F.col("is_hub").isNotNull(), F.pmod(F.xxhash64("dst"), F.lit(s))
            )
            .otherwise(F.lit(0))
            .cast("int")
            .alias("salt"),
        )
        # The salted join keys on (src, salt) — the cache must be
        # partitioned on THAT compound key, or EnsureRequirements re-shuffles
        # the full |E| table on every join (measured: the src-partitioned
        # cache made the salted path ~2x SLOWER than plain; the whole point
        # of the build-once cache is that only the frontier moves per
        # iteration).  One build-time shuffle, paid once.
        p = graph.edge_partitions()
        self.edges = (
            salted.repartition(p, "src", "salt")
            .sortWithinPartitions("src", "salt", "dst")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    def expand_frontier(self, frontier: DataFrame) -> DataFrame:
        """frontier has a `src` column; returns it with a `salt` column,
        hub rows replicated into all s buckets."""
        f = frontier.join(F.broadcast(self.hubs), "src", "left")
        salts = F.when(
            F.col("is_hub").isNotNull(),
            F.sequence(F.lit(0), F.lit(self.s - 1)),
        ).otherwise(F.array(F.lit(0)))
        return (
            f.withColumn("salts", salts)
            .withColumn("salt", F.explode("salts"))
            .withColumn("salt", F.col("salt").cast("int"))
            .drop("is_hub", "salts")
        )

    def join_frontier(self, frontier: DataFrame) -> DataFrame:
        """Equivalent of edges.join(frontier, "src") with salted distribution."""
        fs = self.expand_frontier(frontier)
        return self.edges.join(fs, ["src", "salt"]).drop("salt")

    def unpersist(self):
        self.edges.unpersist()
        self.hubs.unpersist()


def key_skew_report(df: DataFrame, cols: list[str]) -> DataFrame:
    """Join-key skew diagnostics per key column: (key_col, n_rows,
    n_keys, max_freq, med_freq, p99_freq, top1_share).

    This is the measurement that DECIDES the salting question the rest of
    this module answers: top1_share approximates the single-reducer load
    fraction of a shuffle on that key, and max/median frequency is the
    hub-to-typical ratio the auto-salt threshold (graph.py) keys off.
    One groupBy per column builds the frequency table; the summary is a
    one-row aggregate over it (exact percentile — the frequency table is
    |distinct keys| rows, the bounded-dimension argument of
    quantiles_acctbal; approx_percentile is the 100 TB swap-in).
    """
    if not cols:
        raise ValueError("key_skew_report: need at least one key column")
    outs = []
    for c in cols:
        freq = df.groupBy(F.col(c).alias("k")).agg(F.count(F.lit(1)).alias("f"))
        outs.append(
            freq.agg(
                F.lit(c).alias("key_col"),
                F.sum("f").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.max("f").cast("long").alias("max_freq"),
                F.round(F.expr("percentile(f, 0.5)"), 6).alias("med_freq"),
                F.round(F.expr("percentile(f, 0.99)"), 6).alias("p99_freq"),
                F.round(F.max("f") / F.sum("f"), 6).alias("top1_share"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.union(o)
    return out


def partition_cut_report(edges: DataFrame, parts: int = 32) -> DataFrame:
    """Edge-cut comparison of the two partitioning strategies the engine
    actually uses: for each edge, do src and dst land in the same
    partition under (a) HASH partitioning (portable_hash60(vid) mod P —
    the default shuffle placement) and (b) RANGE partitioning over the
    vid space (floor(vid·P/(max+1)) — what the degree-desc relabel +
    range write produces, where neighbor ids are deliberately close)?

    Output: one row per strategy — (partitioner, n_edges, cut_edges,
    cut_frac).  cut_frac is the fraction of frontier-expand messages
    that cross executors, i.e. the network share of every iterative
    kernel's per-round shuffle; measuring it is how you decide whether
    a relabel+range layout is worth the write.  One scan, two map-side
    aggregates, no shuffle of the edge table; md5-derived hashing keeps
    the report engine-portable (the DuckDB oracle reproduces it bit for
    bit).
    """
    from linkgraph.textops.dedup import portable_hash60

    mx = edges.agg(
        F.greatest(F.max("src"), F.max("dst")).alias("m")
    ).first()["m"]
    hb = lambda c: F.pmod(portable_hash60(F.col(c).cast("string")), F.lit(parts))
    rb = lambda c: F.floor(F.col(c) * parts / (int(mx) + 1))
    tagged = edges.select(
        (hb("src") != hb("dst")).cast("long").alias("hcut"),
        (rb("src") != rb("dst")).cast("long").alias("rcut"),
    )
    agg = tagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("hcut").alias("hc"),
        F.sum("rcut").alias("rc"),
    ).first()
    spark = edges.sparkSession
    n = int(agg["n"] or 0)
    rows = [
        ("hash", n, int(agg["hc"] or 0)),
        ("range", n, int(agg["rc"] or 0)),
    ]
    return spark.createDataFrame(
        [
            (p, nn, c, round(c / nn, 6) if nn else 0.0)
            for p, nn, c in rows
        ],
        "partitioner string, n_edges long, cut_edges long, cut_frac double",
    )
