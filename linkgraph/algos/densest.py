"""Densest-subgraph peeling — Bahmani/Kumar/Vassilvitskii (VLDB 2012).

Charikar's greedy 2-approximation peels the minimum-degree vertex one
at a time — inherently sequential.  The parallel variant peels ALL
vertices whose degree is at most (1+eps) times the current average
degree each round; the density of the best round is a 2(1+eps)-
approximation of the maximum-density subgraph, and the vertex set
shrinks geometrically, so the loop runs O(log |V|) rounds on any graph.

Engine portability: with eps = 1/2 the removal test
``deg(v) <= 1.5 * avg_deg`` over the induced subgraph S becomes the
PURE-INTEGER comparison

    2 * deg_S(v) * |S|  <=  3 * E_dir(S)

(E_dir = directed edge count = 2x undirected; avg undirected degree =
E_dir/|S|), so every round's peel set — and therefore the whole curve —
is exact in any engine, and the DuckDB oracle replays the unrolled
rounds bit-for-bit.  Density is reported as the UNROUNDED double
E_dir/(2*|S|): one IEEE division of two exact integers is bit-identical
in any engine, so no rounding convention is needed (python round() is
banker's, DuckDB/Spark ROUND is half-away — a single division sidesteps
the mismatch entirely).

Each round is one `linkgraph.iterate.fixpoint` iteration over the
surviving edge set:
  * deg_S = the surviving edge table grouped by src (the symmetric
    store means src-side grouping IS the degree — map-side combined);
  * the peel is a filter on the degree table against the (|S|, E_dir)
    the previous probe measured; edge survival is two semi-joins
    against the surviving vertex set;
  * the probe folds (|S|, E_dir) of the new edge set into one aggregate
    over its degree table, the round's only job.

Returns the per-round peel curve: one row per executed round,
(round, n_vertices, e_directed, density, peeled) describing the
subgraph AT THE START of the round and how many vertices that round
removed; the densest prefix is ``max_by(round, density)``.  Callers
wanting the witness subgraph re-run to the argmax round and keep S.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.iterate import fixpoint, release


def densest_subgraph_curve(
    graph: LinkGraph, rounds: int | None = None, max_rounds: int = 64
) -> DataFrame:
    """Peel curve of the (1+1/2)-threshold parallel densest-subgraph
    algorithm.  rounds=R executes exactly R rounds (oracle contract);
    rounds=None peels until the graph is empty (budget-warned).
    graph must be symmetric."""
    if not graph.symmetric:
        raise ValueError("densest_subgraph_curve needs a symmetric graph")
    spark = graph.spark

    def step(edges: DataFrame, metrics: dict) -> DataFrame:
        # peel: 2*deg*|S| <= 3*E_dir  <=>  deg <= 1.5 * avg
        keep = (
            edges.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .where(2 * F.col("deg") * F.lit(metrics["n"]) > 3 * F.lit(metrics["e_dir"]))
            .select("src")
        )
        return edges.join(keep, "src", "left_semi").join(
            keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
        )

    def probe(edges: DataFrame, prev: dict | None = None) -> dict:
        stats = (
            edges.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .agg(F.count("*").alias("n"), F.sum("deg").alias("e_dir"))
            .first()
        )
        n, e_dir = int(stats["n"] or 0), int(stats["e_dir"] or 0)
        curve = list(prev["curve"]) if prev else []
        if prev and prev["n"]:
            # the round's row describes the subgraph it started from
            curve.append((len(curve) + 1, prev["n"], prev["e_dir"], prev["n"] - n))
        return {"n": n, "e_dir": e_dir, "curve": curve}

    state, m, _ = fixpoint(
        graph.edges.select("src", "dst"),
        step,
        probe,
        lambda m, _: m["n"] == 0,
        rounds if rounds is not None else max_rounds,
        seed_metrics=probe,
    )
    release(state)
    curve = m["curve"]
    if rounds is None and curve and curve[-1][1] - curve[-1][3] > 0:
        import warnings

        warnings.warn(
            "densest_subgraph_curve: round budget exhausted before the graph "
            "drained — the curve is a valid prefix but may miss denser rounds",
            stacklevel=2,
        )
    return spark.createDataFrame(
        [(r, n, e, e / (2.0 * n), p) for r, n, e, p in curve],
        "round int, n_vertices long, e_directed long, density double, peeled long",
    )
