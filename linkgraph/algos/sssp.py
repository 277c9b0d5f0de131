"""Weighted single-source(-set) shortest paths — frontier Bellman-Ford.

The weighted companion to the MS-BFS distance kernel: edge table carries
an integer weight column `w`; dist(v) = min over paths from the source
set of Σw.  Relaxation is FRONTIER-BASED (only vertices whose distance
improved last round send messages — the SPFA refinement of Bellman-Ford),
so per-round cost tracks the active frontier exactly like the BFS kernel,
not |V|·|E|.

Plan shape per round (the one-job-per-iteration discipline):

* messages (src, dist) flow through LinkGraph.expand — co-partitioned /
  byte-gated broadcast / salted, the graph's single join dispatch;
* candidate dists = groupBy(dst).min(dist + w) — partial+final min agg,
  the ANP analog for min-plus algebra;
* merge with state via one full-outer join; improved rows are both the
  convergence signal and the next frontier; the frontier count is the
  `linkgraph.iterate.fixpoint` probe that materializes the round.

Exactness: weights and dists are integers — no float drift, so a fixed
round budget is mirrorable bit-for-bit by an unrolled SQL oracle
(rounds=R; extra rounds after convergence are identity), and the
fixpoint mode (rounds=None) is exact at convergence.  Negative weights
are rejected: frontier Bellman-Ford would still converge on them absent
negative cycles, but no cycle detection is attempted here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.iterate import fixpoint


def sssp(
    graph: LinkGraph,
    sources: list[int],
    rounds: int | None = None,
    max_rounds: int = 10_000,
) -> DataFrame:
    """Returns (vid, dist) for every vertex reachable from `sources`
    (unreached vertices are absent, the BFS-distances convention).

    graph.edges must carry an integer `w` >= 0 column alongside (src, dst).
    rounds=R runs exactly R relaxation rounds (SQL-mirrorable); rounds=None
    runs to fixpoint.
    """
    if not sources:
        raise ValueError("sssp needs a non-empty source list")
    if "w" not in graph.edges.columns:
        raise ValueError("graph edge table must carry an integer weight column 'w'")
    spark = graph.spark

    def step(state: DataFrame, metrics: dict) -> DataFrame:
        # the rows improved last round are the frontier
        msgs = state.where(F.col("improved")).select(F.col("vid").alias("src"), "dist")
        cand = (
            graph.expand(msgs, est_rows=max(metrics["frontier_rows"], 1))
            .groupBy("dst")
            .agg(F.min(F.col("dist") + F.col("w")).alias("nd"))
        )
        return (
            state.alias("s")
            .join(cand.alias("c"), F.col("s.vid") == F.col("c.dst"), "full_outer")
            .select(
                F.coalesce(F.col("s.vid"), F.col("c.dst")).alias("vid"),
                F.least(
                    F.coalesce(F.col("s.dist"), F.col("c.nd")),
                    F.coalesce(F.col("c.nd"), F.col("s.dist")),
                ).alias("dist"),
                (F.col("s.dist").isNull() | (F.col("c.nd") < F.col("s.dist"))).alias(
                    "improved"
                ),
            )
        )

    state, _, _ = fixpoint(
        spark.createDataFrame(
            [(int(v), 0, True) for v in sorted(set(sources))],
            "vid long, dist long, improved boolean",
        ),
        step,
        lambda st: {"frontier_rows": st.where(F.col("improved")).count()},
        lambda m, _: rounds is None and m["frontier_rows"] == 0,
        rounds if rounds is not None else max_rounds,
        seed_metrics=lambda _: {"frontier_rows": len(sources)},
    )
    return state.select(
        F.col("vid").cast("long").alias("vid"), F.col("dist").cast("long").alias("dist")
    )


def shortest_path_tree(
    graph: LinkGraph, sources: list[int], rounds: int | None = None
) -> DataFrame:
    """Shortest-path TREE: (vid, dist, parent) where parent is the
    predecessor on a shortest path from the source set — what routing /
    "why is this conversation reachable?" queries need beyond the bare
    distances.  Parent selection is a POST-PASS over the converged
    distance table (the proven `sssp` kernel stays untouched): an edge
    (u, v) is a tree edge iff dist(u) + w == dist(v), and among the
    qualifying u the SMALLEST is chosen — one |E| join + one MIN(struct)
    argmin, deterministic in any engine (integer equality, no float).
    Sources carry parent NULL by definition (excluded from the argmin
    even when a zero-weight in-edge qualifies).
    """
    d = sssp(graph, sources, rounds=rounds)
    src_set = {int(v) for v in sources}
    du = d.select(F.col("vid").alias("src"), F.col("dist").alias("d_u"))
    dv = d.select(F.col("vid").alias("dst"), F.col("dist").alias("d_v"))
    tree = (
        graph.edges.select("src", "dst", "w")
        .join(du, "src")
        .join(dv, "dst")
        .where(F.col("d_u") + F.col("w") == F.col("d_v"))
        .where(~F.col("dst").isin(sorted(src_set)))
        .groupBy("dst")
        .agg(F.min(F.col("src")).alias("parent"))
    )
    return (
        d.join(tree, d.vid == tree.dst, "left")
        .select(
            F.col("vid").cast("long"),
            F.col("dist").cast("long"),
            F.col("parent").cast("long"),
        )
    )
