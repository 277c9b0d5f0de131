"""Bidirectional s-t BFS — point-to-point distance by meet-in-the-middle.

The batch kernels (MS-BFS, SSSP) answer one-to-ALL questions; the
point-to-point question ("how far is conversation t from conversation
s?") is strictly cheaper when answered bidirectionally: expanding a
frontier of branching factor b to depth d costs O(b^d) edge traversals
one-sided but O(2·b^{d/2}) when grown from both ends — on a 100 TB graph
with d≈6 that is the difference between touching the whole graph and
touching a few million vertices.

Plan shape per round (one fused `linkgraph.iterate.fixpoint` job over
the state (vid, dist, fwd, meet) of both sides' seen sets):

* pick the SIDE with the smaller measured frontier (the round-4
  broadcast-gate lesson: decisions ride measured counts, never guesses —
  the count is free, it is the convergence action of the previous round);
* one `LinkGraph.expand` frontier join (J1 dispatch: broadcast / salted /
  shuffle) + distinct + anti-join against that side's seen set;
* the new vertices are LEFT-joined against the OTHER side's seen set in
  the same job that materializes them, so the meet test costs no extra
  scan of either seen table beyond the join itself.

Termination is exact, not heuristic: with level-synchronous radii
(r_f, r_b), a common vertex exists iff dist(s,t) <= r_f + r_b, and the
FIRST time any common vertex v appears, min over meets of
d_f(v) + d_b(v) equals dist(s,t) exactly (take v on a shortest path at
distance min(r_f, D) from s: both halves are within the explored radii).
All meets at first-meet time involve the round's new vertices, so the
left join against the other side's seen set sees every candidate.

Directed graphs: pass `graph_rev` (the transpose LinkGraph) so the
backward frontier follows in-edges; on the symmetric derived link graph
the default (same graph both ways) is correct.

Integer-exact end to end — the oracle is a plain recursive-CTE BFS from
s capped at max_rounds levels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import LinkGraph
from linkgraph.iterate import fixpoint, loop_partitions, release


def st_distance(
    graph: LinkGraph,
    s: int,
    t: int,
    max_rounds: int = 16,
    graph_rev: LinkGraph | None = None,
) -> DataFrame:
    """(src_vid, dst_vid, dist): ONE row when t is within `max_rounds`
    hops of s, ZERO rows otherwise (disconnected, or farther than the
    budget) — the empty-result convention of the distance kernels.

    `max_rounds` bounds the TOTAL number of frontier expansions across
    both sides, i.e. exactly the maximum path length findable — mirror it
    with the oracle's recursion depth.
    """
    spark = graph.spark
    schema = "src_vid long, dst_vid long, dist long"
    if graph_rev is None:
        graph_rev = graph  # symmetric link graph: in-edges == out-edges
    s, t = int(s), int(t)
    if s == t:
        return spark.createDataFrame([(s, t, 0)], schema)

    def side(m: dict) -> tuple[bool, int]:
        """The round's side (forward when its frontier is no larger) and
        the level it grows to."""
        forward = m["rows"][True] <= m["rows"][False]
        return forward, m["depth"][forward] + 1

    def step(state: DataFrame, m: dict) -> DataFrame:
        forward, d = side(m)
        mine = state.where(F.col("fwd") == forward)
        other = state.where(F.col("fwd") != forward).select("vid", F.col("dist").alias("dist_o"))
        new = (
            (graph if forward else graph_rev)
            .expand(
                mine.where(F.col("dist") == d - 1).select(F.col("vid").alias("src")),
                est_rows=m["rows"][forward],
            )
            .select(F.col("dst").alias("vid"))
            .distinct()
            .join(mine, "vid", "left_anti")
            # meet probe rides the materializing job: dist_o is the other
            # side's exact level for vertices both sides reached
            .join(other, "vid", "left")
            .select(
                "vid",
                F.lit(d).cast("long").alias("dist"),
                F.lit(forward).alias("fwd"),
                (F.lit(d) + F.col("dist_o")).alias("meet"),
            )
        )
        # coalesce: the union would add a shuffle's worth of partitions a round
        return state.unionByName(new).coalesce(loop_partitions(state))

    def probe(state: DataFrame, m: dict) -> dict:
        forward, d = side(m)
        n_new, meet = (
            state.where((F.col("fwd") == forward) & (F.col("dist") == d))
            .agg(F.count(F.lit(1)), F.min("meet"))
            .first()
        )
        return {
            "rows": {**m["rows"], forward: n_new},
            "depth": {**m["depth"], forward: d},
            "meet": meet,
        }

    state, m, _ = fixpoint(
        spark.createDataFrame(
            [(s, 0, True, None), (t, 0, False, None)],
            "vid long, dist long, fwd boolean, meet long",
        ),
        step,
        probe,
        # a meet is the distance; an exhausted side means none within reach
        lambda m, _: m["meet"] is not None or 0 in m["rows"].values(),
        max_rounds,
        seed_metrics=lambda _: {"rows": {True: 1, False: 1}, "depth": {True: 0, False: 0}},
    )
    release(state)
    rows = [(s, t, int(m["meet"]))] if m.get("meet") is not None else []
    return spark.createDataFrame(rows, schema)
