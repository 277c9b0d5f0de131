"""Truncated hitting time to a seed set (Sarkar & Moore, UAI 2007).

h_T(v) = expected number of random-walk steps from v until the walk
first enters the seed set, truncated at horizon T:

    h_t(seed) = 0
    h_t(v)    = 1 + (1/deg v) Σ_{u ∈ N(v)} h_{t-1}(u),   h_0 ≡ 0

h_t(v) ≤ t by induction, so vertices the walk cannot reach inside the
horizon report exactly T — the truncation that makes the quantity finite
on graphs with absorbing corners, and what makes the fixed-budget
iteration mirrorable by an unrolled SQL oracle (the PR/HITS pattern).
Truncated hitting time is the classic proximity score for
recommendation / link prediction: unlike shortest-path distance it
rewards MANY short paths, and unlike PPR it is an expected cost, so
scores are directly comparable across seed sets.

Plan shape: one expand job per round over the symmetric edge table (the
PageRank discipline) — messages carry h_{t-1}, the bitwise identical
degree division rides the post-aggregate projection, and the rounds run on
`linkgraph.iterate.fixpoint` (one fused job per round, lineage cut every
round, each superseded round's state released).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.iterate import fixpoint


def hitting_time(
    graph: LinkGraph,
    seeds: list[int],
    rounds: int = 8,
    round_to: int | None = 6,
) -> DataFrame:
    """Returns (vid, hit) over all vertices; hit ∈ [0, rounds]."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if not seeds:
        raise ValueError("hitting_time needs at least one seed")
    verts = graph.degrees().withColumn(
        "is_seed", F.col("vid").isin([int(s) for s in seeds])
    )
    n = graph.num_vertices()

    def step(h: DataFrame, _metrics: dict) -> DataFrame:
        msgs = h.select(F.col("vid").alias("src"), "x")
        acc = graph.expand(msgs, est_rows=n).groupBy("dst").agg(F.sum("x").alias("acc"))
        return (
            verts.alias("v")
            .join(acc.alias("a"), F.col("v.vid") == F.col("a.dst"), "left")
            .select(
                F.col("v.vid").alias("vid"),
                F.when(F.col("v.is_seed"), F.lit(0.0))
                .otherwise(
                    F.lit(1.0) + F.coalesce(F.col("a.acc"), F.lit(0.0)) / F.col("v.deg")
                )
                .alias("x"),
            )
        )

    h, _, _ = fixpoint(
        verts.select("vid", F.lit(0.0).alias("x")),
        step,
        lambda st, _: {"rows": st.count()},
        lambda m, _: False,
        rounds,
    )
    out_col = F.col("x")
    if round_to is not None:
        out_col = F.round(out_col, round_to) + F.lit(0.0)
    return h.select("vid", out_col.alias("hit"))
