"""Eigenvector centrality — power iteration, normalization deferred.

x_{t+1} = A^T x_t with x_0 = 1, scaled ONCE at the end by max(x_K) —
mathematically identical to the textbook per-round L-inf normalization
(scaling commutes with the linear map), but it keeps every round the
exact PR/Katz kernel shape (ONE frontier-expand + ONE sum-by-dst + the
update join, fused into a single job by `linkgraph.iterate.fixpoint`)
AND makes the fixed-round contract expressible as a plain recursive-CTE
oracle: per-round normalization would need an aggregate over the
in-flight recursive term, which SQL's recursive CTEs cannot express.

Deferred scaling bounds the rounds budget: iterates grow like
lambda_max^K <= max_deg^K, so K < 300 / log10(max_deg) keeps doubles
finite (max_deg 10^6 ⟹ K <= 49; the default K=8 is safe on any graph
whose degrees fit in a long).  Division by one exact MAX (a comparison,
not a sum) + round-6 gives engine-portable ratios: at magnitude 1e17
the summation-order noise is ~1e-15 relative, far below the rounded
digit.

Vertices with zero in-degree hold centrality 0 (they receive no walk
mass) and are retained in the output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.iterate import fixpoint


def eigenvector_centrality(graph: LinkGraph, rounds: int = 8) -> DataFrame:
    """Returns (vid, ec) with max(ec) = 1 after `rounds` power steps."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    n = graph.num_vertices()

    def step(state: DataFrame, _metrics: dict) -> DataFrame:
        msgs = state.select(F.col("vid").alias("src"), F.col("x").alias("m"))
        acc = graph.expand(msgs, est_rows=n).groupBy("dst").agg(F.sum("m").alias("acc"))
        return (
            state.alias("st")
            .join(acc.alias("cb"), F.col("st.vid") == F.col("cb.dst"), "left")
            .select(
                F.col("st.vid").alias("vid"),
                F.coalesce(F.col("cb.acc"), F.lit(0.0)).alias("x"),
            )
        )

    state, _, _ = fixpoint(
        graph.vertices().select("vid", F.lit(1.0).alias("x")),
        step,
        lambda st: {"rows": st.count()},
        lambda m, _: False,
        rounds,
    )
    mx = state.agg(F.max("x").alias("mx"))
    return (
        state.crossJoin(F.broadcast(mx))
        .select(
            "vid",
            F.round(
                F.col("x") / F.when(F.col("mx") > 0, F.col("mx")), 6
            ).alias("ec"),
        )
    )
