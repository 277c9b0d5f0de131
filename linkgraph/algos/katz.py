"""Katz centrality — attenuated walk-count power iteration.

x_{t+1}(v) = beta + alpha * sum_{(u,v) in E} x_t(u),  x_0 = beta

counts all walks arriving at v, a walk of length L attenuated by
alpha^L [Katz, Psychometrika 1953].  Converges iff alpha < 1/lambda_max
(spectral radius of the adjacency matrix); lambda_max <= max_degree, so
``alpha=None`` defaults to the always-safe 1/(max_deg + 1) — one agg
over the degree table, engine-portable (integer max).

Unlike PageRank there is no degree normalization and no teleport mass,
so the kernel is even simpler: per iteration ONE frontier-expand
(edges never shuffle; state side hashes to the edge partitioning) +
ONE sum-by-dst aggregate (map-side combined) + the update join, all
fused into a single Spark job by `linkgraph.iterate.fixpoint` with the
delta aggregate as its probe (pagerank.py's shape; state is referenced
twice per round, so the originStats growth that forces parquet severance
in louvain/ktruss stays sub-exponential here, same as PR/CC/LPA).

Fixed-budget mode (tol=0, max_iter=K) is the oracle contract: the
DuckDB mirror replays the same K rounds as a recursive CTE and both
sides round the float result to 9 decimals (pagerank.py's portability
convention — the iterates are identical sums over identical values, so
only association order can differ, below the rounded digit at these
magnitudes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.iterate import fixpoint


def katz(
    graph: LinkGraph,
    alpha: float | None = None,
    beta: float = 1.0,
    tol: float = 1e-9,
    max_iter: int = 50,
) -> DataFrame:
    """Katz centrality over the (symmetric or directed) edge table.

    Returns (vid, katz).  alpha=None -> 1/(max_deg + 1) (guaranteed
    convergent).  tol=0 runs exactly max_iter rounds (oracle mode)."""
    degt = graph.degrees()
    n = graph.num_vertices()
    if alpha is None:
        max_deg = int(degt.agg(F.max("deg")).first()[0] or 0)
        alpha = 1.0 / (max_deg + 1)

    def step(state: DataFrame, _metrics: dict) -> DataFrame:
        msgs = state.select(F.col("vid").alias("src"), F.col("x").alias("m"))
        acc = graph.expand(msgs, est_rows=n).groupBy("dst").agg(F.sum("m").alias("acc"))
        return (
            state.alias("st")
            .join(acc.alias("cb"), F.col("st.vid") == F.col("cb.dst"), "left")
            .select(
                F.col("st.vid").alias("vid"),
                (
                    F.lit(float(beta))
                    + F.lit(float(alpha)) * F.coalesce(F.col("cb.acc"), F.lit(0.0))
                ).alias("x"),
                F.col("st.x").alias("x_old"),
            )
        )

    state, _, _ = fixpoint(
        graph.vertices().select("vid", F.lit(float(beta)).alias("x")),
        step,
        lambda st: {
            "delta": float(st.agg(F.max(F.abs(F.col("x") - F.col("x_old")))).first()[0])
        },
        lambda m, _: tol > 0 and m["delta"] < tol,
        max_iter,
    )
    return state.select("vid", F.col("x").alias("katz"))
