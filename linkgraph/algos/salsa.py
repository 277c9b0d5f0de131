"""SALSA hubs & authorities (Lempel & Moran, WWW9 2000) — the
degree-normalized cousin of HITS: scores are the stationary masses of
alternating random walks on the directed graph, so a vertex pointing at
1000 targets spreads 1/1000 of its mass to each instead of replicating
it (HITS's tyranny-of-the-dense failure mode).

Fixed-budget power iteration, mirrorable by an unrolled SQL oracle:

    auth(v) = Σ_{u→v} hub(u)  / outdeg(u)
    hub(u)  = Σ_{u→v} auth(v) / indeg(v)

Both half-step matrices are row-stochastic, so total mass is conserved
EXACTLY each round — no normalization aggregate is needed (unlike HITS's
per-half-step L2 norm), which makes every round one expand job per
direction and nothing else.  hub starts uniform over the hub side
(outdeg > 0); authorities outside any walk (indeg = 0) and hubs outside
any walk (outdeg = 0) report 0.

Plan shape: the forward half-step flows hub/outdeg through the
src-partitioned edge table via LinkGraph.expand; the backward half-step
uses a transpose LinkGraph built once (the CSR/CSC pairing hits.py
documents).  Degrees ride the score state (vid, od, idg, hub, auth) —
degree tables are joined once up front, never per round — and both
half-steps of a round are one `linkgraph.iterate.fixpoint` iteration (one
fused job).  Rounded to `round_to` for cross-engine comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.iterate import fixpoint


def salsa(
    graph: LinkGraph,
    rounds: int = 8,
    round_to: int | None = 6,
    transpose: LinkGraph | None = None,
) -> DataFrame:
    """Returns (vid, hub, auth) over all vertices of the directed graph."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    spark = graph.spark
    own_transpose = transpose is None
    gt = transpose or LinkGraph(
        graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        materialize=False,
    )
    e = graph.edges
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("idg"))
    verts = (
        graph.vertices()
        .select("vid")
        .join(outdeg.withColumnRenamed("src", "vid"), "vid", "left")
        .join(indeg.withColumnRenamed("dst", "vid"), "vid", "left")
        .select("vid", F.coalesce("od", F.lit(0)).alias("od"),
                F.coalesce("idg", F.lit(0)).alias("idg"))
    )
    n = graph.num_vertices()

    def flow(g: LinkGraph, scores: DataFrame, x: str, deg_col: str) -> DataFrame:
        """(dst, acc): scores[x]/deg flowed along g's edges, summed per
        destination."""
        msgs = scores.where(F.col(deg_col) > 0).select(
            F.col("vid").alias("src"), (F.col(x) / F.col(deg_col)).alias("x")
        )
        return g.expand(msgs, est_rows=n).groupBy("dst").agg(F.sum("x").alias("acc"))

    def step(state: DataFrame, _m: dict) -> DataFrame:
        """One round: auth forward (/outdeg), then hub over the transpose
        (/indeg).  Explicit zero rows keep the off-walk side reportable."""
        a_raw = flow(graph, state, "hub", "od")
        a = (
            state.join(a_raw, state["vid"] == a_raw["dst"], "left")
            .select("vid", "od", "idg", F.coalesce("acc", F.lit(0.0)).alias("auth"))
        )
        h_raw = flow(gt, a, "auth", "idg")
        return a.join(h_raw, a["vid"] == h_raw["dst"], "left").select(
            "vid", "od", "idg", F.coalesce("acc", F.lit(0.0)).alias("hub"), "auth"
        )

    n_hub = verts.where(F.col("od") > 0).count()
    if n_hub == 0:
        return spark.createDataFrame([], "vid long, hub double, auth double")
    state, _, _ = fixpoint(
        # hub mass 1/n_hub on every vertex with an out-edge
        verts.select(
            "vid", "od", "idg",
            F.when(F.col("od") > 0, F.lit(1.0 / n_hub)).otherwise(F.lit(0.0)).alias("hub"),
            F.lit(0.0).alias("auth"),
        ),
        step,
        lambda st, _: {"rows": st.count()},
        lambda m, _: False,
        rounds,
    )

    hub_col, auth_col = F.col("hub"), F.col("auth")
    if round_to is not None:
        hub_col = F.round(hub_col, round_to) + F.lit(0.0)
        auth_col = F.round(auth_col, round_to) + F.lit(0.0)
    out = state.select("vid", hub_col.alias("hub"), auth_col.alias("auth"))
    if own_transpose:
        gt.unpersist()
    return out
