"""Betweenness centrality — sampled Brandes, fully relational (K6 family).

Brandes' algorithm [Brandes 2001] re-expressed as level-synchronous
DataFrame passes over the batch of sample sources ("roots"), the
Brandes–Pich sampling estimator (bc ≈ n/|S| · Σ_{s∈S} δ_s) for the
at-scale path.  `_brandes` runs both passes, each one
`linkgraph.iterate.fixpoint` loop (one fused job per level, lineage cut
and the superseded state released every level):

* forward: the state is (root, vid, dist, sigma) for every vertex
  reached so far.  The deepest level's rows expand through
  `LinkGraph.expand` (the same J1/J2 dispatch as MS-BFS/PageRank —
  broadcast when small, salted shuffle on hubby graphs), σ is a `sum`
  aggregate keyed on (root, dst), and a compound-key anti-join against
  the state keeps the newly reached vertices.  The probe counts the new
  level: its size is the next expand's est_rows, and 0 ends the pass;
* backward: the same rows plus δ, filled from the deepest level inward:
  level d expands, joins level d+1 on (root, dst) and sums
  δ(u) = Σ_{w∈succ(u)} σ_u/σ_w · (1+δ_w) — one expand + join + aggregate
  per level.  Level 0 is never filled: neither estimator reads a root's
  own δ.

`betweenness` sums δ per vertex over the final state; `edge_betweenness`
joins the edges with it once on (root, dist+1) and sums the same terms
per edge.

σ stays exact in doubles (integer-valued below 2^53); δ is a float sum
whose only cross-engine divergence vs the unrolled DuckDB oracle is
summation order (~1e-16 relative), absorbed by round-6 at the driver.

On symmetric (undirected-closure) graphs each unordered pair is counted
in both directions, i.e. values are 2× the undirected-textbook bc —
consistent with the oracle, which walks the same directed edge table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph, fits_broadcast
from linkgraph.iterate import fixpoint, loop_partitions, release


def _brandes(
    graph: LinkGraph, roots: list[int], max_levels: int
) -> tuple[DataFrame, int]:
    """(root, vid, dist, sigma, delta) for every vertex within `max_levels`
    hops of a root — its BFS level, shortest-path count and dependency δ
    (0 at the roots, whose δ neither estimator reads) — and its row
    count."""
    spark = graph.spark

    def forward(state: DataFrame, m: dict) -> DataFrame:
        lvl = m["level"] + 1
        msgs = state.where(F.col("dist") == lvl - 1).select(
            F.col("vid").alias("src"), "root", "sigma"
        )
        agg = (
            graph.expand(msgs, est_rows=max(m["rows"][-1], 1))
            .groupBy("root", "dst")
            .agg(F.sum("sigma").alias("sigma"))
        )
        seen = state.select(F.col("root").alias("sroot"), "vid")
        new = agg.join(
            seen, (agg.root == seen.sroot) & (agg.dst == seen.vid), "left_anti"
        ).select("root", F.col("dst").alias("vid"), F.lit(lvl).alias("dist"), "sigma")
        # coalesce: the union would add a shuffle's worth of partitions a level
        return state.unionByName(new).coalesce(loop_partitions(state))

    def level_count(state: DataFrame, m: dict) -> dict:
        lvl = m["level"] + 1
        n = state.agg(F.sum(F.when(F.col("dist") == lvl, 1).otherwise(0))).first()[0]
        return {"level": lvl, "rows": m["rows"] + [int(n or 0)]}

    seed = spark.createDataFrame(
        [(int(r), int(r), 0, 1.0) for r in roots],
        "root long, vid long, dist int, sigma double",
    )
    reached, fm, _ = fixpoint(
        seed,
        forward,
        level_count,
        lambda m, _: m["rows"][-1] == 0,
        max_levels,
        seed_metrics=lambda _: {"level": 0, "rows": [len(roots)]},
    )
    level_rows = [n for n in fm["rows"] if n > 0]
    deepest = len(level_rows) - 1

    def backward(state: DataFrame, m: dict) -> DataFrame:
        d = m["level"] - 1
        u = state.where(F.col("dist") == d)
        # the planner sees only the whole state's size behind a level
        # filter, so the level frames are gated on the MEASURED level rows:
        # a dense middle level is Θ(|roots|·|V|) rows and must not broadcast
        w = state.where(F.col("dist") == d + 1).select("root", "vid", "sigma", "delta")
        if fits_broadcast(w, level_rows[d + 1]):
            w = F.broadcast(w)
        succ = graph.expand(
            u.select(F.col("vid").alias("src"), F.col("root").alias("uroot"),
                     F.col("sigma").alias("usigma")),
            est_rows=level_rows[d],
        )
        contrib = (
            succ.join(w, (succ.uroot == w.root) & (succ.dst == w.vid))
            .groupBy("uroot", "src")
            .agg(
                F.sum(F.col("usigma") / F.col("sigma") * (F.lit(1.0) + F.col("delta")))
                .alias("d")
            )
        )
        if fits_broadcast(contrib, level_rows[d]):
            contrib = F.broadcast(contrib)
        filled = u.join(
            contrib, (u.root == contrib.uroot) & (u.vid == contrib.src), "left"
        ).select("root", "vid", "dist", "sigma", F.coalesce("d", F.lit(0.0)).alias("delta"))
        return state.where(F.col("dist") != d).unionByName(filled).coalesce(loop_partitions(state))

    out, _, _ = fixpoint(
        reached.withColumn("delta", F.lit(0.0)),
        backward,
        lambda st, m: {"level": m["level"] - 1, "rows": st.count()},
        lambda m, _: False,
        deepest - 1,
        seed_metrics=lambda _: {"level": deepest},
    )
    release(reached)
    return out, sum(level_rows)


def betweenness(
    graph: LinkGraph,
    roots: list[int],
    max_levels: int = 8,
    scale: bool = True,
) -> DataFrame:
    """Returns (vid, bc): estimated betweenness from the `roots` sample.

    scale=True applies the Brandes–Pich factor n/|roots| so the estimate
    targets the full-graph bc; scale=False returns the raw δ sums
    (exact bc when roots = all vertices).  Vertices on no sampled
    shortest path are omitted (bc estimate 0).
    """
    if not roots:
        raise ValueError("betweenness needs a non-empty root sample")
    factor = (float(graph.num_vertices()) / len(roots)) if scale else 1.0
    return (
        _brandes(graph, roots, max_levels)[0]
        .where(F.col("dist") > 0)
        .groupBy("vid")
        .agg(F.sum("delta").alias("d"))
        .select(
            F.col("vid").cast("long").alias("vid"),
            F.round(F.col("d") * F.lit(factor), 6).alias("bc"),
        )
    )


def edge_betweenness(
    graph: LinkGraph,
    roots: list[int],
    max_levels: int = 8,
    scale: bool = True,
    topk: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Sampled-Brandes EDGE betweenness: (u, v, ebc) over directed edges
    on sampled shortest paths — the Girvan–Newman community-detection
    step and the standard "which links carry the traffic?" ranking.

    The per-edge dependency is exactly the term the vertex backward pass
    aggregates: for u at depth d with successor w, contribution
    σ_u/σ_w · (1 + δ_w) flows along edge (u, w) — so this runs the same
    passes as `betweenness` and sums those terms per edge over the final
    state, in one join of the edges with it on (root, dist+1).  Edges on
    no sampled shortest path are omitted (estimate 0); `scale` applies
    the Brandes–Pich n/|roots| factor.  Determinism: rounded ebc with
    (u, v) tie-breaks orders the optional top-k.
    """
    if not roots:
        raise ValueError("edge_betweenness needs a non-empty root sample")
    factor = (float(graph.num_vertices()) / len(roots)) if scale else 1.0
    state, rows = _brandes(graph, roots, max_levels)
    succ = graph.expand(
        state.select(F.col("vid").alias("src"), F.col("root").alias("uroot"),
                     F.col("dist").alias("udist"), F.col("sigma").alias("usigma")),
        est_rows=rows,
    )
    out = (
        succ.join(
            state,
            (succ.uroot == state.root)
            & (succ.dst == state.vid)
            & (succ.udist + 1 == state.dist),
        )
        .groupBy(F.col("src").alias("u"), F.col("dst").alias("v"))
        .agg(
            F.round(
                F.sum(F.col("usigma") / F.col("sigma") * (F.lit(1.0) + F.col("delta")))
                * F.lit(factor),
                round_to,
            ).alias("ebc")
        )
        .select(F.col("u").cast("long"), F.col("v").cast("long"), "ebc")
    )
    if topk is not None:
        out = out.orderBy(
            F.col("ebc").desc(), F.col("u").asc(), F.col("v").asc()
        ).limit(topk)
    return out
