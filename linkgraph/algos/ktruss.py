"""k-truss decomposition by iterative support peel (SURVEY.md K6 family).

The k-truss is the maximal subgraph where every edge participates in at
least k−2 triangles (its SUPPORT) inside the subgraph — the edge-analog of
the k-core vertex peel, and a much stronger cohesion filter (community
cores, spam-link pruning).

Peel round = one triangle enumeration over the surviving undirected edge
set (the J5 2-path + closing-join shape) + an explode of each triangle
onto its three edges + a partial+final count per edge + the support
filter.  The edge set only shrinks, so per-round cost is monotonically
decreasing; equal survivor count ⟹ identical set ⟹ fixpoint (the k-core
convergence argument, lifted to edges).

Each round is one `linkgraph.iterate.fixpoint` iteration over the
survivor table.

Two modes, mirroring the fixed-budget oracle pattern:
  rounds=None — peel to fixpoint;
  rounds=R    — exactly R peel rounds, SQL-mirrorable round for round
                (post-convergence rounds are identity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.iterate import fixpoint


def _supports(t: DataFrame) -> DataFrame:
    """(src, dst, support) for every edge of the src<dst table `t`:
    support = number of triangles the edge closes within `t`."""
    e1 = t.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = t.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    closing = t.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = e1.join(e2, "b").join(closing, ["a", "c"], "inner")
    sides = (
        tri.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(tri.select(F.col("b").alias("src"), F.col("c").alias("dst")))
        .union(tri.select(F.col("a").alias("src"), F.col("c").alias("dst")))
    )
    cnt = sides.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("support"))
    return t.join(cnt, ["src", "dst"], "left").select(
        "src", "dst", F.coalesce(F.col("support"), F.lit(0)).alias("support")
    )


def k_truss(
    graph: LinkGraph, k: int, rounds: int | None = None, max_rounds: int = 1000
) -> DataFrame:
    """Returns (src, dst, support): the src<dst edges of the k-truss (or of
    the R-round peel when `rounds` is given) with their triangle support
    inside the surviving subgraph."""
    if k < 2:
        raise ValueError("k must be >= 2")
    if rounds is not None and rounds < 1:
        raise ValueError("rounds must be >= 1 (or None for fixpoint)")

    def step(t: DataFrame, _m: dict) -> DataFrame:
        return _supports(t.select("src", "dst")).where(F.col("support") >= k - 2)

    t, _, converged = fixpoint(
        graph.edges.where(F.col("src") < F.col("dst")).select("src", "dst"),
        step,
        lambda t, _: {"rows": t.count()},
        # equal survivor count ⟹ identical set (monotone shrink)
        lambda m, prev: rounds is None and m["rows"] == prev.get("rows"),
        rounds if rounds is not None else max_rounds,
    )
    if rounds is None and not converged:
        import warnings

        warnings.warn(
            f"k_truss: max_rounds={max_rounds} exhausted before the peel "
            "fixpoint — returned edge set may still shrink; raise max_rounds",
            stacklevel=2,
        )
    return t.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col("support").cast("long").alias("support"),
    )
