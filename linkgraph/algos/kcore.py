"""k-core decomposition by iterative peel (SURVEY.md K6 family).

The k-core is the maximal induced subgraph where every vertex has degree
≥ k.  Peel round = two semi-joins restricting the cached edge table to the
survivors plus one degree aggregate — one `linkgraph.iterate.fixpoint`
iteration whose state is the survivor set.  Survivors only shrink, so the
edges among the latest survivors are the edges every earlier round kept.
The survivor list is a byte-gated broadcast (map-side semi-joins).

Two modes, mirroring the fixed-budget pattern the PR/LPA oracles use:
  rounds=None — peel to fixpoint (survivor count stable);
  rounds=R    — exactly R peel rounds, SQL-mirrorable round for round
                (once the peel converges, further rounds are identity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from linkgraph.graph import LinkGraph, fits_broadcast
from linkgraph.iterate import count_changed, fixpoint


def k_core(graph: LinkGraph, k: int, rounds: int | None = None) -> DataFrame:
    """Returns (vid, core_deg): vertices of the k-core (or of the R-round
    peel when `rounds` is given) with their degree inside the surviving
    induced subgraph.

    Degrees are out-degrees over the graph's edge table; on symmetric
    (undirected-closure) graphs that is the standard undirected k-core.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    edges = graph.edges.select("src", "dst")

    def induced(keep: DataFrame, survivors: int) -> DataFrame:
        # a broadcast survivor list makes both semi-joins map-side filters
        # over the edge cache
        if fits_broadcast(keep, survivors):
            keep = F.broadcast(keep)
        return (
            edges.join(keep, edges.src == F.col("vid"), "left_semi")
            .join(keep, edges.dst == F.col("vid"), "left_semi")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("core_deg"))
        )

    def step(keep: DataFrame, metrics: dict) -> DataFrame:
        return (
            induced(keep, metrics["survivors"])
            .where(F.col("core_deg") >= k)
            .select(F.col("src").alias("vid"))
        )

    def survivor_count(keep: DataFrame, _m: dict | None = None) -> dict:
        return {"survivors": keep.count()}

    keep, metrics, _ = fixpoint(
        graph.vertices(),
        step,
        survivor_count,
        # monotone shrink: an unchanged survivor count is an unchanged set
        lambda m, prev: rounds is None and m["survivors"] == prev["survivors"],
        # rounds=None: every round before the fixpoint drops a vertex
        rounds if rounds is not None else 2**63,
        seed_metrics=survivor_count,
    )
    # the survivors' degrees in the subgraph they induce: at the fixpoint
    # every survivor has degree >= k there
    return induced(keep, metrics["survivors"]).select(
        F.col("src").cast("long").alias("vid"),
        F.col("core_deg").cast("long").alias("core_deg"),
    )


def coreness(
    graph: LinkGraph, rounds: int | None = None, max_rounds: int = 100
) -> DataFrame:
    """Per-vertex core numbers via the H-index iteration [Lü, Zhou,
    Zhang & Stanley, Nature Comms 2016, public formulation]:

        c_0(v) = deg(v);   c_{t+1}(v) = H-index of {c_t(u) : u ∈ N(v)}

    converges monotonically DOWN to coreness(v) — the full decomposition
    the fixed-k `k_core` can't give without O(k_max) peels (each peel
    scans the surviving graph; on a 100-degeneracy graph that is ~100
    passes, vs the handful of H-index sweeps this takes).

    Per round: one c-lookup join onto the edge table (co-partitioned on
    src), one per-vertex rank window over neighbor values (the H-index
    needs the ordered scan: h = max_i min(i, x_i) with x sorted desc —
    an |E|-row exchange per round, the honest cost), one MAX aggregate.
    Fixed `rounds` is the oracle contract; rounds=None iterates to the
    changed-count fixpoint under `max_rounds` (warns on exhaustion).
    All-integer state — no rounding convention anywhere.
    """
    from pyspark.sql import Window

    def step(c: DataFrame, _metrics: dict) -> DataFrame:
        cd = c.select(F.col("vid").alias("dst"), F.col("c").alias("cd"))
        ev = graph.edges.select("src", "dst").join(cd, "dst")
        w = Window.partitionBy("src").orderBy(F.col("cd").desc(), F.col("dst").asc())
        new = (
            ev.select("src", "cd", F.row_number().over(w).alias("rn"))
            .groupBy("src")
            .agg(F.max(F.least(F.col("rn").cast("long"), F.col("cd"))).alias("c"))
            .select(F.col("src").alias("vid"), "c")
        )
        if rounds is None:
            # the previous value rides along for the changed-count probe
            new = new.join(c.select("vid", F.col("c").alias("pc")), "vid", "left")
        return new

    c, _, converged = fixpoint(
        graph.degrees().select("vid", F.col("deg").cast("long").alias("c")),
        step,
        lambda st, _: (
            {"changed": count_changed(st, "c", "pc")}
            if rounds is None
            else {"rows": st.count()}
        ),
        lambda m, _: m.get("changed") == 0,
        rounds if rounds is not None else max_rounds,
    )
    if rounds is None and not converged:
        import warnings

        warnings.warn(
            f"coreness: max_rounds={max_rounds} exhausted before the "
            "H-index fixpoint — values may still decrease",
            stacklevel=2,
        )
    return c.select(F.col("vid").cast("long"), F.col("c").cast("long").alias("coreness"))
