"""k-core decomposition by iterative peel (SURVEY.md K6 family).

The k-core is the maximal induced subgraph where every vertex has degree
≥ k.  Peel round = one degree aggregate over the surviving edge set plus
two semi-joins restricting edges to surviving endpoints — all relational,
co-partitioned on src under `iteration_plan` (AQE off, shuffled-hash),
lineage cut per round via lazy localCheckpoint materialized by the
survivor-count action (the PR/CC/LPA one-job-per-iteration shape).

Scale posture: the surviving edge set only shrinks, so per-round cost is
monotonically decreasing; the degree aggregate is a partial+final count
on the existing src partitioning (no extra exchange for the src-side
semi-join); the dst-side semi-join shuffles the (narrow) survivor list,
never the text/payload columns.

Two modes, mirroring the fixed-budget pattern the PR/LPA oracles use:
  rounds=None — peel to fixpoint (survivor count stable);
  rounds=R    — exactly R peel rounds, SQL-mirrorable round for round
                (once the peel converges, further rounds are identity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from linkgraph.graph import LinkGraph, iteration_plan
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
    spark = graph.spark
    edges = graph.edges.select("src", "dst")
    from linkgraph.graph import broadcast_threshold

    _thresh = broadcast_threshold(spark)

    with iteration_plan(spark):
        cur = edges
        prev_n: int | None = None
        r = 0
        prev_keep = None
        while True:
            keep = (
                cur.groupBy("src")
                .agg(F.count(F.lit(1)).alias("core_deg"))
                .where(F.col("core_deg") >= k)
                .select(F.col("src").alias("vid"), "core_deg")
                .localCheckpoint(eager=False)
            )
            n = keep.count()  # the action that materializes the round
            r += 1
            done = (rounds is None and n == prev_n) or (
                rounds is not None and r >= rounds
            )
            if prev_keep is not None:
                try:
                    prev_keep.unpersist()
                except Exception:
                    pass
            prev_keep = keep
            if done or n == 0:
                break
            prev_n = n
            # byte-gated broadcast of the survivor list (J1 rule, driven
            # by the MEASURED survivor count just collected): both
            # semi-joins become map-side filters over the edge cache, so
            # the shrinking edge set never re-shuffles round over round;
            # past the gate the plain shuffle semi-joins return unchanged
            kv = keep.select("vid")
            if 0 < _thresh and n * (16 + 12) < _thresh:
                kv = F.broadcast(kv)
            cur = (
                cur.join(kv, cur.src == F.col("vid"), "left_semi")
                .join(kv, cur.dst == F.col("vid"), "left_semi")
            )

        if n == 0:
            return spark.createDataFrame([], "vid long, core_deg long")
        if rounds is None:
            # at the fixpoint the final keep IS the answer: survivor sets
            # are monotone decreasing, so a count-stable round is
            # set-stable, which makes `cur` exactly the induced subgraph
            # of the final survivors and keep.core_deg its degrees — the
            # recompute below (two semi-joins + an aggregate over the
            # ORIGINAL edge set) re-derived what the loop already holds.
            return keep.select(
                F.col("vid").cast("long").alias("vid"),
                F.col("core_deg").cast("long").alias("core_deg"),
            )
        # fixed-rounds mode: keep.core_deg was counted over cur BEFORE this
        # round's drops, so the induced degrees must be recomputed.
        # keep is already materialized (localCheckpoint + count) — no extra
        # persist, so nothing leaks past the call (round-3 advice pattern).
        survivors = keep.select("vid")
        out = (
            edges.join(survivors, edges.src == survivors.vid, "left_semi")
            .join(survivors, edges.dst == survivors.vid, "left_semi")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("core_deg"))
            .select(F.col("src").cast("long").alias("vid"),
                    F.col("core_deg").cast("long").alias("core_deg"))
        )
        return out


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
