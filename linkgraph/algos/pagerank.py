"""PageRank — pure-relational power iteration (SURVEY.md A4/K6).

Scale-shaped iteration (one heavy Spark job per iteration):

* state (vid, deg, pr) carries the out-degree so no per-iteration join
  against the degree table is needed;
* messages (src, pr/deg) flow through LinkGraph.expand — broadcast only
  when the estimated byte size clears autoBroadcastJoinThreshold, salted
  or plain shuffle join otherwise (never an unconditional |V|-row
  broadcast: at 10^9 vertices that OOMs every executor);
* the loop runs under `iteration_plan` (AQE off, shuffled-hash preferred):
  the per-iteration plan is static and co-partitioned, so AQE's per-stage
  driver rounds are pure overhead and SHJ avoids SMJ's per-iteration sort;
* Δrank and the dangling mass for the NEXT iteration are folded into one
  aggregate over the freshly checkpointed state — no separate join or
  anti-join action per iteration.  The dangling vertex set is static
  (deg == 0), so its mass at iteration t is just sum(pr_t) over it;
* n counts ALL vertices including sink-only ones (graph.num_vertices()
  uses vertices() on directed tables), so ranks sum to 1 with sinks.

Convergence: max |Δrank| < tol (BASELINE tol 1e-6).  The loop is
`linkgraph.iterate.fixpoint`: the stats aggregate is the action that
materializes each iteration's lazy checkpoint (one fused Spark job per
iteration), and snapshots go through CheckpointManager.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.iterate import fixpoint


def pagerank(
    graph: LinkGraph,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpoint_mgr=None,
    snapshot_every: int = 10,
    resume: bool = False,
    sources: list[int] | None = None,
    weight_col: str | None = None,
    init: DataFrame | None = None,
) -> DataFrame:
    """Returns (vid, pr).  Ranks sum to 1 (dangling mass redistributed).

    tol <= 0 runs exactly max_iter iterations (fixed-budget benchmark
    mode; the per-iteration stats job still runs — it is the action that
    materializes the checkpoint and costs ~nothing next to the expand).

    sources: personalized PageRank — the teleport (and dangling-mass
    return) distribution is uniform over `sources` instead of over all
    vertices.  The reset vector rides in the state as a column (rv), so
    the per-iteration plan is identical to global PR: same expand, same
    single fused job; only the base term reads rv instead of the 1/n
    literal.  The source list is embedded as an `isin` literal — it is a
    seed set (10s-1000s), not a data-scale object; a DataFrame-valued
    reset vector would join instead.

    init: warm start — a (vid, pr) DataFrame seeding the rank vector
    instead of uniform 1/n (vertices absent from init fall back to 1/n).
    This is the incremental-update path: after a graph delta, continue
    the power iteration from the previous snapshot's scores rather than
    recomputing from scratch — at 10^12-turn scale with daily edge
    deltas, the warm start converges in a handful of iterations because
    the spectrum barely moved.  One extra seed-time join; the
    per-iteration plan is unchanged.

    weight_col: weighted PageRank — each out-edge carries its share
    w/strength(src) of the source's rank (strength = Σ out-weights,
    replacing out-degree).  The iteration plan is IDENTICAL to the
    unweighted path — same expand, same single fused job per iteration —
    only the seed aggregate (sum(w) instead of count) and the
    contribution term (w·msg instead of msg) change."""
    spark = graph.spark
    n = graph.num_vertices()
    personalized = sources is not None
    if personalized and not sources:
        raise ValueError("personalized pagerank needs a non-empty source list")
    if personalized and init is not None:
        # the personalized branch seeds pr from the reset vector itself
        raise ValueError("init warm start is not supported with sources=")

    if weight_col is None:
        degt = graph.degrees()
        deg_type = "long"
    else:
        # out-strength replaces out-degree; double (weights may be fractional)
        degt = (
            graph.edges.groupBy("src")
            .agg(F.sum(F.col(weight_col)).cast("double").alias("deg"))
            .select(F.col("src").alias("vid"), "deg")
        )
        deg_type = "double"

    # (vid, deg, pr); deg null -> 0 marks the static dangling set
    if graph.symmetric:
        # every vertex has out-edges: the degree table IS the state seed
        seed = degt.select(
            "vid", F.col("deg").cast(deg_type).alias("deg"), F.lit(1.0 / n).alias("pr")
        )
    else:
        seed = (
            graph.vertices()
            .join(degt, "vid", "left")
            .select(
                "vid",
                F.coalesce(F.col("deg"), F.lit(0)).cast(deg_type).alias("deg"),
                F.lit(1.0 / n).alias("pr"),
            )
        )
    if init is not None:
        # warm start: previous snapshot's scores replace the uniform
        # seed; vertices the snapshot never saw keep the 1/n default
        seed = (
            seed.alias("st")
            .join(
                init.select(F.col("vid").alias("ivid"), F.col("pr").alias("ipr")),
                F.col("st.vid") == F.col("ivid"),
                "left",
            )
            .select(
                F.col("st.vid").alias("vid"),
                F.col("st.deg").alias("deg"),
                F.coalesce(F.col("ipr"), F.col("st.pr")).alias("pr"),
            )
        )
    if personalized:
        rv = F.when(
            F.col("vid").isin([int(v) for v in sources]),
            F.lit(1.0 / len(sources)),
        ).otherwise(F.lit(0.0))
        seed = seed.select("vid", "deg", rv.alias("rv"), rv.alias("pr"))

    def seed_metrics(state: DataFrame) -> dict:
        if graph.symmetric:
            return {"dangling_mass": 0.0}  # every vertex has out-edges
        m = state.where(F.col("deg") == 0).agg(F.sum("pr").alias("m")).first()["m"]
        return {"dangling_mass": m or 0.0}

    def step(state: DataFrame, metrics: dict) -> DataFrame:
        dangling_mass = metrics.get("dangling_mass", 0.0)
        # message alias "m" never clashes with an edge weight column
        msgs = state.where(F.col("deg") > 0).select(
            F.col("vid").alias("src"), (F.col("pr") / F.col("deg")).alias("m")
        )
        contrib = (
            F.sum("m") if weight_col is None else F.sum(F.col(weight_col) * F.col("m"))
        )
        contribs = graph.expand(msgs, est_rows=n).groupBy("dst").agg(
            contrib.alias("acc")
        )
        # NOTE (r6): a byte-gated broadcast of contribs for the state
        # join was A/B'd and measured ~10% SLOWER warm (4.6 s vs 4.1 s
        # for pagerank10 at sf0.1/local[32]) — the join only moves two
        # ≤|V|-row narrow tables, and the per-iteration broadcast
        # build costs more than the two small exchanges it replaces.
        # Kept as the shuffle join deliberately.
        if personalized:
            # a snapshot written before rv rode in the state lacks it
            st_rv = F.col("st.rv") if "rv" in state.columns else rv
            # teleport AND dangling mass both return to the seed set
            base_col = (
                F.lit(1.0 - damping) + F.lit(damping * dangling_mass)
            ) * st_rv
            keep = [st_rv.alias("rv")]
        else:
            base_col = F.lit((1.0 - damping) / n + damping * dangling_mass / n)
            keep = []
        return (
            state.alias("st")
            .join(contribs.alias("cb"), F.col("st.vid") == F.col("cb.dst"), "left")
            .select(
                F.col("st.vid").alias("vid"),
                F.col("st.deg").alias("deg"),
                *keep,
                (
                    base_col
                    + F.lit(damping) * F.coalesce(F.col("cb.acc"), F.lit(0.0))
                ).alias("pr"),
                F.col("st.pr").alias("pr_old"),
            )
        )

    def probe(state: DataFrame) -> dict:
        # delta + next iteration's dangling mass (sum of new pr over the
        # static deg==0 set) in one aggregate
        stats = state.agg(
            F.max(F.abs(F.col("pr") - F.col("pr_old"))).alias("delta"),
            F.sum(F.when(F.col("deg") == 0, F.col("pr"))).alias("dm"),
        ).first()
        return {"delta": float(stats["delta"]), "dangling_mass": float(stats["dm"] or 0.0)}

    state, _, _ = fixpoint(
        seed,
        step,
        probe,
        lambda m, _: tol > 0 and m["delta"] < tol,
        max_iter,
        seed_metrics=seed_metrics,
        checkpoint_mgr=checkpoint_mgr,
        snapshot_every=snapshot_every,
        resume=resume,
    )
    return state.select("vid", "pr")


def ppr_forward_push(
    graph: LinkGraph,
    seeds: list[int],
    alpha: float = 0.15,
    eps: float = 1e-4,
    rounds: int | None = 8,
    max_rounds: int = 64,
) -> DataFrame:
    """Personalized PageRank by distributed forward push [Andersen, Chung,
    Lang, FOCS'06] — the LOCAL-computation complement to the power-series
    PPR in `pagerank(sources=...)`: state is an (estimate p, residual r)
    pair per touched vertex; a sweep pushes every vertex whose residual
    clears the degree-scaled threshold, converting alpha*r into estimate
    and spraying (1-alpha)*r/deg to neighbors.

    Why it matters at 10^12-turn scale: TOTAL pushed mass is bounded by
    1/(eps*alpha) regardless of graph size (each push retires >=
    eps*deg(v) residual from an initial supply of 1), so the answer to
    "PPR around THIS conversation" costs work proportional to the answer,
    not to |E| — power iteration pays O(|E|) per round no matter how
    local the query is.  The push frontier is exactly the rows the
    byte-gated `expand` sees, so early sweeps broadcast and the edge
    table never shuffles.

    Determinism: the push set is a float-threshold filter (r > eps*deg);
    both engines compute identical IEEE doubles through identical round
    counts, and the driver gate's 9-dp rounding absorbs summation-order
    noise — same posture as the power-iteration oracles.  rounds=R runs
    exactly R sweeps (mirrorable by an unrolled SQL chain); rounds=None
    pushes to the eps-fixpoint and warns if max_rounds exhausts first.
    Returns (vid, p, r) for all vertices; at the fixpoint
    |ppr(v) - p(v)| <= eps*deg(v).
    """
    if not seeds:
        raise ValueError("ppr_forward_push needs a non-empty seed list")
    spark = graph.spark
    deg = graph.degrees().select("vid", F.col("deg").cast("double").alias("deg"))
    seed_lit = F.col("vid").isin([int(s) for s in seeds])
    state = (
        graph.vertices()
        .join(deg, "vid", "left")
        .select(
            "vid",
            F.coalesce("deg", F.lit(0.0)).alias("deg"),
            F.lit(0.0).alias("p"),
            F.when(seed_lit, F.lit(1.0 / len(seeds))).otherwise(0.0).alias("r"),
        )
        .localCheckpoint(eager=True)
    )
    budget = rounds if rounds is not None else max_rounds
    from linkgraph.graph import iteration_plan

    exhausted = rounds is None
    prev_state = None
    with iteration_plan(spark):
        for _ in range(budget):
            pushed = F.col("r") > F.lit(eps) * F.col("deg")
            msgs = state.where(pushed & (F.col("deg") > 0)).select(
                F.col("vid").alias("src"),
                ((1.0 - alpha) * F.col("r") / F.col("deg")).alias("w"),
            )
            if rounds is None:
                n_push = msgs.count()
                if n_push == 0:
                    exhausted = False
                    break
                contrib = graph.expand(msgs, est_rows=n_push)
            else:
                # fixed-rounds mode has no count action to measure the
                # frontier, but it is bounded by |V| — feed that bound to
                # the J1 byte gate so small-state pushes broadcast instead
                # of falling through to the shuffle join (the gate still
                # degrades to shuffle past the threshold at scale)
                contrib = graph.expand(msgs, est_rows=graph.num_vertices())
            inc = contrib.groupBy("dst").agg(F.sum("w").alias("c"))
            prev_state = state
            state = (
                state.alias("st")
                .join(inc.alias("ic"), F.col("st.vid") == F.col("ic.dst"), "left")
                .select(
                    F.col("st.vid").alias("vid"),
                    F.col("st.deg").alias("deg"),
                    (
                        F.col("st.p")
                        + F.when(pushed, alpha * F.col("st.r")).otherwise(0.0)
                    ).alias("p"),
                    (
                        F.when(pushed, 0.0).otherwise(F.col("st.r"))
                        + F.coalesce(F.col("ic.c"), F.lit(0.0))
                    ).alias("r"),
                )
                .localCheckpoint(eager=True)
            )
            if prev_state is not None:
                try:
                    prev_state.unpersist()
                except Exception:
                    pass
    if exhausted:
        import warnings

        warnings.warn(
            f"ppr_forward_push: max_rounds={max_rounds} exhausted above the "
            "eps threshold — estimates are lower bounds",
            stacklevel=2,
        )
    return state.select("vid", "p", "r")
