"""HITS hubs & authorities (Kleinberg 1999) — fixed-budget power iteration.

Directed-graph kernel: per round, authority(v) = Σ_{u→v} hub(u) then
hub(u) = Σ_{u→v} auth(v), each L2-normalized over ALL vertices.  Runs a
fixed round budget so the computation is mirrorable step-for-step by an
unrolled SQL oracle (the PR/LPA fixed-budget pattern); scores converge to
the principal singular vectors of the adjacency matrix.

Plan shape (the PR one-job-per-step discipline):

* the authority half-step flows hub mass FORWARD through the graph's
  src-partitioned edge table via LinkGraph.expand (byte-gated broadcast /
  salted / plain shuffle);
* the hub half-step needs the TRANSPOSE expansion.  Rather than joining
  the edge table on dst (which would re-shuffle all |E| rows every
  round), the constructor builds a transpose LinkGraph once — the CSC to
  the forward table's CSR, the same pairing every matrix engine keeps for
  A·x vs Aᵀ·x — and both half-steps become co-partitioned expands;
* each round is ONE `linkgraph.iterate.fixpoint` iteration over the
  state (vid, auth, hub): the authority half-step is checkpointed and
  normalized by its Σx² action, and the hub half-step's norm is the
  probe, whose scalar rides into the next round as a literal.  Vertices receiving no mass stay
  absent from the loop state (zero rows change neither the norm nor the
  next expansion); the vertex set is attached once at the end.

Determinism: float summation order differs across engines, so outputs
are rounded (`round_to`) for oracle comparison; raw doubles agree to
~1e-12 at the tested scales.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.iterate import checkpoint, fixpoint, on_session, release


def hits(
    graph: LinkGraph,
    rounds: int = 8,
    round_to: int | None = 6,
    transpose: LinkGraph | None = None,
) -> DataFrame:
    """Returns (vid, hub, auth) over all vertices of the directed graph.

    transpose: pass a pre-built reverse-edge LinkGraph to reuse across
    calls; built (and released) internally otherwise.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    own_transpose = transpose is None
    gt = transpose or LinkGraph(
        graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        materialize=False,
    )
    n = graph.num_vertices()

    def half_step(g: LinkGraph, msgs: DataFrame) -> DataFrame:
        """(vid, x): msgs' scores flowed along g's edges, summed per
        destination.  Vertices receiving no mass are simply ABSENT — a zero
        score contributes nothing to the next expansion nor to the L2 norm;
        the full vertex set is attached once at the end."""
        return g.expand(msgs, est_rows=n).groupBy(F.col("dst").alias("vid")).agg(
            F.sum("x").alias("x")
        )

    auths: list[DataFrame] = []

    def step(state: DataFrame, m: dict) -> DataFrame:
        """auth(v) = Σ hub over in-edges, checkpointed and normalized by its
        Σx² action (left in the plan, the sf0.1 query ran 1.3x slower on a
        4 vCPU box); then hub(u) = Σ auth over out-edges, left raw for the
        probe to measure its norm."""
        msgs = state.where(F.col("hub").isNotNull()).select(
            F.col("vid").alias("src"), (F.col("hub") / F.lit(m["norm"])).alias("x")
        )
        # the expand is rooted on the edges: plan it on the loop session
        raw = checkpoint(on_session(half_step(graph, msgs), state.sparkSession))
        norm = math.sqrt(raw.agg(F.sum(F.col("x") * F.col("x"))).first()[0])
        for done_with in auths:  # the state that read them is materialized
            release(done_with)
        auths[:] = [raw]
        auth = raw.select("vid", (F.col("x") / F.lit(norm)).alias("auth"))
        hub = half_step(gt, auth.select(F.col("vid").alias("src"), F.col("auth").alias("x")))
        return auth.join(hub.withColumnRenamed("x", "hub"), "vid", "full_outer")

    def hub_norm(state: DataFrame, _m: dict) -> dict:
        return {"norm": math.sqrt(state.agg(F.sum(F.col("hub") * F.col("hub"))).first()[0])}

    # hub starts uniform at 1/sqrt(n) (unit L2 norm) — any positive start
    # converges; unit-norm keeps intermediate magnitudes O(1).
    verts = graph.vertices().select("vid")
    state, m, _ = fixpoint(
        verts.select("vid", F.lit(None).cast("double").alias("auth"),
                     F.lit(1.0 / math.sqrt(n)).alias("hub")),
        step,
        hub_norm,
        lambda m, _: False,
        rounds,
        seed_metrics=lambda _: {"norm": 1.0},
    )

    hub_col = F.coalesce(F.col("hub") / F.lit(m["norm"]), F.lit(0.0))
    auth_col = F.coalesce(F.col("auth"), F.lit(0.0))
    if round_to is not None:
        hub_col = F.round(hub_col, round_to)
        auth_col = F.round(auth_col, round_to)
    out = verts.join(state, "vid", "left").select(
        "vid", hub_col.alias("hub"), auth_col.alias("auth")
    )
    for done_with in auths:
        release(done_with)
    if own_transpose:
        gt.unpersist()
    return out
