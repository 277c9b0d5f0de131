"""Label propagation (community detection) — synchronous, deterministic
(SURVEY.md A6): each round a vertex adopts the most frequent neighbor label,
ties broken by smallest label.  Fixed iteration budget + convergence check
(exact at convergence); deterministic by construction, so two runs agree
bit-for-bit (tested).

Scale shape: labels flow through LinkGraph.expand (byte-gated broadcast /
salted or plain shuffle join); previous labels are carried in the state so
the changed-count is a column aggregate, not a join.  One heavy Spark job
per round (expand + vote count + one-aggregate argmax + update); the argmax
is min(struct(-n, l)) — a partial+final hash agg, no per-round window sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.iterate import count_changed, fixpoint


def label_propagation(
    graph: LinkGraph,
    max_iter: int = 10,
    checkpoint_mgr=None,
    snapshot_every: int = 5,
    resume: bool = False,
) -> DataFrame:
    """Returns (vid, label).

    checkpoint_mgr/snapshot_every/resume mirror connected_components: every
    `snapshot_every` rounds the (vid, label) state is snapshotted with
    lineage + metrics, and resume=True continues from the latest committed
    snapshot — the north_rule's "resumable from checkpoint" applies to all
    iterative kernels, and LPA is deterministic, so a resumed run equals an
    uninterrupted one bit-for-bit (tested).  A fixed iteration budget is
    normal operation for LPA, so running out of it is not warned about
    (CC, whose docstring promises exactness, warns)."""
    n = graph.num_vertices()
    nparts = int(graph.spark.conf.get("spark.sql.shuffle.partitions"))

    def step(labels: DataFrame, _metrics: dict) -> DataFrame:
        msgs = labels.select(F.col("vid").alias("src"), F.col("label").alias("l"))
        # one explicit dst exchange feeds BOTH aggregates: the vote
        # count clusters on (dst,l) and the argmax on (dst), and
        # HashPartitioning(dst) satisfies both (subset rule) — the
        # louvain round's measured pattern (11.0s -> 9.2s there).
        # (dst,l) pairs are near-unique while labels are still
        # distinct, so the forfeited map-side partial agg compressed
        # little; counts are integers, so the result is bit-identical.
        votes = (
            graph.expand(msgs, est_rows=n)
            .select("dst", "l")
            .repartition(nparts, "dst")
            .groupBy("dst", "l")
            .agg(F.count("*").alias("n"))
        )
        # argmax(n, tie -> min l) as ONE hash aggregate: min over
        # struct(-n, l) orders by count desc then label asc.  The
        # groupBy+row_number window form costs an extra exchange + sort
        # on dst per round; this is a partial+final agg on the same key.
        winner = votes.groupBy("dst").agg(
            F.min(F.struct((-F.col("n")).alias("nn"), F.col("l"))).alias("m")
        ).select(F.col("dst"), F.col("m.l").alias("new_label"))
        return (
            labels.alias("st")
            .join(winner.alias("wn"), F.col("st.vid") == F.col("wn.dst"), "left")
            .select(
                F.col("st.vid").alias("vid"),
                F.coalesce(F.col("wn.new_label"), F.col("st.label")).alias("label"),
                F.col("st.label").alias("pl"),
            )
        )

    labels, _, _ = fixpoint(
        graph.vertices().select("vid", F.col("vid").alias("label")),
        step,
        lambda st: {"changed": count_changed(st, "label", "pl")},
        lambda m, _: m["changed"] == 0,
        max_iter,
        checkpoint_mgr=checkpoint_mgr,
        snapshot_every=snapshot_every,
        resume=resume,
    )
    return labels.select("vid", "label")


def label_spreading(
    graph: LinkGraph,
    seeds: DataFrame,
    alpha: float = 0.2,
    rounds: int = 6,
    round_to: int = 6,
) -> DataFrame:
    """Semi-supervised seed propagation [Zhou et al., NIPS 2003 family,
    unnormalized adjacency variant]: class mass spreads from labeled
    seeds through the link graph,

        F_{t+1}(v, l) = alpha · Σ_{u→v} F_t(u, l) + (1−alpha) · Y(v, l),
        F_0 = (1−alpha) · Y,

    and each vertex is assigned argmax_l F_R(v, l) — "which seed
    community does this conversation belong to?" with soft scores, the
    K-class generalization of personalized PageRank.  Convergence for
    alpha < 1/max_deg (the Katz bound); fixed `rounds` is the oracle
    contract.

    Sparse state: (vid, label, score) rows exist only where mass has
    arrived — ≤ |V|·K, usually far less.  Per round: ONE expand + one
    (dst, label) sum + a FULL OUTER merge with the seed table (seeds
    keep emitting (1−alpha)·Y even in rounds where no message reaches
    them — the merge shape both engines mirror row for row).  Output
    (vid, label, score) with score rounded and argmax ties broken by
    smaller label — engine-portable.  Unreached vertices are absent.
    """
    if not 0 < alpha < 1:
        raise ValueError("alpha must be in (0, 1)")
    n = graph.num_vertices()
    y = seeds.select(
        F.col("vid").cast("long").alias("vid"),
        F.col("label").cast("long").alias("label"),
        F.lit(1.0 - alpha).alias("s"),
    ).localCheckpoint(eager=True)

    def step(f: DataFrame, _metrics: dict) -> DataFrame:
        msgs = f.select(F.col("vid").alias("src"), "label", "score")
        agg = (
            graph.expand(msgs, est_rows=n)
            .groupBy(F.col("dst").alias("vid"), "label")
            .agg((F.lit(float(alpha)) * F.sum("score")).alias("m"))
        )
        return agg.join(y, ["vid", "label"], "full_outer").select(
            "vid",
            "label",
            (
                F.coalesce(F.col("m"), F.lit(0.0)) + F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("score"),
        )

    f, _, _ = fixpoint(
        y.select("vid", "label", F.col("s").alias("score")),
        step,
        lambda st: {"rows": st.count()},
        lambda m, _: False,
        rounds,
    )
    ranked = f.select(
        "vid", "label", F.round("score", round_to).alias("score")
    )
    best = ranked.groupBy("vid").agg(
        F.min(F.struct((-F.col("score")).alias("ns"), F.col("label").alias("l"))).alias(
            "b"
        )
    )
    return best.select(
        F.col("vid").cast("long"),
        F.col("b.l").cast("long").alias("label"),
        (-F.col("b.ns")).alias("score"),
    )
