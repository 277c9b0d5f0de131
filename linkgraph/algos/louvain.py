"""Louvain-style modularity-maximizing local moves — deterministic,
synchronous, all-integer, engine-portable.

Phase 1 of Louvain [Blondel et al., J. Stat. Mech. 2008]: every vertex
greedily re-assigns itself to the neighbor community with the largest
modularity gain.  The classic algorithm is sequential (one vertex at a
time); a distributed engine must move many vertices per round, which
creates two portability hazards this implementation removes:

* **Float gains are not portable.**  The textbook dQ involves 1/M and
  1/M^2; summing those in different orders (Spark partial aggregates vs
  DuckDB) diverges in ulps and flips argmax ties.  With unit edge
  weights, dQ for moving v (degree d_v) from community a to b scales by
  the positive constant M^2 to the PURE INTEGER

      gain = M*(k_vb - k_va) - d_v*(dc_b - (dc_a - d_v))

  where M = directed edge count, k_vc = edges from v into community c,
  and dc_c = sum of degrees in c.  Integer compares are exact in every
  engine, so the per-round argmax (tie -> smallest community id) is
  bit-for-bit reproducible.  Overflow bound: M * max_deg < 2^63 — holds
  to M ~ 10^12 edges with million-degree hubs.

* **Simultaneous moves oscillate.**  Two adjacent singletons that each
  see the other as the best target swap labels forever.  Each round only
  vertices whose per-round md5 parity H(r, v) % 2 == 0 are eligible to
  move (the derandomized coin MIS/node2vec/MinHash already use) — an
  expected half of the frontier moves per round, adjacent-swap cycles
  are broken by the hash, and the schedule is identical in any engine,
  under any partitioning, across retries.

rounds=R unrolls exactly R synchronous rounds (the driver-gate contract:
the DuckDB oracle replays the same R rounds and must match bit-for-bit);
rounds=None iterates to the no-eligible-positive-gain fixpoint under
max_rounds with a budget warning (scc.py convention).

Scale shape (SURVEY.md J1/A1/A6):
  * label broadcast to neighbors is ONE LinkGraph.expand per round (edge
    table never shuffles; byte-gated broadcast vs salted/plain shuffle),
    followed by a (dst, label) count — the ANP shape, map-side combined;
  * community degree totals are a second hash aggregate whose output is
    <= |communities| rows and SHRINKS every round;
  * the per-vertex argmax is min(struct(-gain, label)) — one partial+
    final aggregate, never a window sort (labelprop.py's A6 lesson);
  * per-round state is (vid, label, deg) on `linkgraph.iterate.fixpoint`:
    one fused job a round, with the moved count as its probe.

multilevel_louvain adds Louvain's phase 2: contract each community to a
supervertex, re-run local moves on the (integer-)weighted quotient graph,
and compose the mappings.  The quotient graph is <= |C| vertices and
shrinks geometrically, so later levels are cheap; weights stay integers
(edge multiplicities), keeping every level exactly portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.iterate import checkpoint, fixpoint, loop_partitions, release


def _move_parity(round_no: int, vid_col):
    """Engine-portable move-eligibility coin: 60-bit md5 prefix parity."""
    key = F.concat(F.lit(f"mv{round_no}:"), vid_col.cast("string"))
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long") % 2


def _local_move_rounds(
    spark,
    expand,  # callable(msgs DF with src col, est_rows) -> (.., dst, ..) DF
    labels: DataFrame,  # (vid, label)
    wdeg: DataFrame,  # (vid, deg) — weighted degree, BIGINT
    m_edges: int,  # total directed edge weight, BIGINT
    n_vertices: int,
    budget: int,
    until_stable: bool,
) -> tuple[DataFrame, bool]:
    """Shared round loop for the base graph (LinkGraph.expand) and the
    weighted quotient graphs (plain-join expand).  Returns the final state
    (vid, label, deg, _moved) and whether it converged (always True for a
    fixed round count).

    r6 plan surgery, both equivalence-preserving:
      * deg rides IN the state (vid, label, deg) — deg is static per
        vertex, so the two per-round |V|-row wdeg joins (community
        totals, per-vertex gain rows) collapse into the state itself;
      * the small per-round tables (state-as-dim, ct, best) are
        broadcast when `fits_broadcast` passes them at |V| rows, so the
        kv-sized table never re-shuffles for its dimension joins."""
    from linkgraph.graph import fits_broadcast

    m_lit = F.lit(int(m_edges)).cast("long")

    def step(labels: DataFrame, metrics: dict) -> DataFrame:
        r = metrics.get("round", 0) + 1
        msgs = labels.select(F.col("vid").alias("src"), F.col("label").alias("l"))
        # k_vc: per-vertex edge weight into each neighbor community —
        # the receiving side (dst) tallies sender labels.  w is 1 on
        # the base graph, the contracted multiplicity on quotients.
        # Self-loops (quotient internal weight) are excluded: their
        # contribution to in_c is invariant under any move of v, but
        # leaving them in k_v,own would shift every gain by -M*w_self
        # and wrongly veto positive moves.
        #
        # ONE explicit exchange on dst instead of two planner ones:
        # HashPartitioning(dst) satisfies both the (dst,l) clustering
        # here and the (dst,a,deg) clustering of the per-vertex argmax
        # below (hash-partitioning-on-a-subset rule), so neither
        # aggregate re-shuffles.  Map-side partial aggregation is
        # deliberately given up — (dst, l) pairs are near-unique while
        # communities are still forming (the linkpred argument), so the
        # partial agg compressed little and the round paid two full
        # exchanges instead of this one.  Partition count derives from
        # spark.sql.shuffle.partitions, never a core count; all-integer
        # math keeps the result bit-identical under any grouping order
        # (interleaved A/B at sf0.1: 11.0s -> 9.2s median, same checksum).
        kv = (
            expand(msgs, n_vertices)
            .where(F.col("src") != F.col("dst"))
            .select("dst", "l", "w")
            .repartition(loop_partitions(labels), "dst")
            .groupBy("dst", "l")
            .agg(F.sum("w").alias("k"))
        )
        # dc: community degree totals (<= |C| rows, shrinking).
        ct = labels.groupBy("label").agg(F.sum("deg").alias("dc"))
        # One join chain, then ONE aggregate per vertex.  The gain of
        # moving v: a -> b decomposes as score(b) - base with
        #   score(c) = M*k_vc - d_v*dc_c          (candidate term)
        #   base     = M*k_va - d_v*(dc_a - d_v)  (own-community term)
        # so the argmax over candidates and the own-row base both fall
        # out of a single groupBy — no candidate/own self-join.
        dim = labels.select(F.col("vid").alias("dst"), F.col("label").alias("a"), "deg")
        ct_l = ct.select(F.col("label").alias("l"), "dc")
        ct_a = ct.select(F.col("label").alias("a"), F.col("dc").alias("dca"))
        if fits_broadcast(dim, n_vertices):
            dim = F.broadcast(dim)
        if fits_broadcast(ct_l, n_vertices):
            ct_l, ct_a = F.broadcast(ct_l), F.broadcast(ct_a)
        rows = kv.join(dim, "dst").join(ct_l, "l")
        is_own = F.col("l") == F.col("a")
        score = m_lit * F.col("k") - F.col("deg") * F.col("dc")
        per_v = rows.groupBy(
            F.col("dst").alias("v"), "a", "deg"
        ).agg(
            F.min(
                F.when(~is_own, F.struct((-score).alias("ns"), F.col("l")))
            ).alias("mb"),
            F.sum(F.when(is_own, F.col("k")).otherwise(F.lit(0))).alias("ka"),
        )
        # dc_a for vertices with no internal edge: join ct on a (the
        # community always exists in ct — v itself contributes deg).
        per_v = per_v.join(ct_a, "a").select(
            "v",
            "a",
            F.col("mb.l").alias("nb"),
            (
                (-F.col("mb.ns"))
                - (m_lit * F.col("ka") - F.col("deg") * (F.col("dca") - F.col("deg")))
            ).alias("gain"),
        )
        best = per_v.where(
            F.col("nb").isNotNull() & (F.col("gain") > 0)
        ).select("v", "nb")
        if fits_broadcast(best, n_vertices):
            best = F.broadcast(best)
        return (
            labels.alias("st")
            .join(best.alias("bs"), F.col("st.vid") == F.col("bs.v"), "left")
            .select(
                F.col("st.vid").alias("vid"),
                F.when(
                    F.col("bs.nb").isNotNull()
                    & (_move_parity(r, F.col("st.vid")) == 0),
                    F.col("bs.nb"),
                )
                .otherwise(F.col("st.label"))
                .alias("label"),
                F.col("st.deg").alias("deg"),
                (
                    F.col("bs.nb").isNotNull()
                    & (_move_parity(r, F.col("st.vid")) == 0)
                    & (F.col("bs.nb") != F.col("st.label"))
                ).cast("long").alias("_moved"),
            )
        )

    state, _, converged = fixpoint(
        labels.join(wdeg, "vid").select("vid", "label", "deg"),
        step,
        lambda st, m: {
            "round": m.get("round", 0) + 1,
            "moved": int(st.agg(F.sum("_moved")).first()[0] or 0),
        },
        lambda m, _: until_stable and m["moved"] == 0,
        budget,
    )
    return state, converged or not until_stable


def louvain_local_move(
    graph: LinkGraph, rounds: int | None = None, max_rounds: int = 64
) -> DataFrame:
    """One Louvain level (local moves only) on an unweighted symmetric
    graph.  Returns (vid, label) — feed to gstats.community_modularity
    for the per-community Q decomposition.

    rounds=R: exactly R unrolled rounds (oracle-mirrorable, possibly not
    yet a fixpoint).  rounds=None: iterate until no eligible vertex has a
    positive-gain move, warning if max_rounds is exhausted first.  The
    schedule's tail is long: once only one or two vertices still gain,
    each waits for its parity coin, so the 150-vertex er_edges(150, 0.03)
    graph moves its last vertex in round 33."""
    if not graph.symmetric:
        raise ValueError("louvain_local_move needs a symmetric graph")
    m_edges = graph.num_edges()
    n = graph.num_vertices()
    labels0 = graph.vertices().select(
        "vid", F.col("vid").cast("long").alias("label")
    )
    wdeg = graph.degrees().select("vid", F.col("deg").cast("long").alias("deg"))

    def expand(msgs, est_rows):
        return graph.expand(msgs, est_rows=est_rows).withColumn(
            "w", F.lit(1).cast("long")
        )

    labels, converged = _local_move_rounds(
        graph.spark, expand, labels0, wdeg, m_edges, n,
        rounds if rounds is not None else max_rounds,
        until_stable=rounds is None,
    )
    if rounds is None and not converged:
        import warnings

        warnings.warn(
            f"louvain_local_move: {max_rounds}-round budget exhausted before "
            "the no-positive-gain fixpoint — labels are valid but Q may "
            "still be improvable",
            stacklevel=2,
        )
    return labels.select(
        F.col("vid").cast("long").alias("vid"),
        F.col("label").cast("long").alias("label"),
    )


def multilevel_louvain(
    graph: LinkGraph, levels: int = 3, max_rounds: int = 64
) -> DataFrame:
    """Full Louvain: local-move fixpoint, contract communities to an
    integer-weighted quotient graph, repeat.  Returns (vid, label) on the
    ORIGINAL vertex set with labels composed through every level.

    The quotient graph keeps self-loops (internal community weight) out
    of the move candidates but IN the degree totals — contracted degree
    dc must count internal edges twice (both directed copies), which the
    weighted-degree aggregate over the full quotient edge table (self-
    loops included) does automatically."""
    if not graph.symmetric:
        raise ValueError("multilevel_louvain needs a symmetric graph")
    m_edges = graph.num_edges()  # invariant across levels (weights sum)
    spark = graph.spark

    mapping = louvain_local_move(graph, rounds=None, max_rounds=max_rounds)

    # quotient edges: (label(src), label(dst), multiplicity).  Both
    # mapping and qe are re-rooted checkpoints at every level boundary, so
    # the composition joins plan on their measured sizes.
    qe = checkpoint(
        graph.edges.join(
            mapping.select(F.col("vid").alias("src"), F.col("label").alias("ls")),
            "src",
        )
        .join(
            mapping.select(F.col("vid").alias("dst"), F.col("label").alias("ld")),
            "dst",
        )
        .groupBy(F.col("ls").alias("src"), F.col("ld").alias("dst"))
        .agg(F.count("*").cast("long").alias("w"))
    )

    for _lvl in range(1, levels):
        nq = qe.select("src").distinct().count()
        if nq <= 1:
            break
        wdeg = (
            qe.groupBy("src").agg(F.sum("w").alias("deg"))
            .withColumnRenamed("src", "vid")
        )
        labels0 = wdeg.select("vid", F.col("vid").alias("label"))
        # self-loops (contracted internal weight) stay in the quotient
        # edge table: the round loop's src != dst filter keeps them out
        # of every k_vc tally (their in_c contribution is invariant
        # under any move of v, so they cancel in the gain), while the
        # weighted-degree aggregate above counts them — as it must.

        def expand(msgs, est_rows, _qe=qe):
            return _qe.join(msgs, "src")

        lab, _ = _local_move_rounds(
            spark, expand, labels0, wdeg, m_edges, nq,
            budget=max_rounds, until_stable=True,
        )
        moved = lab.where(F.col("vid") != F.col("label")).limit(1).count()
        if moved == 0:
            release(lab)
            break
        nxt_mapping = checkpoint(
            mapping.alias("mp")
            .join(lab.alias("lv"), F.col("mp.label") == F.col("lv.vid"))
            .select(F.col("mp.vid").alias("vid"), F.col("lv.label").alias("label"))
        )
        nxt_qe = checkpoint(
            qe.alias("q")
            .join(lab.select(F.col("vid").alias("src"), F.col("label").alias("ls")), "src")
            .join(lab.select(F.col("vid").alias("dst"), F.col("label").alias("ld")), "dst")
            .groupBy(F.col("ls").alias("src"), F.col("ld").alias("dst"))
            .agg(F.sum("w").cast("long").alias("w"))
        )
        for done_with in (mapping, qe, lab):
            release(done_with)
        mapping, qe = nxt_mapping, nxt_qe
    release(qe)
    return mapping.select(
        F.col("vid").cast("long").alias("vid"),
        F.col("label").cast("long").alias("label"),
    )
