"""Connected components — min-label propagation to fixpoint (SURVEY.md A5).

comp(v) initialized to vid; each round v takes min(comp(v), min over
neighbors comp(u)), followed by a pointer-doubling shortcut
comp(v) <- min(comp(v), comp(comp(v))) (path compression, the same
contraction idea as large-star/small-star).  Shortcutting cuts rounds from
O(diameter) to O(log diameter) — the property that matters at 10^12-turn
scale where turn-adjacency chains have diameter in the tens of thousands.
Exact at convergence (changed-count == 0).

Scale shape: labels flow through LinkGraph.expand (byte-gated broadcast /
salted or plain shuffle join — never an unconditional |V|-row broadcast);
the previous label is carried in the state so the changed-count is a
column aggregate over the freshly checkpointed state, not an extra join.
One heavy Spark job per round.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph, fits_broadcast
from linkgraph.iterate import count_changed, fixpoint


def connected_components(
    graph: LinkGraph,
    max_iter: int = 200,
    checkpoint_mgr=None,
    snapshot_every: int = 10,
    resume: bool = False,
    shortcut: bool = True,
) -> DataFrame:
    """Returns (vid, comp) with comp = min vid reachable (undirected
    semantics: run on a symmetric edge table — from_undirected — or the
    result is min-label *forward* reachability, not components).

    Exact at convergence; warns if max_iter exhausts first."""
    n = graph.num_vertices()

    # the neighbor-min aggregate and the shortcut mapping are both ≤|V|
    # rows: broadcast, the checkpointed label state never re-shuffles
    def step(comp: DataFrame, _metrics: dict) -> DataFrame:
        labels = comp.select(F.col("vid").alias("src"), F.col("comp").alias("c"))
        nbr_min = graph.expand(labels, est_rows=n).groupBy("dst").agg(
            F.min("c").alias("nc")
        )
        if fits_broadcast(nbr_min, n):
            nbr_min = F.broadcast(nbr_min)
        new_comp = (
            comp.alias("st")
            .join(nbr_min.alias("nb"), F.col("st.vid") == F.col("nb.dst"), "left")
            .select(
                F.col("st.vid").alias("vid"),
                F.least(
                    F.col("st.comp"), F.coalesce(F.col("nb.nc"), F.col("st.comp"))
                ).alias("comp"),
                F.col("st.comp").alias("pc"),
            )
        )
        if shortcut:
            # pointer doubling: comp(v) <- min(comp(v), comp(comp(v))).
            # comp values are vids, so the label table doubles as the
            # parent mapping; one extra equi-join per round buys O(log d)
            # total rounds instead of O(d).
            mapping = comp.select(F.col("vid").alias("comp"), F.col("comp").alias("cc"))
            if fits_broadcast(mapping, n):
                mapping = F.broadcast(mapping)
            new_comp = (
                new_comp.alias("nc2")
                .join(mapping.alias("mp"), "comp", "left")
                .select(
                    F.col("nc2.vid").alias("vid"),
                    F.least(
                        F.col("comp"), F.coalesce(F.col("mp.cc"), F.col("comp"))
                    ).alias("comp"),
                    F.col("nc2.pc").alias("pc"),
                )
            )
        return new_comp

    comp, metrics, converged = fixpoint(
        graph.vertices().select("vid", F.col("vid").alias("comp")),
        step,
        lambda st, _: {"changed": count_changed(st, "comp", "pc")},
        lambda m, _: m["changed"] == 0,
        max_iter,
        checkpoint_mgr=checkpoint_mgr,
        snapshot_every=snapshot_every,
        resume=resume,
    )
    if not converged:
        warnings.warn(
            f"connected_components: max_iter={max_iter} exhausted with "
            f"{metrics.get('changed')} labels still changing — result is NOT "
            "converged",
            stacklevel=2,
        )
    return comp.select("vid", "comp")


def connected_components_two_phase(graph: LinkGraph, max_rounds: int = 64) -> DataFrame:
    """Connected components by alternating large-star / small-star edge
    rewrites [Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14] — a second, shuffle-pattern-distinct CC kernel,
    cross-checked bit-exact against the pointer-doubling min-label kernel
    (`connected_components`) in tests and the driver gate.

    Where min-label propagation shuffles a LABEL table along a FIXED edge
    table every round (O(|E|) join work per round, O(log d) rounds with
    shortcutting), two-phase rewrites the EDGE SET itself toward a star
    forest:

      large-star(u): every neighbor v > u re-points to m = min(N(u) ∪ {u})
      small-star(u): every neighbor v ≤ u (plus u) re-points to that min

    Each phase is ONE map-side-combinable groupBy(min) + ONE equi-join of
    the current edge set against its own ≤|V|-row per-vertex min table —
    no |V|-row state table rides along, and the edge set SHRINKS
    monotonically toward |V|-1 star edges, so late rounds get cheaper
    while min-label rounds stay O(|E|).  O(log² n) rounds proven,
    O(log n) observed; hub groups are map-side combined and the join back
    is AQE-skew-splittable, so power-law graphs need no salting here.

    Convergence probe: one fused (count, hash-checksum) aggregate per
    round on the freshly checkpointed edge set — the star forest is a
    fixpoint of both phases, so an unchanged (n, sum xxhash64) pair ends
    the loop (128-bit-equivalent collision odds; no exceptAll join).
    Returns (vid, comp) with comp = min vid of the component — the same
    contract as `connected_components`, hence the shared oracle.
    """
    # parent-pointer edge set, child > parent, seeded from the symmetric
    # closure (LinkGraph keeps both directions; orient once, dedup)
    seed = (
        graph.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .distinct()
    )

    def _probe(df: DataFrame, _prev: dict | None = None) -> dict:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(F.col("u"), F.col("v")).cast("decimal(38,0)")
            ).alias("h"),
        ).first()
        return {"sig": (int(row["n"] or 0), int(row["h"] or 0))}

    # per-round min tables are ≤|V| rows: broadcast, the edge set never
    # re-shuffles for the re-point joins
    n = graph.num_vertices()

    def step(e: DataFrame, _metrics: dict) -> DataFrame:
        # ---- large-star over the symmetric view: neighbors larger
        # than the center re-point to the center's min
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        # e is strictly child>parent (u > v) by construction, so the
        # v>u half of sym is exactly reverse(e) — project it directly
        # instead of re-scanning and filtering the 2|e|-row union.
        # No intermediate distinct: large-star emits ≤|e| rows (one per
        # input edge), duplicates are invariant under small-star's min
        # aggregate, and the end-of-round distinct collapses them — so
        # deduping here bought nothing but a full extra shuffle per
        # round (A/B: 7.5s → 6.5s on the sf0.1 bench entry).
        e = (
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            .join(F.broadcast(mins) if fits_broadcast(mins, n) else mins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # ---- small-star: all ≤-neighbors plus the center re-point to
        # the center's min neighbor (edges are already child>parent)
        smins = e.groupBy("u").agg(F.min("v").alias("m"))
        return (
            e.join(F.broadcast(smins) if fits_broadcast(smins, n) else smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))  # sibling -> min
            .where(F.col("u") != F.col("v"))
            .unionByName(smins.select(F.col("u"), F.col("m").alias("v")))  # center -> min
            .distinct()
        )

    e, _, converged = fixpoint(
        seed,
        step,
        _probe,
        lambda m, prev: m["sig"] == prev["sig"],
        max_rounds,
        seed_metrics=_probe,
    )
    if not converged:
        warnings.warn(
            f"connected_components_two_phase: max_rounds={max_rounds} "
            "exhausted before the star-forest fixpoint — result may be "
            "unconverged",
            stacklevel=2,
        )
    roots = e.select(F.col("u").alias("vid"), F.col("v").alias("comp"))
    return (
        graph.vertices()
        .join(roots, "vid", "left")
        .select(
            F.col("vid"), F.coalesce(F.col("comp"), F.col("vid")).alias("comp")
        )
    )


def attack_robustness(
    graph: LinkGraph, ks: list[int], by: str = "degree"
) -> DataFrame:
    """Targeted-attack robustness curve (Albert–Barabási): for each hub
    budget k in `ks`, remove the top-k degree vertices (ties by vid, so
    the removal set is deterministic and engine-portable) and report

        (n_removed, n_vertices, n_components, giant_size)

    over the RESIDUAL edge set — vertices isolated by the removal drop
    out entirely (the curve measures what the surviving edges still
    connect).  A scale-free graph collapses fast under this curve and
    barely moves under random removal; this is the one-table robustness
    readout a link-graph operator reads before trusting hub-dependent
    infrastructure.

    `by="hash"` is the random-FAILURE control: the same curve but
    removing k vertices in `portable_hash60(vid#fail)` order — a
    deterministic, engine-portable stand-in for uniform-random removal
    (md5 is standardized, so the DuckDB oracle draws the identical
    sample).  Reading the two curves together is the Albert–Barabási
    diagnostic: scale-free ⟹ attack collapses the giant while failure
    barely dents it.

    Plan per k: the ≤k-row hub set broadcast anti-joins both endpoints
    (no shuffle of the edge table beyond the CC runs themselves), then
    one pointer-doubling CC + a two-level count aggregate.  |ks| is a
    handful; each CC is the standard O(E·log V)-work job chain.
    """
    if by not in ("degree", "hash"):
        raise ValueError(f"attack_robustness: unknown removal order {by!r}")
    out: list[tuple] = []
    spark = graph.edges.sparkSession
    for k in sorted(ks):
        if k == 0:
            sub = graph
        else:
            if by == "degree":
                ordered = graph.degrees().orderBy(
                    F.col("deg").desc(), F.col("vid").asc()
                )
            else:
                from linkgraph.textops.dedup import portable_hash60

                ordered = (
                    graph.edges.select(F.col("src").alias("vid"))
                    .union(graph.edges.select(F.col("dst").alias("vid")))
                    .distinct()
                    .orderBy(
                        portable_hash60(
                            F.concat(F.col("vid").cast("string"), F.lit("#fail"))
                        ).asc(),
                        F.col("vid").asc(),
                    )
                )
            hubs = ordered.limit(k).select("vid")
            e = (
                graph.edges.join(
                    F.broadcast(hubs.withColumnRenamed("vid", "src")), "src", "left_anti"
                )
                .join(
                    F.broadcast(hubs.withColumnRenamed("vid", "dst")), "dst", "left_anti"
                )
                .select("src", "dst")
            )
            sub = LinkGraph(e, materialize=False)
        cc = connected_components(sub)
        sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("sz"))
        row = sizes.agg(
            F.sum("sz").cast("long").alias("n_vertices"),
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.max("sz").cast("long").alias("giant_size"),
        ).collect()[0]  # one summary row per k — bounded driver action
        out.append((k, row.n_vertices, row.n_components, row.giant_size))
        if sub is not graph:
            sub.unpersist()
    return spark.createDataFrame(
        out,
        "n_removed long, n_vertices long, n_components long, giant_size long",
    )


def edge_percolation(graph: LinkGraph, ps: list[float]) -> DataFrame:
    """Bond-percolation curve: for each retention probability p, keep an
    undirected edge iff its canonical-pair portable hash falls under p
    (both directions of an edge draw the SAME coin via the
    least/greatest key, so the subgraph stays symmetric), then report

        (p_keep, n_edges, n_vertices, n_components, giant_size)

    over the surviving edges.  The giant-component emergence point of
    this curve is the percolation threshold — together with
    attack/failure robustness it completes the standard resilience
    triptych (random EDGE loss vs random/targeted VERTEX loss).  The
    md5-derived coin is deterministic and engine-portable, so the
    DuckDB oracle reproduces the identical subgraph per p.

    Plan per p: pure filter on the edge scan (the coin is a projection —
    no shuffle, no sample-collect), one pointer-doubling CC, one
    two-level count aggregate; |ps| is a handful.
    """
    from linkgraph.textops.dedup import portable_hash60

    out: list[tuple] = []
    spark = graph.edges.sparkSession
    coin = F.pmod(
        portable_hash60(
            F.concat(
                F.least("src", "dst").cast("string"),
                F.lit("#"),
                F.greatest("src", "dst").cast("string"),
                F.lit("#perc"),
            )
        ),
        F.lit(10_000),
    )
    for p in sorted(ps):
        if not (0.0 <= p <= 1.0):
            raise ValueError(f"edge_percolation: p={p} outside [0, 1]")
        e = graph.edges.where(coin < int(round(p * 10_000))).select("src", "dst")
        sub = LinkGraph(e, materialize=False)
        ne = sub.edges.count() // 2  # undirected count of the symmetric table
        cc = connected_components(sub)
        sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("sz"))
        row = sizes.agg(
            F.sum("sz").cast("long").alias("n_vertices"),
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.max("sz").cast("long").alias("giant_size"),
        ).collect()[0]
        out.append(
            (
                round(p, 6),
                ne,
                row.n_vertices or 0,
                row.n_components or 0,
                row.giant_size or 0,
            )
        )
        sub.unpersist()
    return spark.createDataFrame(
        out,
        "p_keep double, n_edges long, n_vertices long, n_components long, "
        "giant_size long",
    )
