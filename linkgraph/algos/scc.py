"""Strongly connected components for DIRECTED graphs (SURVEY.md K6
family) — the data-parallel "coloring" algorithm (Orzan-style FW
partition + backward root-reach test), not Tarjan (inherently
sequential).

Round structure over the unassigned subgraph:
  1. f(v) = min vid with a directed path TO v (min-label forward
     propagation).  SCC members mutually reach, so they share ancestors,
     so f is CONSTANT on every SCC — the f-classes partition the graph
     with each SCC wholly inside a class, and each class root m has
     f(m) = m.
  2. br(v) = min vid v reaches WITHIN ITS CLASS (the same min-label
     kernel on class-restricted REVERSED edges).  br(v) == f(v) ⟺ v
     reaches its root ⟺ v ∈ SCC(f(v)): any v→root path stays in-class
     automatically (every vertex on it is mutually reachable with the
     root), so the restriction loses nothing.
  3. Assign comp = f(v) where br(v) == f(v); peel; repeat on the rest.

Why coloring instead of plain FW∩BW label equality: a decreasing chain
5→4→3→2→1 makes label-equality peel ONE vertex per round (O(V) rounds);
here every singleton f-class assigns immediately, so that chain finishes
in a single round — rounds track SCC nesting depth along decreasing
roots, which is small on any non-adversarial graph.

Both propagations POINTER-DOUBLE (lbl(v) ← min(lbl(v), lbl(lbl(v))) is
valid because lbl(v) reaches v transitively), so each converges in
O(log longest-path) iterations of `linkgraph.iterate.fixpoint` (one fused
job each, AQE-off shuffled-hash profile).  FW-BW-Trim's peel runs on the
same driver, and every round-level table is an eager checkpoint re-rooted
on its measured size (`linkgraph.iterate.checkpoint`), released once
nothing reads it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.iterate import checkpoint, count_changed, fixpoint, loop_partitions, release


def _min_label_reach(edges: DataFrame, init: DataFrame, max_iter: int) -> DataFrame:
    """(vid, lbl, pl): lbl = min vid with a directed path TO vid (incl.
    vid); pl is the previous iteration's label.  init: (vid, lbl) starting
    labels (vid, vid).  Pointer-doubled."""

    def step(lbl: DataFrame, _m: dict) -> DataFrame:
        msgs = (
            lbl.join(edges, lbl["vid"] == edges["src"])
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.min("lbl").alias("nl"))
        )
        stepped = lbl.join(msgs, "vid", "left").select(
            "vid",
            F.least(F.col("lbl"), F.coalesce(F.col("nl"), F.col("lbl"))).alias("lbl"),
            F.col("lbl").alias("pl"),
        )
        # pointer doubling: lbl(v) <- min(lbl(v), lbl(lbl(v))) — valid
        # because lbl(v) reaches v, so anything reaching lbl(v) reaches v
        mapping = lbl.select(F.col("vid").alias("lbl"), F.col("lbl").alias("ll"))
        return stepped.join(mapping, "lbl", "left").select(
            "vid",
            F.least(F.col("lbl"), F.coalesce(F.col("ll"), F.col("lbl"))).alias("lbl"),
            "pl",
        )

    lbl, m, converged = fixpoint(
        init,
        step,
        lambda st, _: {"changed": count_changed(st, "lbl", "pl")},
        lambda m, _: m["changed"] == 0,
        max_iter,
    )
    if not converged:
        # stale labels can split one SCC across comp values WITHOUT leaving
        # any vertex unassigned, so the outer incomplete-result warning
        # never fires — surface the budget exhaustion here
        import warnings

        warnings.warn(
            f"_min_label_reach: max_iter={max_iter} exhausted with "
            f"{m.get('changed')} labels still changing — component labels may "
            "be split; raise max_iter",
            stacklevel=2,
        )
    return lbl


def _trim(e, verts, nv, assigned_parts, max_trim=100):
    """FW-BW-Trim: iteratively peel vertices with no in-edge or no
    out-edge in the remaining graph — each is a singleton SCC (nothing
    off a cycle survives trim).  Tendril-heavy graphs shed the bulk of
    their vertices here for semi-joins, orders of magnitude cheaper than
    label propagation rounds.

    The peel's state is the edge set: a layer keeps the edges whose both
    endpoints have an out-edge and an in-edge, so an unchanged edge count
    is the fixpoint, and the survivors are the final edges' endpoints.
    Every vertex of `verts` that is not one is assigned to itself with ONE
    anti-join at the end.  Consumes `e` and `verts` (released when
    replaced); returns the new (e, verts, nv)."""
    if nv == 0:
        return e, verts, nv

    def step(t: DataFrame, _m: dict) -> DataFrame:
        good = (
            t.select(F.col("src").alias("vid")).distinct()
            .join(t.select(F.col("dst").alias("vid")).distinct(), "vid", "left_semi")
        )
        return (
            t.join(good.withColumnRenamed("vid", "src"), "src", "left_semi")
            .join(good.withColumnRenamed("vid", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )

    def edge_count(t: DataFrame, _m: dict | None = None) -> dict:
        return {"edges": t.count()}

    kept, _, _ = fixpoint(
        e,
        step,
        edge_count,
        lambda m, prev: m["edges"] == prev["edges"],
        max_trim,
        seed_metrics=edge_count,
    )
    release(e)
    survivors = checkpoint(
        kept.select(F.col("src").alias("vid"))
        .union(kept.select(F.col("dst").alias("vid")))
        .distinct()
    )
    ns = survivors.count()
    if ns == nv:
        release(survivors)
        return kept, verts, nv
    assigned_parts.append(
        checkpoint(
            verts.join(survivors, "vid", "left_anti").select(
                "vid", F.col("vid").alias("comp")
            )
        )
    )
    release(verts)
    return kept, survivors, ns


def strongly_connected_components(
    edges: DataFrame, max_rounds: int = 64, max_iter: int = 200
) -> DataFrame:
    """edges: DIRECTED (src, dst).  Returns (vid, comp) with
    comp = min vid in the vertex's SCC.  Exact at convergence.

    Phase order: trim → (color → peel → trim)*, the classic FW-BW-Trim
    interleave — peeling an SCC exposes fresh sources/sinks, so re-trim
    after every coloring round."""
    e = checkpoint(
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    verts = checkpoint(
        e.select(F.col("src").alias("vid"))
        .union(e.select(F.col("dst").alias("vid")))
        .distinct()
    )
    spark = edges.sparkSession
    nv = verts.count()

    assigned_parts: list[DataFrame] = []
    e, verts, nv = _trim(e, verts, nv, assigned_parts)
    for _ in range(max_rounds):
        if nv == 0:
            break
        init = verts.select("vid", F.col("vid").alias("lbl"))
        f = _min_label_reach(e, init, max_iter)

        # class-restricted reversed edges: both endpoints share f
        fe = f.select(F.col("vid").alias("src"), F.col("lbl").alias("fs"))
        fd = f.select(F.col("vid").alias("dst"), F.col("lbl").alias("fd"))
        rev_class = checkpoint(
            e.join(fe, "src")
            .join(fd, "dst")
            .where(F.col("fs") == F.col("fd"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        br = _min_label_reach(rev_class, init, max_iter)

        joined = f.select("vid", "lbl").join(
            br.select("vid", F.col("lbl").alias("br")), "vid"
        )
        assigned_parts.append(
            checkpoint(
                joined.where(F.col("lbl") == F.col("br")).select(
                    "vid", F.col("lbl").alias("comp")
                )
            )
        )
        rest = checkpoint(joined.where(F.col("lbl") != F.col("br")).select("vid"))
        for done_with in (f, rev_class, br, verts):
            release(done_with)
        verts = rest
        nv = verts.count()
        if nv == 0:
            break
        # restrict edges to unassigned vertices, then re-trim:
        # peeling exposes fresh sources/sinks
        restricted = checkpoint(
            e.join(verts.withColumnRenamed("vid", "src"), "src", "left_semi")
            .join(verts.withColumnRenamed("vid", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
        release(e)
        e, verts, nv = _trim(restricted, verts, nv, assigned_parts)

    release(e)
    release(verts)
    if nv > 0:
        import warnings

        warnings.warn(
            f"strongly_connected_components: max_rounds={max_rounds} (or an "
            f"inner max_iter={max_iter}) exhausted with {nv} vertices still "
            "unassigned — the returned mapping is INCOMPLETE",
            stacklevel=2,
        )
    if not assigned_parts:
        return spark.createDataFrame([], "vid long, comp long")
    out = assigned_parts[0]
    for p in assigned_parts[1:]:
        out = out.union(p)
    out = checkpoint(out.select(F.col("vid").cast("long"), F.col("comp").cast("long")))
    for p in assigned_parts:
        release(p)
    return out


def bowtie_decomposition(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Bow-tie structure map of a directed graph [Broder et al., WWW
    2000, public formulation]: one row (scc_size, in_size, out_size,
    other_size, n_vertices) where SCC is the LARGEST strongly connected
    component, IN the vertices reaching it (but not in it), OUT those it
    reaches, and OTHER the rest (tendrils/tubes/disconnected) — the
    first structural question asked of any web-scale directed graph.

    Pipeline: `strongly_connected_components` → largest component
    (max size, min-comp-id tie-break — one bounded scalar action) →
    forward reachability by iterative frontier expansion over the edge
    table and backward over its transpose (each round ONE
    `linkgraph.iterate.fixpoint` iteration: an expand join + an anti-join
    against the visited set, the new level counted by the probe;
    O(diameter) rounds).  All-integer output.
    """
    spark = edges.sparkSession
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    e = e.persist()
    comp = strongly_connected_components(e)
    comp = comp.persist()
    top = (
        comp.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("comp").asc())
        .first()
    )
    scc = comp.where(F.col("comp") == int(top["comp"])).select("vid", F.lit(0).alias("lvl"))
    scc_size = int(top["n"])

    def reach(ed: DataFrame) -> int:
        """How many vertices outside the SCC are reachable from it along
        `ed`: a level loop over the visited set (vid, lvl)."""

        def step(visited: DataFrame, m: dict) -> DataFrame:
            frontier = visited.where(F.col("lvl") == m["level"]).select(F.col("vid").alias("src"))
            nxt = (
                ed.join(frontier, "src")
                .select(F.col("dst").alias("vid"))
                .distinct()
                .join(visited, "vid", "left_anti")
                .withColumn("lvl", F.lit(m["level"] + 1))
            )
            # coalesce: the union would add a shuffle's worth of partitions a level
            return visited.unionByName(nxt).coalesce(loop_partitions(visited))

        def new_level(visited: DataFrame, m: dict) -> dict:
            n = visited.where(F.col("lvl") == m["level"] + 1).count()
            return {"level": m["level"] + 1, "reached": m["reached"] + n, "new": n}

        visited, m, _ = fixpoint(
            scc,
            step,
            new_level,
            lambda m, _: m["new"] == 0,
            max_rounds,
            seed_metrics=lambda _: {"level": 0, "reached": 0},
        )
        release(visited)
        return m["reached"]

    out_size = reach(e)
    in_size = reach(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    verts = e.select(F.col("src").alias("vid")).unionByName(
        e.select(F.col("dst").alias("vid"))
    ).distinct()
    n_total = verts.count()
    e.unpersist()
    comp.unpersist()
    return spark.createDataFrame(
        [
            (
                scc_size,
                in_size,
                out_size,
                n_total - scc_size - in_size - out_size,
                n_total,
            )
        ],
        "scc_size long, in_size long, out_size long, other_size long, n_vertices long",
    )


def condensation_layers(
    edges: DataFrame, rounds: int | None = 8, max_rounds: int = 256
) -> DataFrame:
    """(comp, depth): longest-path LAYER of every SCC in the condensation
    quotient DAG — the topological structure report of a directed graph
    (condensing the SCCs is what makes layering well-defined at all; the
    raw graph has cycles).  depth(c) = length of the longest condensation
    path ending at c, so layer-0 components are the sources and max depth
    is the DAG's critical-path length.

    Max-plus relaxation over the quotient edges: per sweep ONE
    co-partitioned join (ce ⋈ depth on the source component) + one
    partial+final MAX per component — the min-label CC shape with max-plus
    algebra, O(|E_c|) per sweep, no windows.  The quotient is acyclic, so
    depths are monotone non-decreasing and converge in (critical path)
    sweeps; the integer SUM(depth) is therefore a one-action convergence
    probe (unchanged sum == fixpoint — values only ever grow).

    rounds=R runs exactly R sweeps (mirrorable by an unrolled SQL chain,
    identical even if not yet converged); rounds=None runs to fixpoint and
    WARNS if max_rounds is exhausted first (scc.py's budget discipline).
    """
    comp = strongly_connected_components(edges)
    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    cs = comp.select(F.col("vid").alias("src"), F.col("comp").alias("c_src"))
    cd = comp.select(F.col("vid").alias("dst"), F.col("comp").alias("c_dst"))
    ce = checkpoint(
        e.join(cs, "src")
        .join(cd, "dst")
        .where(F.col("c_src") != F.col("c_dst"))
        .select(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .distinct()
    )

    def step(depth: DataFrame, _m: dict) -> DataFrame:
        msgs = ce.join(depth.withColumnRenamed("c", "src"), "src").select(
            F.col("dst").alias("c"), (F.col("depth") + 1).alias("depth")
        )
        return depth.unionByName(msgs).groupBy("c").agg(F.max("depth").alias("depth"))

    depth, _, converged = fixpoint(
        comp.select(F.col("comp").alias("c")).distinct().withColumn("depth", F.lit(0).cast("long")),
        step,
        lambda d, _: {"sum": d.agg(F.sum("depth")).first()[0] or 0},
        lambda m, prev: rounds is None and m["sum"] == prev["sum"],
        rounds if rounds is not None else max_rounds,
        seed_metrics=lambda _: {"sum": 0},
    )
    if not converged and rounds is None:
        import warnings

        warnings.warn(
            f"condensation_layers: max_rounds={max_rounds} exhausted "
            "before the depth fixpoint; layers may be lower bounds",
            stacklevel=2,
        )
    release(comp)
    release(ce)
    return depth.select(
        F.col("c").cast("long").alias("comp"),
        F.col("depth").cast("long").alias("depth"),
    )
