"""Bipartiteness / odd-cycle detection per connected component.

A component is bipartite iff a BFS 2-coloring from any root yields no
edge whose endpoints share a color — equivalently, no odd cycle.  The
distributed form:

  1. components (existing min-label kernel) pick a deterministic root
     per component (min vid);
  2. ONE multi-root BFS runs all components simultaneously — roots are
     in disjoint components, so their frontiers never interfere and a
     single (vid, dist) table serves every component at once (one
     frontier-expand join per level, the msbfs/sssp loop shape, with
     the measured frontier count threaded into expand(est_rows=…));
  3. parity = dist % 2; a conflict is a symmetric edge (src < dst side)
     with equal endpoint parity — one join against the parity table,
     counted per component.

The level loop is `linkgraph.iterate.fixpoint` over the visited set
(vid, dist): one fused job a level, whose one bounded scalar (the new
level's size, the same budget shape as sssp.py's frontier_rows) feeds the
next expand and ends the loop at 0.  At 100 TB the per-level cost is the same
frontier-expand join every BFS here pays; no new shuffle shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.algos.components import connected_components
from linkgraph.graph import LinkGraph
from linkgraph.iterate import fixpoint, loop_partitions


def bipartite_check(graph: LinkGraph, max_levels: int = 64) -> DataFrame:
    """(comp, n_vertices, n_odd_edges, is_bipartite) per component —
    n_odd_edges counts conflict edges (src < dst orientation) whose BFS
    parities from the component's min-vid root coincide."""
    comps = connected_components(graph)

    def step(visited: DataFrame, m: dict) -> DataFrame:
        msgs = visited.where(F.col("dist") == m["level"]).select(F.col("vid").alias("src"))
        nxt = (
            graph.expand(msgs, est_rows=m["frontier"])
            .select(F.col("dst").alias("vid"))
            .distinct()
            .join(visited, "vid", "left_anti")
            .withColumn("dist", F.lit(m["level"] + 1))
        )
        # coalesce: the union would add a shuffle's worth of partitions a level
        return visited.unionByName(nxt).coalesce(loop_partitions(visited))

    def frontier(visited: DataFrame, m: dict | None = None) -> dict:
        level = m["level"] + 1 if m is not None else 0
        n = visited.agg(F.sum(F.when(F.col("dist") == level, 1).otherwise(0))).first()[0]
        return {"level": level, "frontier": int(n or 0)}

    visited, _, _ = fixpoint(
        comps.groupBy("comp").agg(F.min("vid").alias("vid")).select("vid", F.lit(0).alias("dist")),
        step,
        frontier,
        lambda m, _: m["frontier"] == 0,
        max_levels,
        seed_metrics=frontier,
    )
    par = visited.select("vid", (F.col("dist") % 2).alias("par"))
    e = graph.edges.select("src", "dst").where(F.col("src") < F.col("dst"))
    odd = (
        e.join(
            par.select(F.col("vid").alias("src"), F.col("par").alias("ps")), "src"
        )
        .join(par.select(F.col("vid").alias("dst"), F.col("par").alias("pd")), "dst")
        .where(F.col("ps") == F.col("pd"))
        .join(comps.select(F.col("vid").alias("src"), "comp"), "src")
        .groupBy("comp")
        .agg(F.count(F.lit(1)).alias("n_odd"))
    )
    cstats = comps.groupBy("comp").agg(F.count(F.lit(1)).alias("n_vertices"))
    return cstats.join(odd, "comp", "left").select(
        F.col("comp").cast("long").alias("comp"),
        F.col("n_vertices").cast("long").alias("n_vertices"),
        F.coalesce("n_odd", F.lit(0)).cast("long").alias("n_odd_edges"),
        (F.coalesce("n_odd", F.lit(0)) == 0).alias("is_bipartite"),
    )
