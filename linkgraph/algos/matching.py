"""Maximal matching via deterministic local-min edge rounds.

The parallel greedy matching of Israeli–Itai [IPL 1986], derandomized
with the engine-portable md5 device the MIS/node2vec/Louvain kernels
use: every undirected edge draws a fixed 60-bit priority
p(u,v) = H("me:u:v"), and in each round an edge is MATCHED iff it is
the strict minimum-priority incident edge of BOTH its endpoints
(ties broken by (u, v), a total order).  Matched endpoints leave the
graph; surviving edges re-compete.  Two matched edges can never share
a vertex (each vertex has exactly one argmin edge), so the output is a
matching by construction; when the edge set drains it is maximal
(every removed edge lost an endpoint to some matched edge).  Expected
rounds O(log |E|) — the same geometric-drain argument as Luby.

A maximal matching is the standard parallel coarsening/pairing
primitive (multilevel graph partitioning, 2-approximate vertex cover
= the matched vertex set).

Scale shape:
  * one `linkgraph.iterate.fixpoint` round per matching round; the state
    is the canonical edge set (u < v, one row per undirected edge) with
    its static priority and `mr`, the round that matched the edge (0 while
    it is alive).  Alive edges only ever shrink, matched ones ride along;
  * per round: per-vertex argmin = union of the two endpoint views +
    ONE partial+final MIN(struct) aggregate (map-side combined, never
    a window sort); a vertex is matched when its argmin edge is also the
    argmin of the other endpoint (one self-join of the ≤|V|-row argmin
    table); each alive edge then takes two hash joins against the matched
    vertices: matched now, dropped, or still alive;
  * the probe counts the alive edges (one job per round).

rounds=R runs exactly R unrolled rounds (the DuckDB oracle mirrors the
same R rounds bit-for-bit — a well-defined matching prefix, possibly
not yet maximal); rounds=None drains to maximality under max_rounds
with the scc.py budget warning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.iterate import fixpoint


def _edge_prio(u_col, v_col):
    """Fixed engine-portable edge priority: 60-bit md5 prefix of "me:u:v"."""
    key = F.concat(
        F.lit("me:"), u_col.cast("string"), F.lit(":"), v_col.cast("string")
    )
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")


def maximal_matching(
    graph: LinkGraph, rounds: int | None = None, max_rounds: int = 64
) -> DataFrame:
    """Returns (u, v, matched_round) with u < v, one row per matched edge.

    graph must be symmetric (undirected edges)."""
    if not graph.symmetric:
        raise ValueError("maximal_matching needs a symmetric graph")
    seed = graph.edges.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        _edge_prio(F.col("src"), F.col("dst")).alias("p"),
        F.lit(0).alias("mr"),
    )

    def step(state: DataFrame, metrics: dict) -> DataFrame:
        r = metrics["round"] + 1
        keyed = state.withColumn("k", F.struct(F.col("p"), F.col("u"), F.col("v")))
        alive = keyed.where(F.col("mr") == 0)
        mn = (
            alive.select(F.col("u").alias("vid"), "k")
            .unionByName(alive.select(F.col("v").alias("vid"), "k"))
            .groupBy("vid")
            .agg(F.min("k").alias("k"))
        )
        # x is matched when its argmin edge is the argmin of the other end
        other = F.when(F.col("a.k.u") == F.col("a.vid"), F.col("a.k.v")).otherwise(
            F.col("a.k.u")
        )
        matched = (
            mn.alias("a")
            .join(mn.alias("b"), other == F.col("b.vid"))
            .where(F.col("a.k") == F.col("b.k"))
            .select(F.col("a.vid").alias("vid"), F.col("a.k").alias("mk"))
        )
        # an edge matched in an earlier round has no alive endpoint, so it
        # meets no matched vertex and keeps its round
        mu = matched.select(F.col("vid").alias("u"), F.col("mk").alias("mu"))
        mv = matched.select(F.col("vid").alias("v"), F.col("mk").alias("mv"))
        return (
            keyed.join(mu, "u", "left")
            .join(mv, "v", "left")
            .where(
                (F.col("mr") > 0)
                | (F.col("mu") == F.col("k"))
                | (F.col("mu").isNull() & F.col("mv").isNull())
            )
            .select(
                "u",
                "v",
                "p",
                F.when(F.col("mu").isNotNull(), F.lit(r)).otherwise(F.col("mr")).alias("mr"),
            )
        )

    def alive_count(state: DataFrame, metrics: dict | None = None) -> dict:
        n = state.agg(F.sum(F.when(F.col("mr") == 0, 1).otherwise(0))).first()[0]
        return {"round": metrics["round"] + 1 if metrics else 0, "alive": int(n or 0)}

    state, m, _ = fixpoint(
        seed,
        step,
        alive_count,
        lambda m, _: m["alive"] == 0,
        rounds if rounds is not None else max_rounds,
        seed_metrics=alive_count,
    )
    if m["alive"] > 0 and rounds is None:
        import warnings

        warnings.warn(
            f"maximal_matching: round budget exhausted with {m['alive']} live "
            "edges — result is a matching but may not be maximal",
            stacklevel=2,
        )
    return state.where(F.col("mr") > 0).select(
        F.col("u").cast("long").alias("u"),
        F.col("v").cast("long").alias("v"),
        F.col("mr").cast("int").alias("matched_round"),
    )
