"""Maximal independent set via deterministic Luby rounds.

Luby's classic algorithm [Luby, SIAM J. Comput. 1986] with the random
priority replaced by the engine-portable per-round md5 hash
H(r, v) = int(md5(f"{r}:{v}")[:15 hex]) — the same derandomization-by-
hash device the node2vec sampler and MinHash family use, so the DuckDB
oracle reproduces every round bit-for-bit and the result is independent
of partitioning, retries, and cluster shape.

Round r over the undecided set U:
  * every v in U draws prio p(v) = H(r, v);
  * v JOINS the MIS iff p(v) is STRICTLY smaller than every undecided
    neighbor's prio (ties leave both out this round — deterministic, and
    re-drawn next round with a fresh hash), or v has no undecided
    neighbor left;
  * winners' neighbors are decided OUT; U shrinks by winners + their
    neighborhood.

Adjacent winners are impossible (strict < is antisymmetric), so the
output is independent by construction; when the loop drains U it is
maximal (every removed vertex is a winner or adjacent to one).  Dense
graphs drain in very few rounds; the expected-rounds bound is
O(log |V|) w.h.p. for any graph.

Scale shape (the MS-BFS/SSSP frontier machinery, SURVEY.md J1/A5):
  * the per-round neighbor-min is ONE LinkGraph.expand (edge table never
    shuffles; the |U|-row prio table broadcasts under the byte gate or
    shuffles on src) followed by a partial+final MIN aggregate — the ANP
    shape, map-side combined;
  * each round is one `linkgraph.iterate.fixpoint` iteration over the
    state (vid, joined_round): U (joined_round NULL) and the members so
    far — O(|V|) longs;
  * est_rows for every expand is the MEASURED |U| from the previous
    round's probe (the betweenness round-4 lesson: never estimate what
    the loop already measured).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.iterate import fixpoint


def _prio(round_no: int, vid_col):
    """Engine-portable per-round priority: 60-bit md5 prefix of "r:vid"."""
    key = F.concat(F.lit(f"{round_no}:"), vid_col.cast("string"))
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")


def maximal_independent_set(
    graph: LinkGraph, rounds: int | None = None, max_rounds: int = 64
) -> DataFrame:
    """Returns (vid, joined_round) for every MIS member.

    rounds=R runs exactly R Luby rounds (SQL-mirrorable: the same R
    unrolled rounds in any engine produce the identical — possibly not
    yet maximal — set); rounds=None runs until U drains (true MIS).
    graph must be symmetric (undirected neighborhoods).
    """
    if not graph.symmetric:
        raise ValueError("maximal_independent_set needs a symmetric graph")

    def step(state: DataFrame, m: dict) -> DataFrame:
        r = m["round"] + 1
        und = state.where(F.col("joined_round").isNull())
        p = und.select("vid", _prio(r, F.col("vid")).alias("p"))
        # min undecided-neighbor prio, per vertex: expand from every
        # undecided vertex (msgs keyed by src), MIN-aggregate on dst.
        nbrmin = (
            graph.expand(p.select(F.col("vid").alias("src"), "p"), est_rows=m["undecided"])
            .groupBy("dst")
            .agg(F.min("p").alias("mn"))
        )
        w = (
            p.join(nbrmin, p["vid"] == nbrmin["dst"], "left")
            .where(F.col("mn").isNull() | (F.col("p") < F.col("mn")))
            .select(p["vid"], F.lit(r).alias("won"))
        )
        # drop the winners' whole neighborhood from U.  It holds no member:
        # winners are in U, whose vertices no earlier member neighbors
        excl = (
            graph.expand(w.select(F.col("vid").alias("src")), est_rows=m["undecided"])
            .select(F.col("dst").alias("vid"))
            .distinct()
        )
        return (
            state.join(excl, "vid", "left_anti")
            .join(w, "vid", "left")
            .select("vid", F.coalesce("joined_round", "won").alias("joined_round"))
        )

    def undecided(state: DataFrame, m: dict | None = None) -> dict:
        n = state.agg(F.sum(F.when(F.col("joined_round").isNull(), 1).otherwise(0))).first()[0]
        return {"round": m["round"] + 1 if m else 0, "undecided": int(n or 0)}

    state, m, _ = fixpoint(
        graph.vertices().select("vid", F.lit(None).cast("int").alias("joined_round")),
        step,
        undecided,
        lambda m, _: m["undecided"] == 0,
        rounds if rounds is not None else max_rounds,
        seed_metrics=undecided,
    )
    if m["undecided"] > 0 and rounds is None:
        import warnings

        warnings.warn(
            f"maximal_independent_set: round budget exhausted with {m['undecided']} "
            "undecided vertices — result is independent but may not be maximal",
            stacklevel=2,
        )
    return state.where(F.col("joined_round").isNotNull()).select(
        F.col("vid").cast("long").alias("vid"),
        F.col("joined_round").cast("int").alias("joined_round"),
    )
