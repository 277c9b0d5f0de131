"""Distributed greedy graph coloring — deterministic Jones–Plassmann.

Jones & Plassmann [SIAM J. Sci. Comput. 1993] parallel greedy coloring
with the random priority replaced by the engine-portable fixed md5 hash
p(v) = int(md5(f"c:{v}")[:15 hex]) — the same derandomization-by-hash
device the Luby MIS / node2vec / MinHash family uses, so a DuckDB
oracle reproduces every round bit-for-bit and the coloring is
independent of partitioning, retries, and cluster shape.

Round r over the uncolored set U:
  * v in U COLORS ITSELF iff p(v) is strictly smaller than every
    uncolored neighbor's priority (the per-round winner set is exactly
    a Luby independent set, so concurrent color picks can never
    conflict);
  * the color picked is the smallest c >= 0 not already used by a
    colored neighbor — read off a per-vertex USED-COLOR BITMASK as the
    lowest zero bit, pure integer ops:
        free = ~used & (used + 1)      # isolates lowest zero bit
        color = bit_count(free - 1)    # its index
  * winners then OR 1<<color into each neighbor's mask — one
    frontier-expand + per-vertex bit_or aggregate, the exact ANP shape
    MS-BFS uses (SURVEY.md K1/A1).

Greedy ⟹ at most Δ+1 colors; the single-limb mask holds 64 colors,
enough for Δ ≤ 63 neighborhoods (the transcript link graphs are
hub-capped well below that; the multi-limb extension is the same
8-limb array the MS-BFS bitsets already use and is noted, not built,
until a fixture needs it — the operator raises loudly at the cap
rather than miscoloring).

Scale shape: per round ONE expand over the uncolored priorities (MIN
agg) + ONE expand over the new winners (bit_or agg), one
`linkgraph.iterate.fixpoint` iteration; state is (vid, used, color,
colored_round) — O(|V|) longs; est_rows for every expand is the MEASURED
uncolored count from the previous round's probe, never an estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.iterate import checkpoint, fixpoint, loop_partitions, release

MAX_COLORS = 64  # single-limb used-mask capacity


def _prio(vid_col):
    """Fixed engine-portable priority: 60-bit md5 prefix of "c:vid"."""
    key = F.concat(F.lit("c:"), vid_col.cast("string"))
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")


def greedy_coloring(
    graph: LinkGraph, rounds: int | None = None, max_rounds: int = 256
) -> DataFrame:
    """Returns (vid, color, colored_round) for every vertex colored
    within the round budget.

    rounds=R runs exactly R Jones–Plassmann rounds (SQL-mirrorable:
    the identical — possibly partial — coloring in any engine);
    rounds=None runs until every vertex is colored.  graph must be
    symmetric (undirected neighborhoods).  Adjacent vertices always
    receive different colors; the palette is at most Δ+1 wide.
    """
    if not graph.symmetric:
        raise ValueError("greedy_coloring needs a symmetric graph")
    winners: list[DataFrame] = []

    def step(state: DataFrame, m: dict) -> DataFrame:
        r = m["round"] + 1
        p = state.where(F.col("color").isNull()).select(
            "vid", "used", _prio(F.col("vid")).alias("p")
        )
        nbrmin = (
            graph.expand(p.select(F.col("vid").alias("src"), "p"), est_rows=m["uncolored"])
            .groupBy("dst")
            .agg(F.min("p").alias("mn"))
        )
        # python ~/&/| on Columns are the BOOLEAN ops in pyspark; the
        # integer forms are bitwise_not / .bitwiseAND / .bitwiseOR
        free = F.bitwise_not(F.col("used")).bitwiseAND(F.col("used") + F.lit(1))
        # checkpointed: the winners feed both the state and the color-bit
        # expand; left in the plan, the sf0.1 query ran 1.4-1.6x slower
        # (4 vCPU, local[4])
        w = checkpoint(
            p.join(nbrmin, p["vid"] == nbrmin["dst"], "left")
            .where(F.col("mn").isNull() | (F.col("p") < F.col("mn")))
            .select(p["vid"], F.bit_count(free - F.lit(1)).alias("won"))
        )
        for done_with in winners:  # the state that read them is materialized
            release(done_with)
        winners[:] = [w]
        # winners broadcast their color bit to every neighbor (ANP bit_or)
        newbits = (
            graph.expand(
                w.select(
                    F.col("vid").alias("src"),
                    # F.shiftleft needs a python-int bit count; the SQL
                    # form takes a column
                    F.expr("shiftleft(CAST(1 AS BIGINT), won)").alias("b"),
                ),
                est_rows=m["uncolored"],
            )
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.bit_or("b").alias("nb"))
        )
        # colored rows pass through: only the uncolored ones join
        updated = (
            state.where(F.col("color").isNull())
            .join(w, "vid", "left")
            .join(newbits, "vid", "left")
            .select(
                "vid",
                F.col("used")
                .bitwiseOR(F.coalesce(F.col("nb"), F.lit(0).cast("long")))
                .alias("used"),
                F.col("won").alias("color"),
                F.when(F.col("won").isNotNull(), F.lit(r)).alias("colored_round"),
            )
        )
        # coalesce: the union would add a shuffle's worth of partitions a round
        return (
            state.where(F.col("color").isNotNull())
            .unionByName(updated)
            .coalesce(loop_partitions(state))
        )

    def uncolored(state: DataFrame, m: dict | None = None) -> dict:
        """Uncolored count, plus the palette-overflow probe of the round's
        winners, in one action."""
        r = m["round"] + 1 if m else 0
        n, mx = state.agg(
            F.sum(F.when(F.col("color").isNull(), 1).otherwise(0)),
            F.max(F.when(F.col("colored_round") == r, F.col("color"))),
        ).first()
        if mx is not None and mx >= MAX_COLORS:
            raise ValueError(
                f"greedy_coloring: >{MAX_COLORS - 1} neighbor colors at "
                "some vertex — graph degree exceeds the single-limb "
                "palette; extend to multi-limb masks for this input"
            )
        return {"round": r, "uncolored": int(n or 0)}

    state, m, _ = fixpoint(
        graph.vertices().select(
            "vid",
            F.lit(0).cast("long").alias("used"),
            F.lit(None).cast("int").alias("color"),
            F.lit(None).cast("int").alias("colored_round"),
        ),
        step,
        uncolored,
        lambda m, _: m["uncolored"] == 0,
        rounds if rounds is not None else max_rounds,
        seed_metrics=uncolored,
    )
    for done_with in winners:
        release(done_with)
    if m["uncolored"] > 0 and rounds is None:
        import warnings

        warnings.warn(
            f"greedy_coloring: round budget exhausted with {m['uncolored']} uncolored "
            "vertices — returned coloring is proper but partial",
            stacklevel=2,
        )
    return state.where(F.col("color").isNotNull()).select(
        F.col("vid").cast("long").alias("vid"),
        F.col("color").cast("int").alias("color"),
        F.col("colored_round").cast("int").alias("colored_round"),
    )
