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
agg) + ONE expand over the new winners (bit_or agg); state is
(vid, used, color) — O(|V|) longs; est_rows for every expand is the
MEASURED uncolored/winner count from the round's own actions, never an
estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph, iteration_plan
from linkgraph.iterate import release

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
    spark = graph.spark
    state = (
        graph.vertices()
        .select("vid", F.lit(0).cast("long").alias("used"))
        .localCheckpoint(eager=True)
    )
    n_unc = state.count()
    parts: list[DataFrame] = []

    budget = rounds if rounds is not None else max_rounds
    with iteration_plan(spark):
        for r in range(1, budget + 1):
            if n_unc == 0:
                break
            p = state.select("vid", "used", _prio(F.col("vid")).alias("p"))
            nbrmin = (
                graph.expand(
                    p.select(F.col("vid").alias("src"), "p"), est_rows=n_unc
                )
                .groupBy("dst")
                .agg(F.min("p").alias("mn"))
            )
            # python ~/&/| on Columns are the BOOLEAN ops in pyspark; the
            # integer forms are bitwise_not / .bitwiseAND / .bitwiseOR
            free = F.bitwise_not(F.col("used")).bitwiseAND(
                F.col("used") + F.lit(1)
            )
            w = (
                p.join(nbrmin, p["vid"] == nbrmin["dst"], "left")
                .where(F.col("mn").isNull() | (F.col("p") < F.col("mn")))
                .select(
                    p["vid"], F.bit_count(free - F.lit(1)).alias("color")
                )
                .localCheckpoint(eager=True)
            )
            # one action: winner count + palette-overflow probe together
            agg = w.agg(
                F.count("*").alias("n"), F.max("color").alias("mx")
            ).first()
            n_w = agg["n"]
            if n_w > 0 and agg["mx"] >= MAX_COLORS:
                raise ValueError(
                    f"greedy_coloring: >{MAX_COLORS - 1} neighbor colors at "
                    "some vertex — graph degree exceeds the single-limb "
                    "palette; extend to multi-limb masks for this input"
                )
            parts.append(w.select("vid", "color", F.lit(r).alias("colored_round")))
            # winners broadcast their color bit to every neighbor (ANP bit_or)
            newbits = (
                graph.expand(
                    w.select(
                        F.col("vid").alias("src"),
                        # F.shiftleft needs a python-int bit count; the SQL
                        # form takes a column
                        F.expr("shiftleft(CAST(1 AS BIGINT), color)").alias("b"),
                    ),
                    est_rows=n_w,
                )
                .groupBy("dst")
                .agg(F.bit_or("b").alias("nb"))
            )
            nxt = (
                state.join(w.select("vid"), "vid", "left_anti")
                .join(newbits, state["vid"] == newbits["dst"], "left")
                .select(
                    state["vid"],
                    F.col("used")
                    .bitwiseOR(F.coalesce(F.col("nb"), F.lit(0).cast("long")))
                    .alias("used"),
                )
                .localCheckpoint(eager=True)
            )
            n_unc = nxt.count()
            release(state)
            state = nxt
    release(state)
    if n_unc > 0 and rounds is None:
        import warnings

        warnings.warn(
            f"greedy_coloring: round budget exhausted with {n_unc} uncolored "
            "vertices — returned coloring is proper but partial",
            stacklevel=2,
        )
    if not parts:
        return spark.createDataFrame([], "vid long, color int, colored_round int")
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out.select(
        F.col("vid").cast("long").alias("vid"),
        F.col("color").cast("int").alias("color"),
        F.col("colored_round").cast("int").alias("colored_round"),
    )
