"""SimRank structural similarity on a query-induced subgraph.

SimRank [Jeh & Widom, KDD 2002]: two vertices are similar if their
neighbors are similar — s(a,a) = 1, and for a != b

    s(a,b) = C / (|I(a)||I(b)|) * sum_{u in I(a), v in I(b)} s(u,v)

computed here by the standard fixed-point iteration from s_0 = I.

Why an INDUCED-SUBGRAPH operator: the exact iteration is dense over
vertex PAIRS — Theta(|V|^2) state with a deg^2 expansion per update —
which no partitioning saves at web scale.  The honest production shape
is therefore (a) exact SimRank over the query's working set (the top-K
hubs here; any vertex list works), which is how SimRank is actually
served [pairwise queries], and (b) for full-graph needs, Monte-Carlo
reverse-walk meeting probabilities (the `operators/walks.py` hash-argmin
machinery extends to that; documented, not built).  The induced kernel
below is fully relational — two broadcast semi-joins restrict the edge
table, checkpointed once before the loop, then each iteration is ONE
(s ⋈ e1 ⋈ e2) join + one hash aggregate over at most K^2 pair rows — and
the sparse-pair encoding (missing pair = 0) keeps early iterations tiny:
s_t is nonzero only for pairs within distance 2t of the diagonal.

Determinism: the working set is the top-K by (degree desc, vid asc) —
a total order — and scores are emitted rounded with a full (score desc,
a, b) ordering, so the top-k frontier is engine-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.iterate import checkpoint, fixpoint, release


def simrank_topk(
    edges: DataFrame,
    k_vertices: int = 50,
    c: float = 0.8,
    iters: int = 3,
    topk: int = 100,
    round_to: int = 6,
) -> DataFrame:
    """(a, b, s) for a < b over the induced top-K-degree subgraph,
    ordered (s desc, a, b), top-`topk`.  `edges`: directed symmetric
    (src, dst); on the symmetric closure I(v) is v's neighbor set.
    """
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    top = (
        deg.orderBy(F.desc("deg"), F.asc("src"))
        .limit(k_vertices)
        .select(F.col("src").alias("vid"))
    )
    # the restricted edges, materialized once: left lazy, every round's
    # plan would re-derive the top-K from the raw edges
    se = checkpoint(
        edges.join(F.broadcast(top), edges["src"] == top["vid"], "left_semi")
        .alias("e")
        .join(F.broadcast(top), F.col("e.dst") == top["vid"], "left_semi")
        .select("src", "dst")
    )
    d = se.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("deg"))
    # a top-K vertex without an edge inside the working set only ever has
    # its diagonal entry, which the a < b output never shows
    diag = d.select(F.col("src").alias("u"), F.col("src").alias("v"), F.lit(1.0).alias("s"))
    e1, e2, da, db = se.alias("e1"), se.alias("e2"), d.alias("da"), d.alias("db")

    def step(s: DataFrame, _m: dict) -> DataFrame:
        off = (
            s.join(e1, F.col("e1.src") == s["u"])
            .join(e2, F.col("e2.src") == s["v"])
            .where(F.col("e1.dst") != F.col("e2.dst"))
            .groupBy(
                F.col("e1.dst").alias("u"), F.col("e2.dst").alias("v")
            )
            .agg(F.sum("s").alias("_sum"))
            .join(da, F.col("da.src") == F.col("u"))
            .join(db, F.col("db.src") == F.col("v"))
            .select(
                "u",
                "v",
                (F.lit(c) / (F.col("da.deg") * F.col("db.deg")) * F.col("_sum")).alias(
                    "s"
                ),
            )
        )
        return off.unionAll(diag)

    s, _, _ = fixpoint(
        diag, step, lambda st, _: {"rows": st.count()}, lambda m, _: False, iters
    )
    release(se)
    return (
        s.where(F.col("u") < F.col("v"))
        .select(
            F.col("u").cast("long").alias("a"),
            F.col("v").cast("long").alias("b"),
            F.round("s", round_to).alias("s"),
        )
        .orderBy(F.desc("s"), "a", "b")
        .limit(topk)
    )
