"""Weisfeiler–Lehman color refinement — the 1-WL vertex fingerprint.

Iteratively recolor every vertex with a hash of (own color, multiset of
neighbor colors); after k rounds two vertices share a color iff 1-WL
cannot distinguish their k-hop neighborhoods.  The classic
graph-isomorphism test and THE feature map of WL graph kernels /
GNN-expressiveness analysis [Weisfeiler & Lehman 1968; Shervashidze
et al., JMLR 2011] — per-vertex structural fingerprints for dedup of
graph neighborhoods, stratified sampling by structure, and GNN sanity
checks (what 1-WL cannot separate, a message-passing GNN cannot either).

The textbook form hashes the SORTED neighbor-color string — O(deg)
bytes per vertex, a 33 MB aggregate value on a 10^6-degree hub and a
sort besides: a scale-killer.  This implementation uses the standard
hash-based WL variant instead — a COMMUTATIVE modular sum of per-color
hashes:

    S(v)      = Σ_{u∈N(v)} H(color(u))  mod P          (P = 2^61 − 1)
    color'(v) = md5(color(v) || '|' || S(v))

* the sum is order-invariant, so no sort and no canonicalization issue
  (collect_list's partition-order nondeterminism never enters);
* per-vertex state is O(1) bytes regardless of degree — the aggregate
  is a plain SUM with map-side combine, the cheapest ANP there is;
* exactness of the modular sum: H < 2^61 terms are summed as
  DECIMAL(38,0) on the Spark side (exact to 10^38 ⟹ safe beyond
  10^12-degree hubs) and HUGEINT in DuckDB, then reduced mod P — both
  engines produce the identical integer;
* H = the engine-portable md5 numeric prefix (the MinHash oracle
  family); multiset collisions are the usual hash-WL caveat,
  ~deg²/2^61 per neighborhood — immaterial against 1-WL's own
  expressiveness limits.

Initial color = degree (as a string), the standard 1-WL seed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.iterate import fixpoint, release

WL_P = (1 << 61) - 1  # Mersenne prime: modulus of the multiset sum


def _hnum(col):
    """60-bit numeric md5 prefix of a string column (portable family)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("decimal(38,0)")


def _wl_seed(graph: LinkGraph) -> DataFrame:
    """Round-0 colors: the degree as a string."""
    return graph.degrees().select("vid", F.col("deg").cast("string").alias("color"))


def _wl_step(graph: LinkGraph):
    """One refinement round as a `fixpoint` step: color'(v) = md5(color(v)
    || '|' || Σ_{u∈N(v)} H(color(u)) mod P)."""
    n = graph.num_vertices()

    def step(color: DataFrame, _metrics: dict) -> DataFrame:
        msgs = color.select(F.col("vid").alias("src"), _hnum(F.col("color")).alias("h"))
        agg = (
            graph.expand(msgs, est_rows=n)
            .groupBy("dst")
            .agg((F.sum("h") % F.lit(WL_P)).alias("s"))
        )
        return (
            color.alias("st")
            .join(agg.alias("nb"), F.col("st.vid") == F.col("nb.dst"), "left")
            .select(
                F.col("st.vid").alias("vid"),
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("st.color"),
                        F.coalesce(
                            F.col("nb.s").cast("decimal(38,0)"),
                            F.lit(0).cast("decimal(38,0)"),
                        ).cast("string"),
                    )
                ).alias("color"),
            )
        )

    return step


def wl_refine(graph: LinkGraph, rounds: int = 3) -> DataFrame:
    """Returns (vid, color) after `rounds` of hash-based 1-WL
    refinement; color is a 32-hex md5 string (round-0 colors = degree
    strings)."""
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    color, _, _ = fixpoint(
        _wl_seed(graph),
        _wl_step(graph),
        lambda st, _: {"rows": st.count()},
        lambda m, _: False,
        rounds,
    )
    return color.select(F.col("vid").cast("long").alias("vid"), "color")


def wl_class_sizes(graph: LinkGraph, rounds: int = 3) -> DataFrame:
    """(color, n_vertices) histogram of the round-k WL partition — the
    compact fingerprint two graphs can be compared by."""
    return (
        wl_refine(graph, rounds)
        .groupBy("color")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    )


def wl_anonymity(graph: LinkGraph, rounds: int = 3, round_to: int = 6) -> DataFrame:
    """Structural re-identification risk curve [Hay et al. VLDB'08
    candidate-structure form]: after r rounds of 1-WL refinement, a
    size-1 color class is a structurally UNIQUE vertex — an adversary
    holding only the anonymized topology can re-identify it; how fast
    frac_unique grows with r is the privacy cost of releasing the
    graph (the graph-shaped sibling of k_anonymity / l_diversity).

    Returns one row per round 0..rounds:
    (round, n_classes, n_unique, frac_unique, max_class).

    Runs ONE refinement chain (wl_refine's `fixpoint` loop) whose probe
    is the round's \\|classes\\|-row stats aggregate — one Spark job per
    round, no from-scratch recompute; the stats land as bounded 1-row
    collects (the graph_stats scalar convention), so no round's state
    outlives the call.
    """
    spark = graph.spark
    rows = []

    def stats(c: DataFrame, _metrics: dict | None = None) -> dict:
        """The round's class-size statistics — the one job of the round."""
        sizes = c.groupBy("color").agg(F.count(F.lit(1)).alias("n"))
        uniq = F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        rows.append(
            sizes.agg(
                F.lit(len(rows)).cast("int").alias("round"),
                F.count(F.lit(1)).cast("long").alias("n_classes"),
                uniq.cast("long").alias("n_unique"),
                F.round(uniq / F.sum("n").cast("double"), round_to).alias(
                    "frac_unique"
                ),
                F.max("n").cast("long").alias("max_class"),
            )
            .collect()[0]
        )
        return {}

    color, _, _ = fixpoint(
        _wl_seed(graph),
        _wl_step(graph),
        stats,
        lambda m, _: False,
        rounds,
        seed_metrics=stats,
    )
    release(color)
    return spark.createDataFrame(
        rows,
        "round int, n_classes long, n_unique long, frac_unique double, max_class long",
    )
