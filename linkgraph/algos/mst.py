"""Minimum spanning forest — Borůvka rounds, fully relational (K6 family).

Borůvka (1926; the standard parallel/distributed MST algorithm — each
round every component selects its minimum-weight outgoing edge, selected
edges merge components, component count at least halves) re-expressed as
DataFrame passes:

* cross-component edges: two label joins onto the (src, dst, w) table —
  the same co-partitioned shape as every frontier expand here;
* per-component argmin: ONE partial+final MIN over a lexicographic
  struct (w, u, v) — map-side combine collapses each partition's
  candidates before the exchange; never a window;
* merge: the selected edges form a FUNCTIONAL pseudo-forest over
  component ids (exactly one out-edge per proposing component), and with
  a strict total edge order every connected cluster contains exactly one
  MUTUAL pair (the cluster's globally minimal edge is chosen from both
  sides).  Breaking that 2-cycle at min(pair) turns each cluster into a
  rooted tree, and POINTER JUMPING (p ← p∘p) finds every root in
  O(log depth) rounds of one ≤|comps|-row self-join each — strictly
  cheaper than a generic CC call (no edge expansion, no neighbor-min
  aggregate).  The representative differs from CC's min-label choice,
  but the PARTITION is identical, and the forest depends only on the
  partition — so the unrolled min-label oracle still matches edge sets;
* determinism: the edge order (w, u, v) with u < v canonicalization is a
  STRICT total order, so the argmin — and therefore the whole forest —
  is unique and engine/partitioning/retry-invariant: the output is
  hash-comparable with no float arithmetic anywhere (weights are copied,
  never summed).

Each round is one `linkgraph.iterate.fixpoint` iteration over the label
state (vid, comp), whose probe checkpoints and counts the next round's
proposals; the pointer jumps are a nested `fixpoint` over (c, p).
O(log |V|) rounds to the fixpoint (component count halves per round).
`rounds=N` runs exactly N rounds — the bounded-budget mode the unrolled
DuckDB oracle mirrors; `rounds=None` runs to the no-cross-edges fixpoint
under `max_rounds` (warns on budget exhaustion, mirroring scc.py).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import fits_broadcast
from linkgraph.iterate import count_changed, fixpoint, on_session, release


def minimum_spanning_forest(
    edges: DataFrame,
    rounds: int | None = None,
    max_rounds: int = 30,
) -> DataFrame:
    """Returns the MSF edge list (u, v, w) with u < v over a SYMMETRIC
    weighted edge table (src, dst, w) — both directions present, w
    symmetric.  Unique by the strict (w, u, v) total order; spanning
    forest: |result| = |V| − #components."""
    spark = edges.sparkSession
    from pyspark.storagelevel import StorageLevel

    # persist the (possibly expensive) weighted-edge derivation ONCE: the
    # round loop joins e every round, and an unpersisted derivation (e.g.
    # the lineitem self-join) would be recomputed from the source scan per
    # round — measured as repeated derivation stages in the r6 profile.
    # src-hash partitioning + cache mirrors the LinkGraph edge shape so
    # the per-round csrc label join needs no e-side exchange.
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = (
        edges.select("src", "dst", "w")
        .where(F.col("src") != F.col("dst"))
        .repartition(p, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    comp = e.select(F.col("src").alias("vid")).distinct().select(
        "vid", F.col("vid").alias("comp")
    )
    n_vertices = comp.count()
    forest_parts: list[DataFrame] = []
    mappings: list[DataFrame] = []

    def proposals(comp: DataFrame, _m: dict | None = None) -> dict:
        """Each component's argmin cross edge, checkpointed; its count is
        the round's one action (it materializes `comp` too), and 0 is the
        no-cross-edges fixpoint."""
        cs = comp.select(F.col("vid").alias("src"), F.col("comp").alias("csrc"))
        cd = comp.select(F.col("vid").alias("dst"), F.col("comp").alias("cdst"))
        # broadcast labels keep the cached edge table unshuffled all round
        # (measured: the dst-side label join otherwise re-exchanges all |E|
        # rows by dst every round)
        if fits_broadcast(cs, n_vertices):
            cs, cd = F.broadcast(cs), F.broadcast(cd)
        # rooted on the edges: planned on comp's (the loop's) session
        prop = on_session(
            e.join(cs, "src")
            .join(cd, "dst")
            .where(F.col("csrc") != F.col("cdst"))
            .groupBy("csrc")
            .agg(
                F.min(
                    F.struct(
                        "w", F.least("src", "dst").alias("u"),
                        F.greatest("src", "dst").alias("v"), "cdst",
                    )
                ).alias("m")
            )
            .select("csrc", "m.w", "m.u", "m.v", "m.cdst"),
            comp.sparkSession,
        ).localCheckpoint(eager=False)
        n = prop.count()
        for mapping in mappings:
            release(mapping)
        mappings.clear()
        return {"prop": prop, "proposals": n}

    def step(comp: DataFrame, m: dict) -> DataFrame:
        forest_parts.append(m["prop"])
        mapping = _contract_pseudoforest(m["prop"], m["proposals"])
        mappings.append(mapping)
        if fits_broadcast(mapping, m["proposals"]):
            mapping = F.broadcast(mapping)
        return comp.join(mapping, "comp", "left").select(
            "vid", F.coalesce(F.col("nc"), F.col("comp")).alias("comp")
        )

    comp, m, converged = fixpoint(
        comp,
        step,
        proposals,
        lambda m, _: m["proposals"] == 0,
        rounds if rounds is not None else max_rounds,
        seed_metrics=proposals,
    )
    release(comp)
    release(m["prop"])  # the proposals of the round after the last
    if rounds is None and not converged:
        warnings.warn(
            f"minimum_spanning_forest: max_rounds={max_rounds} exhausted before "
            "the no-cross-edges fixpoint — returned forest may be partial",
            stacklevel=2,
        )
    # every per-round proposal is checkpointed, so the result no longer
    # reads e
    release(e)
    if not forest_parts:
        return spark.createDataFrame([], "u long, v long, w long")
    out = forest_parts[0]
    for p in forest_parts[1:]:
        out = out.unionByName(p)
    # the proposals belong to the loop's session; the result to the caller's
    return on_session(out, spark).select("u", "v", "w").distinct().select(
        F.col("u").cast("long"), F.col("v").cast("long"), F.col("w").cast("long")
    )


def _contract_pseudoforest(
    prop: DataFrame, proposals: int, max_jumps: int = 40
) -> DataFrame:
    """(comp, nc) mapping for the proposal functional graph: each
    component's parent is the target of its chosen edge; the one mutual
    pair per cluster is broken into a self-loop at min(pair); pointer
    jumping then converges every node to its cluster root.  Each jump is
    ONE ≤|comps|-row self-join — no edge table, no aggregates.

    proposals: `prop`'s row count.  When `fits_broadcast` passes that many
    rows, the mutual-pair probe and every jump's hop side broadcast, so
    these tiny per-round jobs carry zero exchanges (they were pure
    scheduling overhead in the r6 stage profile)."""
    f = prop.select("csrc", "cdst")
    back = f.select(F.col("csrc").alias("b"), F.col("cdst").alias("bt"))
    small = fits_broadcast(back, proposals)
    if small:
        back = F.broadcast(back)
    seed = f.join(back, (f.cdst == back.b) & (F.col("bt") == f.csrc), "left").select(
        F.col("csrc").alias("c"),
        F.when(F.col("b").isNotNull() & (F.col("csrc") < F.col("cdst")), F.col("csrc"))
        .otherwise(F.col("cdst"))
        .alias("p"),
    )

    def jump(p: DataFrame, _m: dict) -> DataFrame:
        hop = p.select(F.col("c").alias("q"), F.col("p").alias("gp"))
        if small:
            hop = F.broadcast(hop)
        return p.join(hop, p.p == hop.q, "left").select(
            "c", F.coalesce(F.col("gp"), F.col("p")).alias("p"), F.col("p").alias("pp")
        )

    p, _, _ = fixpoint(
        seed,
        jump,
        lambda st, _: {"changed": count_changed(st, "p", "pp")},
        lambda m, _: m["changed"] == 0,
        max_jumps,
    )
    return p.select(F.col("c").alias("comp"), F.col("p").alias("nc"))


def sparsify(
    edges: DataFrame,
    keep_pct: int = 10,
    rounds: int | None = None,
    salt: str = "sparsify",
) -> DataFrame:
    """Connectivity-preserving sparsifier: the minimum spanning forest
    UNION a deterministic `keep_pct`% hash sample of the remaining
    edges — the standard "thin the graph but never disconnect it" prep
    before an expensive all-pairs / embedding / visualization stage
    (naive uniform sampling at 10% shatters a sparse graph into
    fragments; the forest keeps every component intact by construction).

    The sample is the portable md5 bucket of the canonical (u, v) pair —
    engine/retry/partitioning-stable, the hash_split contract — so the
    sparsifier is REPRODUCIBLE: re-running on the same snapshot yields
    byte-identical output.  Returns (u, v, w) with u < v, one row per
    kept undirected edge.
    """
    if not 0 <= keep_pct <= 100:
        raise ValueError("keep_pct must be in [0, 100]")
    forest = minimum_spanning_forest(edges, rounds=rounds)
    canon = (
        edges.where(F.col("src") < F.col("dst"))
        .select(
            F.col("src").cast("long").alias("u"),
            F.col("dst").cast("long").alias("v"),
            F.col("w").cast("long").alias("w"),
        )
        .distinct()
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("u").cast("string"), F.col("v").cast("string"), F.lit(salt)
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    sample = canon.where(bucket < keep_pct * 100)
    return forest.unionByName(sample).distinct()
