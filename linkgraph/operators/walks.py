"""Deterministic random-walk corpus (DeepWalk/node2vec-style, p=q=1).

Generates fixed-length uniform random walks from a seed set — the other
standard GNN-training-data sampler next to k-hop fanout sampling.  Every
step choice is the argmin of the engine-portable md5 hash
`portable_hash60(src:dst:walk:seed:step)` over the current vertex's
out-edges, so the corpus is a PURE FUNCTION of (graph, seeds, walks,
length, seed): identical across runs, partitionings and engines, which
lets the driver hash-check the sampled walks themselves against a SQL
mirror (a seeded rand() walk never could be).

Scale shape per step:

* the walk frontier is |seeds|·walks rows — byte-gated broadcast through
  LinkGraph.expand, the edge table never moves;
* the neighbor choice is a partial+final MIN aggregate over
  struct(hash, dst) per walk — map-side combine reduces each walk's
  candidate set to one row per partition before the shuffle, so a walk
  sitting on a 10^6-degree hub ships P rows, not 10^6 (the same ANP
  shape as every other kernel here; a row_number window would ship the
  full candidate set instead);
* step count is a fixed budget — the driver loop issues one job chain
  with lazily-truncated lineage, no per-step action.

Walks stop early at sink vertices (no out-edges); on symmetric closures
every step succeeds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph, fits_broadcast
from linkgraph.textops.dedup import portable_hash60


def random_walks(
    graph: LinkGraph,
    seeds: list[int],
    walk_len: int,
    walks_per_seed: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Returns (seed, walk, step, vid): step 0 is the seed vertex, steps
    1..walk_len follow hash-argmin uniform neighbor choices.  Rows for a
    walk end early if it reaches a sink."""
    if not seeds:
        raise ValueError("random_walks needs a non-empty seed list")
    if walk_len < 1 or walks_per_seed < 1:
        raise ValueError("walk_len and walks_per_seed must be >= 1")
    spark = graph.spark
    n_walks = len(seeds) * walks_per_seed
    cur = spark.createDataFrame(
        [(int(s), int(w), int(s)) for s in sorted(set(seeds)) for w in range(walks_per_seed)],
        "seed long, walk long, vid long",
    )
    frames = [cur.select("seed", "walk", F.lit(0).alias("step"), "vid")]
    for step in range(1, walk_len + 1):
        msgs = cur.select(F.col("vid").alias("src"), "seed", "walk")
        h = portable_hash60(
            F.concat_ws(
                ":", F.col("src"), F.col("dst"), F.col("walk"), F.lit(f"{seed}:{step}")
            )
        )
        cur = (
            graph.expand(msgs, est_rows=n_walks)
            .groupBy("seed", "walk")
            .agg(F.min(F.struct(h.alias("h"), F.col("dst").alias("d"))).alias("m"))
            .select("seed", "walk", F.col("m.d").alias("vid"))
            .localCheckpoint(eager=False)
        )
        frames.append(cur.select("seed", "walk", F.lit(step).alias("step"), "vid"))
    out = frames[0]
    for fr in frames[1:]:
        out = out.union(fr)
    return out.select(
        F.col("seed").cast("long").alias("seed"),
        F.col("walk").cast("long").alias("walk"),
        F.col("step").cast("int").alias("step"),
        F.col("vid").cast("long").alias("vid"),
    )


def _biased_weights(p: float, q: float, max_copies: int = 64) -> tuple[int, int, int]:
    """Integer copy counts (w_ret, w_tri, w_out) ∝ (1/p, 1, 1/q).

    The hash-argmin step draws the next vertex as the min over per-copy
    hashes, so a candidate holding W copies wins with probability
    ∝ W — EXACT integer-weighted sampling with zero float comparisons,
    which is what lets the DuckDB mirror reproduce biased walks bit for
    bit (an -ln(u)/w exponential race would hinge on cross-engine libm
    ulps).  p and q must be small rationals; the lcm-scaled copy counts
    are capped at max_copies hashes per candidate."""
    from fractions import Fraction
    from math import lcm

    fr = (
        Fraction(1) / Fraction(p).limit_denominator(64),
        Fraction(1),
        Fraction(1) / Fraction(q).limit_denominator(64),
    )
    denom = lcm(*(f.denominator for f in fr))
    w = tuple(int(f * denom) for f in fr)
    if max(w) > max_copies or min(w) < 1:
        raise ValueError(
            f"p={p}, q={q} need {max(w)} hash copies per candidate "
            f"(cap {max_copies}); pick coarser rationals"
        )
    return w


def node2vec_walks(
    graph: LinkGraph,
    seeds: list[int],
    walk_len: int,
    p: float = 1.0,
    q: float = 1.0,
    walks_per_seed: int = 1,
    seed: int = 42,
) -> DataFrame:
    """node2vec p/q-biased deterministic walk corpus: (seed, walk, step, vid).

    Standing at v having arrived from u, candidate x weighs 1/p if x = u
    (return), 1 if x is a neighbor of u (triangle), 1/q otherwise (out) —
    [node2vec, Grover & Leskovec KDD'16].  Weighting is realized as
    integer COPY COUNTS on the hash-argmin race (see _biased_weights), so
    the walks remain a pure function of (graph, seeds, p, q, seed) and the
    driver hash-checks them against a SQL mirror.  Step 1 has no
    predecessor and is uniform (single copy), as in the paper.

    Scale shape = random_walks plus, per step, ONE candidate⋈edges join on
    (prev, dst) that marks triangle candidates — the distributed stand-in
    for node2vec's per-vertex alias tables (which assume the neighborhood
    fits one machine).  Candidate volume is Σ_walks deg(cur), the same
    rows the expand already shipped; the argmin stays a partial+final MIN
    aggregate, so hub walks still ship P rows, not deg rows.
    """
    if not seeds:
        raise ValueError("node2vec_walks needs a non-empty seed list")
    if walk_len < 1 or walks_per_seed < 1:
        raise ValueError("walk_len and walks_per_seed must be >= 1")
    w_ret, w_tri, w_out = _biased_weights(p, q)
    spark = graph.spark
    n_walks = len(seeds) * walks_per_seed

    def h_copy(step: int, c: int):
        return portable_hash60(
            F.concat_ws(
                ":",
                F.col("src"),
                F.col("dst"),
                F.col("walk"),
                F.lit(f"{seed}:{step}:{c}"),
            )
        )

    def class_key(step: int, copies: int):
        hs = [h_copy(step, c) for c in range(copies)]
        return hs[0] if len(hs) == 1 else F.least(*hs)

    def tri_edges_for(cur_state):
        """Edges restricted to the CURRENT prev-set's adjacency.

        The triangle mark joins candidates on (prev, dst); the raw edge
        table is partitioned on src only, so joining it directly would
        Exchange the FULL |E| rows every step.  A semi-join on src keeps
        the edge side on its cached partitioning (zero edge Exchange —
        the prev-set, at most one row a walk, is broadcast like expand's
        frontier) and only the Σ deg(prev) surviving rows reach the
        two-column join."""
        prev_set = cur_state.select(F.col("prev").alias("src")).distinct()
        if fits_broadcast(prev_set, n_walks):
            prev_set = F.broadcast(prev_set)
        return graph.edges.join(prev_set, "src", "left_semi").select(
            F.col("src").alias("_t_prev"),
            F.col("dst").alias("_t_dst"),
            F.lit(True).alias("_istri"),
        )

    cur = spark.createDataFrame(
        [
            (int(s), int(w), int(s))
            for s in sorted(set(seeds))
            for w in range(walks_per_seed)
        ],
        "seed long, walk long, vid long",
    )
    frames = [cur.select("seed", "walk", F.lit(0).alias("step"), "vid")]

    # step 1: uniform single-copy race (no predecessor to bias against)
    msgs = cur.select(F.col("vid").alias("src"), "seed", "walk")
    cur = (
        graph.expand(msgs, est_rows=n_walks)
        .groupBy("seed", "walk")
        .agg(
            F.min(F.struct(class_key(1, 1).alias("h"), F.col("dst").alias("d"))).alias("m"),
            F.min("src").alias("prev"),  # src is constant within the group
        )
        .select("seed", "walk", "prev", F.col("m.d").alias("vid"))
        .localCheckpoint(eager=False)
    )
    frames.append(cur.select("seed", "walk", F.lit(1).alias("step"), "vid"))

    for step in range(2, walk_len + 1):
        msgs = cur.select(F.col("vid").alias("src"), "seed", "walk", "prev")
        cand = graph.expand(msgs, est_rows=n_walks).join(
            tri_edges_for(cur),
            (F.col("prev") == F.col("_t_prev")) & (F.col("dst") == F.col("_t_dst")),
            "left",
        )
        key = (
            F.when(F.col("dst") == F.col("prev"), class_key(step, w_ret))
            .when(F.col("_istri"), class_key(step, w_tri))
            .otherwise(class_key(step, w_out))
        )
        cur = (
            cand.groupBy("seed", "walk")
            .agg(
                F.min(F.struct(key.alias("h"), F.col("dst").alias("d"))).alias("m"),
                F.min("src").alias("prev"),
            )
            .select("seed", "walk", "prev", F.col("m.d").alias("vid"))
            .localCheckpoint(eager=False)
        )
        frames.append(cur.select("seed", "walk", F.lit(step).alias("step"), "vid"))

    out = frames[0]
    for fr in frames[1:]:
        out = out.union(fr)
    return out.select(
        F.col("seed").cast("long").alias("seed"),
        F.col("walk").cast("long").alias("walk"),
        F.col("step").cast("int").alias("step"),
        F.col("vid").cast("long").alias("vid"),
    )
