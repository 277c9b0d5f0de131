"""Batched multi-source BFS (MS-BFS) with 512-bit packed frontier/seen state.

Spark-native re-expression of [MSBFS15] Alg. 2/3 (SURVEY.md §2.9 K1/K2):

* state DataFrame: (vid, s0..s7, v0..v7) — seen/visit bitsets as 8 int64
  limbs each; bit j = BFS lane j of the 512-source batch.
* one level = frontier-expand equi-join (J1) + bitwise-OR aggregation by
  dst (A1).  Spark's partial+final hash aggregate of `bit_or` IS the
  paper's aggregated-neighbor-processing (ANP) optimization.
* masking/update (seen' = seen|agg, visit' = agg & ~seen) is pure int64
  column arithmetic — WholeStageCodegen, no Python in the hot path.
* per-level lane accounting (closeness r/s, frontier emptiness) is one
  Spark aggregate of per-bit sums over the inlined nonzero visit limbs,
  grouped by limb index (≤9 rows collected).  No level starts a Python
  task: each costs ~250 ms of worker CPU before any work, more than an
  Arrow/numpy kernel saves here (BENCH/BASELINE.md).
* the level loop is `linkgraph.iterate.fixpoint`, with that accounting as
  its probe: expand + OR-aggregate + update + accounting run as one Spark
  job per level, and the driver owns state release, snapshot and resume.
  The level's expressions (frontier predicate, OR-aggregates, mask and
  update) are built once per call; every level reuses them.
* TEPS (`track_teps`) is one aggregate over the final state, not a term of
  every level's accounting: each lane bit enters the frontier exactly once,
  so Σ_levels deg(v)·popcount(visit) = Σ deg(v)·popcount(seen) at the end.
* direction/strategy switch (K3 analog): the frontier side is broadcast
  when small (first/last levels), shuffled-hash otherwise; the edge table
  never re-shuffles (partitioned by src at build).  Late dense levels
  filter the edges or messages against the open set, the closed set or a
  closed-set bitmap.  Every one of these broadcasts passes
  `graph.fits_broadcast`, so the session broadcast threshold is the one
  budget: at -1 no level broadcasts and every level runs as push.

The OR-aggregate is relational (groupBy(dst).agg(bit_or(limb)...)).  A
numpy grouped-pandas variant (bitwise_or.reduceat per dst bucket) lost
every A/B against it, 0.63-0.97x, and was removed (BENCH/BASELINE.md).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph, fits_broadcast
from linkgraph.iterate import fixpoint, release
from linkgraph.operators.bitset import limb_names, pack_sources
from linkgraph.schemas import NLIMBS, bfs_state_schema

_V = limb_names("v")


@dataclass
class MsBfsResult:
    sources: list[int]
    levels: int
    r: np.ndarray  # per-lane reachable count (incl. source)
    s: np.ndarray  # per-lane sum of distances
    wall_sec: float
    h: np.ndarray | None = None  # per-lane harmonic sum Σ 1/d (excl. source)
    ecc: np.ndarray | None = None  # per-lane eccentricity (max finite distance)
    traversed_bit_edges: int = 0
    distances_df: DataFrame | None = None  # distributed (src, vid, dist)
    per_level_new: list[int] = field(default_factory=list)
    strategies: list[str] = field(default_factory=list)  # per-level K3 choice
    _distances_pdf: pd.DataFrame | None = None

    def gteps(self) -> float:
        return self.traversed_bit_edges / self.wall_sec / 1e9 if self.wall_sec else 0.0

    @property
    def distances(self) -> pd.DataFrame | None:
        """Driver-side copy of the distances — for tests / small graphs
        only.  At scale consume `distances_df` (a distributed DataFrame
        backed by per-level parquet appends); n×512 distances through the
        driver is terabytes."""
        if self._distances_pdf is None and self.distances_df is not None:
            self._distances_pdf = self.distances_df.toPandas().astype(
                {"src": np.int64, "vid": np.int64, "dist": np.int32}
            )
        return self._distances_pdf


def _closed_pred(nsrc: int) -> str:
    """K3 pull-filter predicate, a row seen in all nsrc lanes: every limb
    equals its full mask, as signed int64 literals (limb i covers lanes
    [64i, 64i+64))."""
    return " and ".join(
        f"s{i} = {-1 if nsrc >= 64 * i + 64 else (1 << (nsrc - 64 * i)) - 1}L"
        for i in range((nsrc + 63) // 64)
    )


def _lane_accounting(
    df: DataFrame, nsrc: int, closed_pred: str | None = None
) -> tuple[np.ndarray, int, int, int]:
    """Per-lane counts of the set visit bits of (vid, v0..[, s0..]), plus
    the row sentinels, as ONE aggregate that collects at most 9 rows.

    Each row inlines into (i, limb) rows: one per NONZERO visit limb
    (i = 0..), and a sentinel (i = -1) whose limb packs the row's flags —
    bit 0: any visit bit set (a frontier row); bit 1: seen full across all
    lanes (a CLOSED row, when `closed_pred` is given; it drives the K3 pull
    filter, measured for free in the same state scan).  Grouped by i, the
    sum of bit b is lane 64i+b's count; for the sentinel, bits 0/1 count
    the frontier and closed rows and count(*) the state rows, which tells
    the bottom-up gate when the state covers all |V| vertices.

    Returns (lane counts, frontier rows, closed rows, state rows)."""
    used = (nsrc + 63) // 64
    flags = "if(" + " or ".join(f"v{i} != 0" for i in range(used)) + ", 1L, 0L)"
    if closed_pred is not None:
        flags += f" | if({closed_pred}, 2L, 0L)"
    structs = [f"named_struct('i', -1, 'limb', {flags})"] + [
        f"named_struct('i', {i}, 'limb', v{i})" for i in range(used)
    ]
    # the 64 sums as ONE array expression: 64 separate Columns cost ~0.1 s
    # of py4j calls per level to build
    sums = ", ".join(f"sum(shiftrightunsigned(limb, {b}) & 1)" for b in range(64))
    rows = (
        df.selectExpr(f"inline(array({', '.join(structs)}))")
        .where("i = -1 or limb != 0")
        .groupBy("i")
        .agg(F.expr(f"array({sums})").alias("c"), F.count(F.lit(1)).alias("rows"))
        .collect()
    )
    lanes = np.zeros(64 * used, dtype=np.int64)
    frontier = closed = state_rows = 0
    for row in rows:
        if row["i"] < 0:
            frontier, closed, state_rows = row["c"][0], row["c"][1], row["rows"]
        else:
            lanes[64 * row["i"] : 64 * row["i"] + 64] = row["c"]
    return lanes[:nsrc], frontier, closed, state_rows


def _visit_lanes(state: DataFrame, nsrc: int) -> DataFrame:
    """(vid, lane) for every set visit bit: the nonzero limbs inlined as
    (vid, i, limb), one row per bit position b, the set ones kept as lane
    64i+b."""
    structs = ", ".join(
        f"named_struct('i', {i}, 'limb', v{i})" for i in range((nsrc + 63) // 64)
    )
    return (
        state.selectExpr("vid", f"inline(array({structs}))")
        .where("limb != 0")
        .selectExpr("vid", "i", "limb", "explode(sequence(0, 63)) as b")
        .where("(shiftrightunsigned(limb, b) & 1) = 1")
        .selectExpr("vid", "cast(64 * i + b as int) as lane")
    )


def _closed_limb_table(state: DataFrame, closed_pred: str) -> DataFrame:
    """K3 mid-range side-channel: the CLOSED vertex set as a bitmap packed
    into a (idx, limb) table — limb i holds the closed-bits of vertices
    [64i, 64i+64).

    The broadcast-set strategies need the open or closed (dst) key set to
    pass `fits_broadcast`; the limb table packs 64 vertices a row, so the
    mid-range regime — open AND closed sets both too large — still
    broadcasts.  The table has at most (max_vid >> 6) + 1 rows and passes
    the same gate at that count: at the 32 MiB session default (40 bytes a
    row) that covers max_vid below about 53.7M.  Built distributedly as one
    bit_or aggregate of 1 << (vid & 63) on vid >> 6: the partial aggregate
    merges each task's vertices before the shuffle, so at most (max_vid/64)
    narrow rows per task move, and only NONZERO limbs ever exist.  The
    consumer joins it broadcast and tests the bit with pure codegen'd int64
    arithmetic — no Python, no shuffle."""
    return (
        state.where(closed_pred)
        .groupBy(F.expr("shiftright(vid, 6)").alias("_bm_idx"))
        .agg(
            F.bit_or(F.expr("shiftleft(1L, cast(vid & 63 as int))")).alias("_bm_limb")
        )
    )


def msbfs(
    graph: LinkGraph,
    sources: list[int],
    emit_distances: bool = False,
    distances_path: str | None = None,
    snapshot_every: int = 8,
    max_levels: int | None = None,
    track_teps: bool = False,
    checkpoint_mgr=None,
    resume: bool = False,
    bottom_up: bool = True,
    bottom_up_threshold: float = 0.5,
) -> MsBfsResult:
    """Run one ≤512-source batch to completion; returns lane accounting
    (r, s for closeness) and optionally full (src, vid, dist) distances.

    At scale, distances are not materialized n×512 (the reference streams
    them through a visitor); closeness needs only the r/s accumulators.

    The level loop is `linkgraph.iterate.fixpoint`: `step` makes the K3
    choice and builds expand + OR-aggregate + mask, and `probe` is the lane
    accounting of the new level, folded into running totals (r, s, h, ecc,
    per-level counts, K3 choices and the gate's row counts).  Those totals
    are the metrics a snapshot carries, so a resumed run reports the same
    run as an uninterrupted one.
    """
    spark = graph.spark
    nsrc = len(sources)
    if nsrc == 0:
        raise ValueError("no sources")

    t0 = time.time()
    if emit_distances and distances_path is None:
        import tempfile
        import uuid

        master = spark.conf.get("spark.master", "local")
        if not master.startswith("local"):
            raise ValueError(
                "emit_distances on a multi-executor cluster requires an explicit "
                "distances_path on shared storage: the driver-tempdir default is "
                "executor-local, so per-level deltas written by executors would "
                "not be readable back (pass e.g. the checkpoint root + '/distances')"
            )
        distances_path = os.path.join(
            tempfile.gettempdir(), f"msbfs_dist_{uuid.uuid4().hex}"
        )

    n_vertices = graph.num_vertices()
    closed_pred = _closed_pred(nsrc)
    strategy = "push"  # the K3 choice of the level `step` last planned
    # the level's expressions, built once per call; every level reuses them
    frontier_pred = " or ".join(f"v{i} != 0" for i in range(NLIMBS))
    or_aggs = [F.expr(f"bit_or(v{i}) as a{i}") for i in range(NLIMBS)]
    on_vid = F.expr("vid = dst")
    update = (
        ["coalesce(vid, dst) as vid"]
        + [f"coalesce(s{i}, 0L) | coalesce(a{i}, 0L) as s{i}" for i in range(NLIMBS)]
        + [f"coalesce(a{i}, 0L) & ~coalesce(s{i}, 0L) as v{i}" for i in range(NLIMBS)]
    )

    def probe(state: DataFrame, m: dict) -> dict:
        """Lane accounting of level m["level"] + 1 folded into m's totals;
        with emit_distances, the level's (vid, lane, dist) parquet delta —
        distributed, never through the driver."""
        level = m["level"] + 1
        lanes, frontier_rows, closed_rows, state_rows = _lane_accounting(
            state, nsrc, closed_pred if bottom_up else None
        )
        h, ecc = np.asarray(m["h"], dtype=np.float64), np.asarray(m["ecc"])
        if level:
            h = h + lanes / level
            ecc = np.where(lanes > 0, level, ecc)
        new_total = int(lanes.sum())
        if emit_distances and new_total:
            (
                _visit_lanes(state, nsrc)
                .withColumn("dist", F.lit(level).cast("int"))
                .write.mode("overwrite")
                .parquet(os.path.join(m["distances_path"], f"level={level}"))
            )
        return {
            "level": level,
            "r": (np.asarray(m["r"]) + lanes).tolist(),
            "s": (np.asarray(m["s"]) + lanes * level).tolist(),
            "h": h.tolist(),
            "ecc": ecc.tolist(),
            "per_level_new": m["per_level_new"] + [new_total],
            "strategies": m["strategies"] + ([strategy] if level else []),
            "frontier_rows": frontier_rows,
            "closed_rows": closed_rows,
            "state_rows": state_rows,
            "distances_path": m["distances_path"],
        }

    def step(state: DataFrame, m: dict) -> DataFrame:
        # -- K3 direction switch ([MSBFS15] §4.3, Beamer bottom-up): on late
        # dense levels most destinations are already fully seen across all
        # lanes, so their messages would be aggregated and then masked to
        # zero.  Gated on the closed-row fraction the previous probe
        # measured, and decided BEFORE the expand so the expansion shrinks:
        #   1. open_semi — the state covers all |V| vertices and the OPEN
        #      set is broadcastable: semi-join the EDGE side on open
        #      destinations, so closed-dst edges are never enumerated and
        #      the map-side filter keeps the edge cache's src-partitioning.
        #   2. closed_anti — the same map-side shrink when instead the
        #      CLOSED set is broadcastable (anti keeps never-seen vertices'
        #      edges, so state coverage doesn't matter).
        #   3. bitmap — neither set is broadcastable: the closed set packs
        #      into a (idx, limb) bitmap table (_closed_limb_table)
        #      broadcast-joined onto the messages on dst>>6, whose bit test
        #      drops closed-dst messages before the dst shuffle.  When the
        #      bitmap is not broadcastable either, the level runs as push.
        nonlocal strategy
        strategy, edges_open, msg_bitmap = "push", None, None
        closed_rows, state_rows = m["closed_rows"], m["state_rows"]
        if (
            bottom_up
            and n_vertices
            and closed_rows
            and closed_rows / float(n_vertices) >= bottom_up_threshold
        ):
            open_dst = state.where(f"not ({closed_pred})").selectExpr("vid as dst")
            closed_dst = state.where(closed_pred).selectExpr("vid as dst")
            if state_rows == n_vertices and fits_broadcast(
                open_dst, max(state_rows - closed_rows, 0)
            ):
                edges_open = graph.edges.join(F.broadcast(open_dst), "dst", "left_semi")
                strategy = "open_semi"
            elif fits_broadcast(closed_dst, closed_rows):
                edges_open = graph.edges.join(
                    F.broadcast(closed_dst), "dst", "left_anti"
                )
                strategy = "closed_anti"
            elif fits_broadcast(
                bitmap := _closed_limb_table(state, closed_pred),
                (graph.max_vid() >> 6) + 1,
            ):
                msg_bitmap, strategy = bitmap, "bitmap"

        # -- expand: frontier ⋈ edges, OR-aggregate by dst (ANP).
        # Strategy dispatch (broadcast / salted / shuffle) via graph.expand.
        frontier = state.where(frontier_pred).selectExpr("vid as src", *_V)
        msgs = graph.expand(
            frontier, est_rows=m["frontier_rows"], edges=edges_open
        ).select("dst", *_V)
        if msg_bitmap is not None:
            # keep a message iff its dst's closed-bit is CLEAR (absent limb
            # == all open)
            msgs = (
                msgs.join(
                    F.broadcast(msg_bitmap), F.expr("shiftright(dst, 6) = _bm_idx"), "left"
                )
                .where("_bm_limb is null or ((_bm_limb >> cast((dst & 63) as int)) & 1) = 0")
                .drop("_bm_idx", "_bm_limb")
            )
        agg = msgs.groupBy("dst").agg(*or_aggs)

        # -- mask & update (codegen'd int64 math; no UDF)
        # `vid`/`dst` are unique names across the two sides — resolve by name
        # (agg descends from state, so df["col"] refs would be self-join-ambiguous)
        return state.join(agg, on_vid, "full_outer").selectExpr(*update)

    start = {
        "level": -1,
        "r": [0] * nsrc,
        "s": [0] * nsrc,
        "h": [0.0] * nsrc,
        "ecc": [0] * nsrc,
        "per_level_new": [],
        "strategies": [],
        "distances_path": distances_path,
    }
    # a BFS reaches a level with no new vertex after at most |V| levels
    state, metrics, _ = fixpoint(
        spark.createDataFrame(
            pack_sources(sources, NLIMBS), schema=bfs_state_schema(NLIMBS)
        ),
        step,
        probe,
        lambda m, _: m["per_level_new"][-1] == 0,
        max_levels if max_levels is not None else max(n_vertices, 1),
        seed_metrics=lambda st: probe(st, start),
        checkpoint_mgr=checkpoint_mgr,
        snapshot_every=snapshot_every,
        resume=resume,
    )
    traversed = 0
    if track_teps:
        # the (edge, lane) expansions of every level, deg(v)·popcount(visit)
        # summed over the levels, in one aggregate — each lane bit of the
        # final seen set entered the frontier exactly once (the seed's too,
        # and a truncated run's last unexpanded frontier, as the per-level
        # sum counted them)
        popcount = " + ".join(f"bit_count(s{i})" for i in range(NLIMBS))
        traversed = int(
            state.join(graph.degrees(), "vid")
            .selectExpr(f"coalesce(sum(deg * ({popcount})), 0L) as t")
            .first()["t"]
        )
    release(state)
    wall = time.time() - t0
    distances_df = None
    if emit_distances:
        lane_map = spark.createDataFrame(
            [(i, int(v)) for i, v in enumerate(sources)], "lane int, src long"
        )
        raw = spark.read.option("recursiveFileLookup", "true").parquet(
            metrics["distances_path"]
        )
        distances_df = (
            raw.join(F.broadcast(lane_map), "lane")
            .select("src", "vid", F.col("dist").cast("int").alias("dist"))
        )
    return MsBfsResult(
        sources=list(sources),
        levels=metrics["level"],
        r=np.asarray(metrics["r"], dtype=np.int64),
        s=np.asarray(metrics["s"], dtype=np.int64),
        h=np.asarray(metrics["h"], dtype=np.float64),
        ecc=np.asarray(metrics["ecc"], dtype=np.int64),
        wall_sec=wall,
        traversed_bit_edges=traversed,
        distances_df=distances_df,
        per_level_new=metrics["per_level_new"],
        strategies=metrics["strategies"],
    )


def closeness(graph: LinkGraph, res: MsBfsResult, n: int | None = None) -> DataFrame:
    """LDBC/SIGMOD-contest closeness c(v) = (r-1)^2 / ((n-1)*s), 0 when s=0.

    r counts the source itself; n = |V| of the graph.
    """
    n = n or graph.num_vertices()
    pdf = pd.DataFrame(
        {
            "src": np.asarray(res.sources, dtype=np.int64),
            "r": res.r.astype(np.int64),
            "s": res.s.astype(np.int64),
        }
    )
    pdf["c"] = np.where(
        (pdf["s"] > 0) & (n > 1),
        (pdf["r"] - 1.0) ** 2 / ((n - 1.0) * pdf["s"]),
        0.0,
    )
    return graph.spark.createDataFrame(pdf, schema="src long, r long, s long, c double")


def harmonic(graph: LinkGraph, res: MsBfsResult, n: int | None = None) -> DataFrame:
    """Harmonic centrality h(v) = Σ_{u≠v reachable} 1/d(v,u), plus the
    (n-1)-normalized form — the closeness variant that stays well-defined
    on disconnected graphs (Boldi & Vigna, "Axioms for Centrality").

    Free given an MS-BFS run: the per-level lane counts the accounting
    kernel already collects fold into Σ new_d/d on the driver (nsrc
    doubles — no extra distributed pass), exactly like closeness's r/s.
    """
    n = n or graph.num_vertices()
    h = res.h if res.h is not None else np.zeros(len(res.sources))
    pdf = pd.DataFrame(
        {
            "src": np.asarray(res.sources, dtype=np.int64),
            "h_raw": np.round(h, 6),
            "hn": np.round(h / max(n - 1, 1), 6),
        }
    )
    return graph.spark.createDataFrame(pdf, schema="src long, h_raw double, hn double")


def eccentricity(graph: LinkGraph, res: MsBfsResult) -> DataFrame:
    """Per-source eccentricity over the reachable set: (src, ecc, r).

    ecc(s) = max finite d(s,·) — free from the same lane accounting as
    closeness/harmonic (the last level at which a lane gained vertices).
    max(ecc) over a full-coverage batch is the exact graph diameter;
    min(ecc) the radius.  When the run stops at max_levels the value is
    the truncated eccentricity (a lower bound), same caveat as the
    distance oracles.
    """
    e = res.ecc if res.ecc is not None else np.zeros(len(res.sources))
    pdf = pd.DataFrame(
        {
            "src": np.asarray(res.sources, dtype=np.int64),
            "ecc": np.asarray(e, dtype=np.int64),
            "r": res.r.astype(np.int64),
        }
    )
    return graph.spark.createDataFrame(pdf, schema="src long, ecc long, r long")


def neighborhood_function(graph: LinkGraph, res: MsBfsResult) -> DataFrame:
    """ANF over the source sample: (h, nf) where nf = |{(s,v): d(s,v) ≤ h}|.

    Pure post-processing of the per-level accounting MS-BFS already
    collects (`per_level_new` — the h-th entry is the number of newly
    reached (source, vertex) pairs at distance h), so the neighborhood
    function and the effective diameter cost zero extra distributed work
    on top of a traversal.  [ANF: Palmer/Gibbons/Faloutsos KDD'02 — the
    exact per-sample form; their probabilistic counters correspond to our
    A8 sketches when |V| bits per lane is too much state.]
    """
    rows = []
    cum = 0
    for h, c in enumerate(res.per_level_new):
        if c == 0:
            continue
        cum += int(c)
        rows.append((h, cum))
    return graph.spark.createDataFrame(rows, "h int, nf long")


def effective_diameter(res: MsBfsResult, q: float = 0.9) -> float:
    """Smallest h (linearly interpolated) with N(h) ≥ q·N(max) over the
    source sample — the standard effective-diameter estimator."""
    counts = [int(c) for c in res.per_level_new if c > 0]
    if not counts:
        return 0.0
    cum = np.cumsum(counts)
    target = q * cum[-1]
    h = int(np.searchsorted(cum, target))
    if h == 0:
        return 0.0
    prev = cum[h - 1]
    return float(h - 1 + (target - prev) / (cum[h] - prev))


def batched_closeness(
    graph: LinkGraph,
    sources: list[int] | None = None,
    batch_width: int = 512,
    track_teps: bool = False,
    max_levels: int | None = None,
) -> tuple[DataFrame, list[MsBfsResult]]:
    """K4 source-batch scheduler: degree-descending seed order, chunked into
    ≤512-lane batches (hubs share frontiers → better bit utilization)."""
    if sources is None:
        sources = graph.top_degree_vids(graph.num_vertices())
    results = []
    frames = []
    n = graph.num_vertices()
    for i in range(0, len(sources), batch_width):
        batch = sources[i : i + batch_width]
        res = msbfs(graph, batch, track_teps=track_teps, max_levels=max_levels)
        results.append(res)
        frames.append(closeness(graph, res, n=n))
    out = frames[0]
    for f in frames[1:]:
        out = out.union(f)
    return out, results
