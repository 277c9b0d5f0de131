"""MS-BFS correctness: hand oracles, BFS oracle, bottom-up strategies
bit-exact vs the gate off, batch ≡ independent single-source runs,
traversal invariants."""

import numpy as np
import pytest

from linkgraph.algos.msbfs import batched_closeness, closeness, msbfs
from linkgraph.fixtures import edges_df, er_edges, grid_edges, two_cliques_edges
from linkgraph.graph import LinkGraph


@pytest.fixture(scope="module")
def grid(spark):
    return LinkGraph.from_undirected(edges_df(spark, grid_edges()), num_partitions=8)


@pytest.fixture(scope="module")
def er(spark):
    return LinkGraph.from_undirected(edges_df(spark, er_edges(120, 0.04)), num_partitions=8)


def test_grid_distances_manhattan(grid):
    res = msbfs(grid, [0, 63], emit_distances=True)
    d = res.distances
    exp0 = {r * 8 + c: r + c for r in range(8) for c in range(8)}
    got0 = d[d.src == 0].set_index("vid")["dist"].to_dict()
    assert got0 == exp0
    got63 = d[d.src == 63].set_index("vid")["dist"].to_dict()
    assert got63 == {v: 14 - dist for v, dist in exp0.items()}
    assert res.r[0] == 64 and res.s[0] == sum(exp0.values())


def _bfs_oracle(pairs, src):
    import collections

    adj = collections.defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    dist = {src: 0}
    q = collections.deque([src])
    while q:
        v = q.popleft()
        for u in adj[v]:
            if u not in dist:
                dist[u] = dist[v] + 1
                q.append(u)
    return dist


def test_er_distances_vs_oracle(er):
    pairs = er_edges(120, 0.04)
    srcs = [0, 1, 5, 17, 63]
    res = msbfs(er, srcs, emit_distances=True)
    d = res.distances
    for s in srcs:
        got = d[d.src == s].set_index("vid")["dist"].to_dict()
        assert got == _bfs_oracle(pairs, s), f"source {s}"


def test_batch_equals_single_source(grid):
    """512-lane batched run ≡ independent single-source runs."""
    srcs = [0, 9, 36]
    batch = msbfs(grid, srcs, emit_distances=True)
    for j, s in enumerate(srcs):
        solo = msbfs(grid, [s], emit_distances=True)
        got = batch.distances[batch.distances.src == s].set_index("vid")["dist"].to_dict()
        exp = solo.distances.set_index("vid")["dist"].to_dict()
        assert got == exp
        assert batch.r[j] == solo.r[0] and batch.s[j] == solo.s[0]


def test_closeness_two_cliques(spark):
    g = LinkGraph.from_undirected(edges_df(spark, two_cliques_edges(10)), num_partitions=8)
    n = g.num_vertices()
    assert n == 20
    res = msbfs(g, [0, 5, 10])
    df = closeness(g, res).toPandas().set_index("src")
    # vertex 0 (bridge endpoint): dist 1 to 9 clique mates + vertex 10; dist 2 to other 9
    assert df.loc[0, "r"] == 20 and df.loc[0, "s"] == 10 + 2 * 9
    # vertex 5 (inner clique): 1 to 9 mates, 2 to bridge-far-end 10, 3 to its 9 mates
    assert df.loc[5, "s"] == 9 + 2 + 3 * 9
    c0 = (20 - 1) ** 2 / ((20 - 1) * 28)
    assert abs(df.loc[0, "c"] - c0) < 1e-9


def test_batched_closeness_all_sources(grid):
    df, results = batched_closeness(grid, sources=list(range(64)), batch_width=32)
    assert len(results) == 2  # two 32-lane batches
    pdf = df.toPandas()
    assert len(pdf) == 64
    # grid is vertex-transitive along diagonal: center vertices have highest c
    best = pdf.sort_values(["c", "src"], ascending=[False, True]).iloc[0]
    assert best["src"] in (27, 28, 35, 36)


def test_monotone_seen_invariant(grid):
    """per-level new counts are the BFS level profile — strictly the frontier
    sizes of a fresh traversal (seen monotonicity ⇒ no vertex recounted)."""
    res = msbfs(grid, [0])
    assert sum(res.per_level_new) == 64  # each vertex counted exactly once
    assert res.per_level_new[0] == 1
    assert all(x > 0 for x in res.per_level_new[:-1])


def test_bottom_up_strategies_bit_exact(spark, er):
    """K3 completion: all four pull strategies (open-side edge semi-join,
    closed-side edge anti-join, closed-bitmap message filter, post-expand
    message anti-join) are bit-exact vs the gate off.

    * threshold 0.01 forces the gate on from the first closed vertex;
      on the connected ER graph the state covers |V| quickly -> open-side
      edge SEMI-join path (the true bottom-up: closed-dst edges are never
      enumerated).
    * a disconnected extra clique keeps state_rows < |V| forever -> the
      closed-side edge ANTI-join path.
    * autoBroadcastJoinThreshold=-1 blocks both edge-side paths -> the
      closed-BITMAP map-side message filter (the mid-range side-channel).
    * bitmap additionally disabled -> the post-expand message anti-join
      fallback.
    """
    srcs = [0, 1, 5, 17, 63]
    base = msbfs(er, srcs, emit_distances=True, bottom_up=False)

    def check(res, expect_strategy=None):
        d = res.distances.sort_values(["src", "vid"]).reset_index(drop=True)
        b = base.distances.sort_values(["src", "vid"]).reset_index(drop=True)
        assert d.equals(b)
        assert np.array_equal(res.r, base.r) and np.array_equal(res.s, base.s)
        if expect_strategy is not None:
            assert expect_strategy in res.strategies, res.strategies

    # open-side semi-join (state covers all vertices once dense)
    check(
        msbfs(er, srcs, emit_distances=True, bottom_up=True, bottom_up_threshold=0.01),
        expect_strategy="open_semi",
    )

    # closed-side anti-join: unreachable component keeps state_rows < |V|
    pairs = er_edges(120, 0.04) + [(200 + a, 200 + b) for a, b in two_cliques_edges(6)]
    g2 = LinkGraph.from_undirected(edges_df(spark, pairs), num_partitions=8)
    base2 = msbfs(g2, srcs, emit_distances=True, bottom_up=False)
    res2 = msbfs(g2, srcs, emit_distances=True, bottom_up=True, bottom_up_threshold=0.01)
    assert "closed_anti" in res2.strategies, res2.strategies
    d2 = res2.distances.sort_values(["src", "vid"]).reset_index(drop=True)
    assert d2.equals(base2.distances.sort_values(["src", "vid"]).reset_index(drop=True))
    assert np.array_equal(res2.r, base2.r) and np.array_equal(res2.s, base2.s)

    # mid-range: no broadcastable side -> bitmap side-channel engages
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        check(
            msbfs(
                er, srcs, emit_distances=True, bottom_up=True,
                bottom_up_threshold=0.01,
            ),
            expect_strategy="bitmap",
        )
        # fallback message anti-join (bitmap disabled explicitly)
        check(
            msbfs(
                er, srcs, emit_distances=True, bottom_up=True,
                bottom_up_threshold=0.01, bottom_up_bitmap=False,
            ),
            expect_strategy="msg_anti",
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_closed_limb_table_bit_math(spark):
    """Unit-level check of the K3 bitmap packing + the consumer's join/bit
    test: vid v lands in limb v>>6 at bit v&63, and the filter keeps
    exactly the non-closed dsts (absent limb == open)."""
    from pyspark.sql import functions as F

    from linkgraph.algos.msbfs import _closed_limb_table

    closed = {1, 63, 64, 130}
    rows = [(v, 31 if v in closed else 3) for v in [0, 1, 5, 63, 64, 100, 130, 199]]
    state = spark.createDataFrame(rows, "vid long, s0 long")
    limbs = {
        r["_bm_idx"]: r["_bm_limb"]
        for r in _closed_limb_table(state, "s0 = 31").collect()
    }
    assert limbs == {
        0: (1 << 1) | (1 << 63) if False else (1 << 1) | -(1 << 63),  # bit 63 = sign bit
        1: (1 << 0),
        2: (1 << (130 - 128)),
    }

    msgs = spark.createDataFrame(
        [(v,) for v in [0, 1, 5, 63, 64, 100, 130, 199]], "dst long"
    )
    bm = _closed_limb_table(state, "s0 = 31")
    kept = sorted(
        r["dst"]
        for r in msgs.join(
            F.broadcast(bm),
            F.expr("shiftright(dst, 6)") == F.col("_bm_idx"),
            "left",
        )
        .where(
            F.expr(
                "_bm_limb is null or ((_bm_limb >> cast((dst & 63) as int)) & 1) = 0"
            )
        )
        .collect()
    )
    assert kept == [0, 5, 100, 199]


def test_bitmap_budget_falls_back_to_anti_join(spark, er):
    """A max_vid beyond spark.linkgraph.msbfs.bitmapMaxBytes must refuse the
    bitmap (executor memory guard) and take the msg_anti fallback."""
    srcs = [0, 1, 5, 17, 63]
    base = msbfs(er, srcs, bottom_up=False)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.linkgraph.msbfs.bitmapMaxBytes", "1b")
    try:
        res = msbfs(er, srcs, bottom_up=True, bottom_up_threshold=0.01)
        assert "msg_anti" in res.strategies and "bitmap" not in res.strategies
        assert np.array_equal(res.r, base.r) and np.array_equal(res.s, base.s)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.linkgraph.msbfs.bitmapMaxBytes")


def test_harmonic_vs_oracle(er):
    from linkgraph.algos.msbfs import harmonic

    pairs = er_edges(120, 0.04)
    srcs = [0, 1, 5, 17, 63]
    res = msbfs(er, srcs)
    n = er.num_vertices()
    got = {r["src"]: (r["h_raw"], r["hn"]) for r in harmonic(er, res).collect()}
    for s in srcs:
        dist = _bfs_oracle(pairs, s)
        exp = sum(1.0 / d for v, d in dist.items() if d > 0)
        assert abs(got[s][0] - exp) < 1e-6, f"source {s}"
        assert abs(got[s][1] - exp / (n - 1)) < 1e-6


def test_anf_and_effective_diameter(grid):
    """ANF on the 8x8 grid from corner 0: N(h) = #cells with manhattan
    distance ≤ h; effective diameter interpolates the 0.9 quantile."""
    from linkgraph.algos.msbfs import effective_diameter, neighborhood_function

    res = msbfs(grid, [0])
    nf = {r["h"]: r["nf"] for r in neighborhood_function(grid, res).collect()}
    import itertools

    exp = {}
    cum = 0
    for h in range(15):
        cnt = sum(
            1 for r, c in itertools.product(range(8), range(8)) if r + c == h
        )
        cum += cnt
        exp[h] = cum
    assert nf == exp
    ed = effective_diameter(res)
    assert 0 < ed <= 14
    assert nf[14] == 64


def test_eccentricity_grid(grid):
    """Corner 0 of the 8x8 grid: ecc = 14 (opposite corner); center-ish
    vertex 27 (row 3,col 3): ecc = max manhattan = 4+4 = 8... computed
    exactly from the grid metric."""
    from linkgraph.algos.msbfs import eccentricity

    res = msbfs(grid, [0, 27])
    got = {r["src"]: (r["ecc"], r["r"]) for r in eccentricity(grid, res).collect()}
    assert got[0] == (14, 64)
    # vid 27 = (3, 3): max |r-3|+|c-3| over the grid = 4+4 = 8
    assert got[27] == (8, 64)


@pytest.mark.parametrize("nsrc", [1, 70, 512])
def test_lane_accounting_matches_numpy(spark, nsrc):
    """The accounting aggregate and the distance explode against the numpy
    bit matrix: random limbs (sign bit set on some), all-zero visit rows,
    fully closed rows and a deg column."""
    import pandas as pd

    from linkgraph.algos.msbfs import (
        _closed_pred,
        _lane_accounting,
        _visit_lanes,
    )
    from linkgraph.operators.bitset import limbs_to_bits

    rng = np.random.default_rng(nsrc)
    n = 200
    lane_mask = np.array(
        [(1 << min(64, max(0, nsrc - 64 * i))) - 1 for i in range(8)], dtype=np.uint64
    )
    v = rng.integers(0, 2**64 - 1, size=(n, 8), dtype=np.uint64, endpoint=True)
    v[::3] &= rng.integers(0, 2**64 - 1, size=(len(v[::3]), 8), dtype=np.uint64)
    v[:5] |= np.uint64(1 << 63)
    v[5:25] = 0
    v &= lane_mask
    seen = rng.integers(0, 2**64 - 1, size=(n, 8), dtype=np.uint64, endpoint=True)
    seen[20:40] = np.uint64(2**64 - 1)
    seen = (seen | v) & lane_mask
    deg = rng.integers(0, 50, size=n)
    pdf = pd.DataFrame({"vid": np.arange(n, dtype=np.int64), "deg": deg})
    for i in range(8):
        pdf[f"v{i}"] = v[:, i].view(np.int64)
        pdf[f"s{i}"] = seen[:, i].view(np.int64)
    df = spark.createDataFrame(pdf)

    vbits = limbs_to_bits(v)[:, :nsrc]
    frontier_ref = int(vbits.any(axis=1).sum())
    closed_ref = int(limbs_to_bits(seen)[:, :nsrc].all(axis=1).sum())
    assert 20 <= closed_ref < n
    lanes, frontier, closed, rows, traversals = _lane_accounting(
        df, nsrc, _closed_pred(nsrc), with_deg=True
    )
    assert np.array_equal(lanes, vbits.sum(axis=0))
    assert frontier == frontier_ref <= n - 20
    assert closed == closed_ref
    assert rows == n
    assert traversals == int((deg * vbits.sum(axis=1)).sum())

    lanes, frontier, closed, rows, traversals = _lane_accounting(df, nsrc)
    assert np.array_equal(lanes, vbits.sum(axis=0))
    assert (frontier, closed, rows, traversals) == (frontier_ref, 0, n, 0)

    r, lane = np.nonzero(vbits)
    got = {(x["vid"], x["lane"]) for x in _visit_lanes(df, nsrc).collect()}
    assert got == set(zip(r.tolist(), lane.tolist()))


def test_msbfs_releases_level_state(spark, grid):
    """A warm run leaves no cached RDD behind: every level's local
    checkpoint and the persisted seed are released."""
    msbfs(grid, [0, 9, 36])
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keySet())
    res = msbfs(grid, [0, 9, 36])
    assert res.levels == 15
    assert set(persistent().keySet()) - before == set()
