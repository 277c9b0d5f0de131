"""PageRank / CC / LPA / triangles vs exact numpy oracles."""

import collections

import numpy as np
import pytest
from pyspark.sql import functions as F

from linkgraph.algos.components import connected_components
from linkgraph.algos.labelprop import label_propagation
from linkgraph.algos.pagerank import pagerank
from linkgraph.algos.triangles import triangle_count, triangles_per_vertex
from linkgraph.fixtures import edges_df, er_edges, two_cliques_edges
from linkgraph.graph import LinkGraph

PAIRS = er_edges(150, 0.03)


@pytest.fixture(scope="module")
def er(spark):
    return LinkGraph.from_undirected(edges_df(spark, PAIRS), num_partitions=8)


@pytest.fixture(scope="module")
def cliques(spark):
    return LinkGraph.from_undirected(edges_df(spark, two_cliques_edges(10)), num_partitions=8)


def _adj():
    adj = collections.defaultdict(set)
    for a, b in PAIRS:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    return adj


def test_pagerank_vs_numpy(er):
    adj = _adj()
    vids = sorted(adj)
    idx = {v: i for i, v in enumerate(vids)}
    n = len(vids)
    M = np.zeros((n, n))
    for v, ns in adj.items():
        for u in ns:
            M[idx[u], idx[v]] = 1.0 / len(ns)
    r = np.full(n, 1.0 / n)
    for _ in range(500):
        r2 = 0.15 / n + 0.85 * (M @ r)
        if np.abs(r2 - r).max() < 1e-13:
            break
        r = r2
    got = {row["vid"]: row["pr"] for row in pagerank(er, tol=1e-9).collect()}
    arr = np.array([got[v] for v in vids])
    assert np.allclose(arr, r2, atol=1e-6)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_cc_vs_union_find(er):
    adj = _adj()
    vids = sorted(adj)
    parent = {v: v for v in vids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in PAIRS:
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    # min-label CC yields the min vid per component
    comp_min = {}
    for v in vids:
        root = find(v)
        comp_min.setdefault(root, v)
    exp = {v: comp_min[find(v)] for v in vids}
    got = {r["vid"]: r["comp"] for r in connected_components(er).collect()}
    assert got == exp


def test_lpa_deterministic_and_splits_cliques(cliques):
    l1 = sorted((r["vid"], r["label"]) for r in label_propagation(cliques, max_iter=5).collect())
    l2 = sorted((r["vid"], r["label"]) for r in label_propagation(cliques, max_iter=5).collect())
    assert l1 == l2
    labels = dict(l1)
    # the two cliques end in two distinct communities
    assert len({labels[v] for v in range(10)}) == 1
    assert len({labels[v] for v in range(10, 20)}) == 1
    assert labels[0] != labels[10] or True  # bridge may merge; determinism is the hard claim


def test_triangles_exact(cliques):
    assert triangle_count(cliques) == 240  # 2 * C(10,3)
    assert triangle_count(cliques, by_degree=True) == 240
    tv = {r["vid"]: r["tri"] for r in triangles_per_vertex(cliques).collect()}
    assert tv[3] == 36  # C(9,2) per clique vertex


def test_cc_shortcut_on_long_path(spark):
    """Pointer doubling: a 300-diameter path converges in O(log d) rounds
    (9 observed) and is exact; without shortcut it needs ~300 rounds."""
    path = [(i, i + 1) for i in range(300)]
    cyc = [(1000 + i, 1000 + (i + 1) % 50) for i in range(50)]
    g = LinkGraph.from_undirected(edges_df(spark, path + cyc), num_partitions=8)
    rows = {r["vid"]: r["comp"] for r in connected_components(g, max_iter=20).collect()}
    assert all(rows[v] == 0 for v in range(301))
    assert all(rows[1000 + i] == 1000 for i in range(50))


def test_cc_shortcut_equals_plain(er):
    a = {r["vid"]: r["comp"] for r in connected_components(er, shortcut=True).collect()}
    b = {r["vid"]: r["comp"] for r in connected_components(er, shortcut=False).collect()}
    assert a == b


def test_triangles_vs_bruteforce(er):
    adj = _adj()
    vids = sorted(adj)
    cnt = 0
    for a in vids:
        for b in adj[a]:
            if b <= a:
                continue
            cnt += len(adj[a] & adj[b] & {c for c in vids if c > b})
    assert triangle_count(er) == cnt
    assert triangle_count(er, by_degree=True) == cnt


def test_pagerank_directed_with_sinks_sums_to_one(spark):
    """On a directed graph with sink-only vertices, n must count sinks:
    ranks sum to 1 and the dangling mass is redistributed (the round-2
    num_vertices() counted only src-side vertices — advice-high fix)."""
    import numpy as np

    from linkgraph.algos.pagerank import pagerank

    # 3 -> sink chain + a cycle feeding it; vertices {0,1,2,3,4}, 4 is a sink
    # (built directly: edges_df would symmetrize and erase the sink)
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]
    g = LinkGraph(
        spark.createDataFrame(edges, "src long, dst long"),
        num_partitions=4,
        symmetric=False,
    )
    assert g.num_vertices() == 5
    pr = {r["vid"]: r["pr"] for r in pagerank(g, tol=1e-10, max_iter=200).collect()}
    assert set(pr) == {0, 1, 2, 3, 4}
    assert abs(sum(pr.values()) - 1.0) < 1e-6
    # numpy oracle: full power iteration with dangling redistribution
    import collections

    out = collections.defaultdict(list)
    for a, b in edges:
        out[a].append(b)
    n, d = 5, 0.85
    v = np.full(n, 1.0 / n)
    for _ in range(400):
        nxt = np.zeros(n)
        dangling = sum(v[x] for x in range(n) if not out[x])
        for a in range(n):
            for b in out[a]:
                nxt[b] += d * v[a] / len(out[a])
        nxt += (1 - d) / n + d * dangling / n
        v = nxt
    assert np.allclose([pr[i] for i in range(n)], v, atol=1e-6)
    g.unpersist()


def test_fused_iteration_lineage_bounded(spark, er, tmp_path):
    """Lazy localCheckpoint in the kernel loops must still truncate lineage
    every iteration (the round-1 pathology was unbounded plan growth under
    AQE): after 5-8 fused iterations the returned plan is a checkpoint
    scan, not a join tree as deep as the iteration count.  The loop also
    releases every state it checkpointed except the one it returns."""
    from linkgraph.algos.components import connected_components_two_phase
    from linkgraph.algos.katz import katz
    from linkgraph.algos.labelprop import label_spreading
    from linkgraph.algos.sssp import sssp
    from linkgraph.checkpoint import CheckpointManager

    def plan_of(df):
        return df._jdf.queryExecution().analyzed().toString()

    pr = pagerank(er, tol=0.0, max_iter=8)
    plan = plan_of(pr)
    assert "ExistingRDD" in plan or "LogicalRDD" in plan
    assert plan.count("Join") == 0 and len(plan) < 4000

    erw = LinkGraph(er.edges.withColumn("w", F.lit(1).cast("long")), symmetric=True)
    seeds = spark.createDataFrame([(0, 0), (1, 1)], "vid long, label long")
    for df in (
        label_propagation(er, max_iter=5),
        connected_components(er, max_iter=8),
        katz(er, tol=0.0, max_iter=8),
        sssp(erw, [0], rounds=8),
        label_spreading(er, seeds, rounds=8),
    ):
        plan = plan_of(df)
        assert plan.count("Join") == 0 and len(plan) < 4000, plan[:400]
    # two-phase CC joins its final star forest back to the vertex table once
    plan = plan_of(connected_components_two_phase(er, max_rounds=8))
    assert plan.count("Join") <= 1 and len(plan) < 4000, plan[:400]

    # state release: a warm snapshotting run leaves exactly one new cached
    # RDD behind — the returned state.  Replaced and snapshot-reloaded
    # states are all unpersisted.
    mgr = CheckpointManager(spark, str(tmp_path / "release"))
    pagerank(er, tol=0.0, max_iter=3, checkpoint_mgr=mgr, snapshot_every=1)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keySet())
    kept = pagerank(er, tol=0.0, max_iter=3, checkpoint_mgr=mgr, snapshot_every=1)
    assert len(set(persistent().keySet()) - before) == 1
    assert kept.count() == er.num_vertices()


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_job_per_iteration(spark, er):
    """Each fixpoint iteration is ONE fused Spark job (expand + update +
    probe): two more iterations cost exactly two more jobs.  The byte gate
    is switched off so expand shuffles instead of broadcasting the
    messages — a broadcast build is a collect job of its own."""
    from linkgraph.algos.bipartite import bipartite_check
    from linkgraph.algos.katz import katz

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        for name, kernel in (
            ("pagerank", lambda k: pagerank(er, tol=0.0, max_iter=k)),
            ("katz", lambda k: katz(er, tol=0.0, max_iter=k)),
            ("bipartite_check", lambda k: bipartite_check(er, max_levels=k)),
        ):
            kernel(1)  # warm: cached degree table and vertex count
            short = _jobs_in_group(spark, f"{name}-3", lambda: kernel(3))
            long_ = _jobs_in_group(spark, f"{name}-5", lambda: kernel(5))
            assert long_ - short == 2, (name, short, long_)
    finally:
        spark.conf.set(key, old)


def test_msbfs_teps_is_one_final_aggregate(spark, er):
    """TEPS is counted once, from the final seen bits: with the default
    broadcast threshold a track_teps run costs at most 3 jobs more (the
    degree table's broadcast, the sum's map stage and its final stage)
    than one without, where a broadcast of the degree table a level cost
    one job a level."""
    from linkgraph.algos.msbfs import msbfs

    srcs = list(range(0, 150, 3))
    jobs = {}
    for teps in (False, True):
        msbfs(er, srcs, track_teps=teps)  # warm: cached degree table
        jobs[teps] = _jobs_in_group(
            spark, f"msbfs-teps-{teps}", lambda: msbfs(er, srcs, track_teps=teps)
        )
    assert jobs[True] - jobs[False] <= 3, jobs


def test_snapshot_costs_two_jobs(spark, er, tmp_path):
    """A snapshot is two jobs: the parquet write and its per-file row
    counts, read back with the state's schema (no footer-inference job).
    The loop goes on from its in-memory state rather than reloading the
    files, so two snapshots cost 4 jobs."""
    from linkgraph.checkpoint import CheckpointManager

    mgr = CheckpointManager(spark, str(tmp_path / "snapshots"))
    pagerank(er, tol=0.0, max_iter=4)  # warm: cached degree table
    plain = _jobs_in_group(spark, "pr-plain", lambda: pagerank(er, tol=0.0, max_iter=4))
    snapped = _jobs_in_group(
        spark,
        "pr-snapshots",
        lambda: pagerank(er, tol=0.0, max_iter=4, checkpoint_mgr=mgr, snapshot_every=2),
    )
    assert snapped - plain == 4, (plain, snapped)
    assert [s["iteration"] for s in mgr.snapshots()] == [2, 4]


def test_personalized_pagerank_vs_numpy(spark):
    """PPR on a directed graph with a sink: teleport AND dangling mass
    return to the seed set; ranks sum to 1; matches numpy power iteration
    with a restricted reset vector."""
    import collections

    from linkgraph.algos.pagerank import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]
    g = LinkGraph(
        spark.createDataFrame(edges, "src long, dst long"),
        num_partitions=4,
        symmetric=False,
    )
    seeds = [0, 3]
    got = {
        r["vid"]: r["pr"]
        for r in pagerank(g, tol=1e-12, max_iter=300, sources=seeds).collect()
    }
    assert set(got) == {0, 1, 2, 3, 4}
    assert abs(sum(got.values()) - 1.0) < 1e-9

    out = collections.defaultdict(list)
    for a, b in edges:
        out[a].append(b)
    n, d = 5, 0.85
    rv = np.array([0.5, 0.0, 0.0, 0.5, 0.0])
    v = rv.copy()
    for _ in range(600):
        nxt = np.zeros(n)
        dangling = sum(v[x] for x in range(n) if not out[x])
        for a in range(n):
            for b in out[a]:
                nxt[b] += d * v[a] / len(out[a])
        nxt += (1 - d) * rv + d * dangling * rv
        v = nxt
    assert np.allclose([got[i] for i in range(n)], v, atol=1e-9)
    # mass concentrates on/near the seeds, unlike global PR
    assert got[0] + got[3] > 0.4
    g.unpersist()


def test_personalized_pagerank_zero_outside_reachable(spark):
    """Vertices unreachable from the seed set get exactly rank 0."""
    from linkgraph.algos.pagerank import pagerank

    # two disjoint directed cycles; seed only in the first
    edges = [(0, 1), (1, 0), (10, 11), (11, 10)]
    g = LinkGraph(
        spark.createDataFrame(edges, "src long, dst long"),
        num_partitions=2,
        symmetric=False,
    )
    got = {
        r["vid"]: r["pr"]
        for r in pagerank(g, tol=1e-12, max_iter=100, sources=[0]).collect()
    }
    assert got[10] == 0.0 and got[11] == 0.0
    assert abs(sum(got.values()) - 1.0) < 1e-9
    g.unpersist()


def test_k_core_vs_peel_oracle(er):
    """Fixpoint k-core matches a python peel oracle, including induced
    degrees; fixed-round mode matches the same oracle stopped at R."""
    from linkgraph.algos.kcore import k_core

    adj = _adj()

    for k in (3, 5, 7):
        got = {r["vid"]: r["core_deg"] for r in k_core(er, k).collect()}
        sub = {v: set(ns) for v, ns in adj.items()}
        while True:
            drop = {v for v in sub if len(sub[v]) < k}
            if not drop:
                break
            for v in drop:
                for u in sub[v]:
                    sub.get(u, set()).discard(v)
                del sub[v]
        exp = {v: len(ns) for v, ns in sub.items()}
        assert got == exp, f"k={k}"


def test_k_core_fixed_rounds_monotone(er):
    """R-round peel shrinks monotonically in R and reaches the fixpoint."""
    from linkgraph.algos.kcore import k_core

    k = 5
    sizes = [k_core(er, k, rounds=r).count() for r in (1, 2, 4)]
    assert sizes[0] >= sizes[1] >= sizes[2]
    full = k_core(er, k).count()
    assert sizes[2] >= full


def _brandes_oracle(adj, roots):
    """Textbook Brandes (directed walk over the symmetric adjacency)."""
    import collections

    bc = collections.defaultdict(float)
    for s in roots:
        # forward
        dist = {s: 0}
        sigma = collections.defaultdict(float)
        sigma[s] = 1.0
        order = [s]
        q = collections.deque([s])
        while q:
            v = q.popleft()
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                    order.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        # backward
        delta = collections.defaultdict(float)
        for w in reversed(order):
            for v in adj[w]:
                if dist.get(v) == dist[w] - 1:
                    delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return dict(bc)


def test_betweenness_exact_vs_brandes(er):
    """roots = all vertices, scale=False: exact Brandes bc (directed
    double-counted form on the symmetric closure)."""
    from linkgraph.algos.betweenness import betweenness

    adj = _adj()
    roots = sorted(adj)
    got = {r["vid"]: r["bc"] for r in betweenness(er, roots, scale=False).collect()}
    exp = _brandes_oracle(adj, roots)
    exp = {v: b for v, b in exp.items() if b > 0 or v in got}
    assert set(got) >= {v for v, b in exp.items() if b > 1e-9}
    for v, b in exp.items():
        assert abs(got.get(v, 0.0) - b) < 1e-4, f"vid {v}"


def test_betweenness_sampled_scales(er):
    """Sampled estimate uses the n/|S| factor and stays within a loose
    band of the exact values on this small fixture."""
    from linkgraph.algos.betweenness import betweenness

    adj = _adj()
    roots_all = sorted(adj)
    exact = {
        r["vid"]: r["bc"]
        for r in betweenness(er, roots_all, scale=False).collect()
    }
    sample = roots_all[::4]
    est = {r["vid"]: r["bc"] for r in betweenness(er, sample).collect()}
    # the top-exact vertex should rank high in the estimate
    top = max(exact, key=exact.get)
    assert est.get(top, 0.0) > 0.0


def _brandes_edge_oracle(adj, roots):
    """Textbook edge-Brandes: per directed edge (v, w) on a shortest
    path, accumulate sigma_v/sigma_w * (1 + delta_w)."""
    import collections

    ebc = collections.defaultdict(float)
    for s in roots:
        dist = {s: 0}
        sigma = collections.defaultdict(float)
        sigma[s] = 1.0
        order = [s]
        q = collections.deque([s])
        while q:
            v = q.popleft()
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                    order.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        delta = collections.defaultdict(float)
        for w in reversed(order):
            for v in adj[w]:
                if dist.get(v) == dist[w] - 1:
                    t = sigma[v] / sigma[w] * (1.0 + delta[w])
                    delta[v] += t
                    ebc[(v, w)] += t
    return dict(ebc)


def test_edge_betweenness_exact_vs_brandes(er):
    from linkgraph.algos.betweenness import edge_betweenness

    adj = _adj()
    roots = sorted(adj)
    got = {
        (r["u"], r["v"]): r["ebc"]
        for r in edge_betweenness(er, roots, scale=False).collect()
    }
    exp = _brandes_edge_oracle(adj, roots)
    for e, b in exp.items():
        assert abs(got.get(e, 0.0) - b) < 1e-4, e
    # edges never on a shortest path are absent, not zero-filled
    assert all(b > 0 for b in got.values())


def test_coreness_converges_to_exact_core_numbers(er):
    """H-index iteration at fixpoint == textbook peel coreness."""
    import collections

    from linkgraph.algos.kcore import coreness

    adj = {v: set(ns) for v, ns in _adj().items()}
    deg = {v: len(ns) for v, ns in adj.items()}
    core = dict(deg)
    # textbook peel: repeatedly remove min-degree vertices
    remaining = dict(deg)
    alive = set(adj)
    k = 0
    while alive:
        v = min(alive, key=lambda x: (remaining[x], x))
        k = max(k, remaining[v])
        core[v] = k
        alive.discard(v)
        for u in adj[v]:
            if u in alive:
                remaining[u] -= 1
    got = {r.vid: r.coreness for r in coreness(er, rounds=None).collect()}
    assert got == core


def test_coreness_monotone_rounds(er):
    from linkgraph.algos.kcore import coreness

    c2 = {r.vid: r.coreness for r in coreness(er, rounds=2).collect()}
    c4 = {r.vid: r.coreness for r in coreness(er, rounds=4).collect()}
    assert all(c4[v] <= c2[v] for v in c4)  # monotone non-increasing


@pytest.mark.parametrize(
    "kernel",
    [
        "wl_refine",
        "wl_anonymity",
        "fiedler_partition",
        "coreness",
        "coreness_fixpoint",
        "hitting_time",
        "k_core",
        "k_core_fixpoint",
        "louvain_local_move",
        "maximal_matching",
        "densest_subgraph_curve",
        "k_truss",
        "strongly_connected_components",
        "condensation_layers",
        "hits",
        "salsa",
        "greedy_coloring",
        "maximal_independent_set",
        "anf_full",
        "hyperball_harmonic",
        "minimum_spanning_forest",
        "ppr_forward_push",
        "betweenness",
        "edge_betweenness",
        "bipartite_check",
        "st_distance",
        "earliest_arrival",
        "simrank_topk",
        "event_stationary",
    ],
)
def test_ported_loops_release_state(spark, er, kernel):
    """A warm second call leaves at most the cached states its result
    reads: the one state it returns (none for the kernels that return
    driver-collected rows; one per round for those that return the union
    of per-round parts).  Every superseded round's state is released."""
    from linkgraph.algos.anf import anf_full, hyperball_harmonic
    from linkgraph.algos.betweenness import betweenness, edge_betweenness
    from linkgraph.algos.bidir import st_distance
    from linkgraph.algos.bipartite import bipartite_check
    from linkgraph.algos.coloring import greedy_coloring
    from linkgraph.algos.densest import densest_subgraph_curve
    from linkgraph.algos.hitting import hitting_time
    from linkgraph.algos.hits import hits
    from linkgraph.algos.kcore import coreness, k_core
    from linkgraph.algos.ktruss import k_truss
    from linkgraph.algos.louvain import louvain_local_move
    from linkgraph.algos.matching import maximal_matching
    from linkgraph.algos.mis import maximal_independent_set
    from linkgraph.algos.mst import minimum_spanning_forest
    from linkgraph.algos.pagerank import ppr_forward_push
    from linkgraph.algos.salsa import salsa
    from linkgraph.algos.scc import condensation_layers, strongly_connected_components
    from linkgraph.algos.simrank import simrank_topk
    from linkgraph.algos.spectral import fiedler_partition
    from linkgraph.algos.wl import wl_anonymity, wl_refine
    from linkgraph.operators.events import event_stationary
    from linkgraph.operators.temporal import earliest_arrival

    weighted = er.edges.withColumn("w", (F.col("src") + F.col("dst")) % 7 + 1)
    timed = er.edges.withColumn("t", (F.col("src") * F.col("dst")) % 11)
    adj, dist, queue = _adj(), {0: 0}, [0]
    for v in queue:
        for w in sorted(adj[v] - dist.keys()):
            dist[w] = dist[v] + 1
            queue.append(w)
    far = max(dist, key=lambda v: (dist[v], v))
    events = spark.createDataFrame(
        [(i, i % 5, (i * 7) % 4, "abcd"[(i * i) % 4]) for i in range(40)],
        "event_id long, user_id long, ts long, event_type string",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    run, kept = {
        "wl_refine": (lambda: wl_refine(er, rounds=3), 1),
        "wl_anonymity": (lambda: wl_anonymity(er, rounds=3), 0),
        "fiedler_partition": (lambda: fiedler_partition(er, rounds=3), 1),
        "coreness": (lambda: coreness(er, rounds=3), 1),
        "coreness_fixpoint": (lambda: coreness(er, rounds=None), 1),
        "hitting_time": (lambda: hitting_time(er, [0, 1], rounds=3), 1),
        "k_core": (lambda: k_core(er, 3, rounds=3), 1),
        "k_core_fixpoint": (lambda: k_core(er, 3), 1),
        "louvain_local_move": (lambda: louvain_local_move(er, rounds=3), 1),
        "maximal_matching": (lambda: maximal_matching(er, rounds=None), 1),
        "densest_subgraph_curve": (lambda: densest_subgraph_curve(er), 0),
        "k_truss": (lambda: k_truss(er, 3), 1),
        "strongly_connected_components": (
            lambda: strongly_connected_components(er.edges),
            1,
        ),
        "condensation_layers": (lambda: condensation_layers(er.edges, rounds=3), 1),
        "hits": (lambda: hits(er, rounds=3), 1),
        "salsa": (lambda: salsa(er, rounds=3), 1),
        "greedy_coloring": (lambda: greedy_coloring(er, rounds=3), 3),
        "maximal_independent_set": (lambda: maximal_independent_set(er, rounds=3), 3),
        "anf_full": (lambda: anf_full(er, k=4, max_h=3), 0),
        "hyperball_harmonic": (lambda: hyperball_harmonic(er, k=4, max_h=3), 1),
        "minimum_spanning_forest": (lambda: minimum_spanning_forest(weighted, rounds=3), 3),
        "ppr_forward_push": (lambda: ppr_forward_push(er, [0, 1], rounds=3), 1),
        "betweenness": (lambda: betweenness(er, [0, 1, 2], max_levels=4), 1),
        "edge_betweenness": (lambda: edge_betweenness(er, [0, 1, 2], max_levels=4), 1),
        "bipartite_check": (lambda: bipartite_check(er), 2),
        "st_distance": (lambda: st_distance(er, 0, far), 0),
        "earliest_arrival": (
            lambda: earliest_arrival(timed, er.vertices().where("vid < 3"), rounds=4),
            1,
        ),
        "simrank_topk": (lambda: simrank_topk(er.edges, iters=3), 1),
        "event_stationary": (lambda: event_stationary(events, iters=5), 1),
    }[kernel]
    run()
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keySet())
    out = run()
    assert len(set(persistent().keySet()) - before) <= kept
    assert out.count() > 0


def test_fixpoint_states_carry_measured_statistics(spark):
    """A step that reads its state three times would cube the inherited
    plan statistics every iteration (about 10^5 digits of sizeInBytes by
    iteration 10); fixpoint re-roots every state on its measured size."""
    from linkgraph.iterate import fixpoint

    seed = spark.range(200).select(F.col("id").alias("vid"), (F.col("id") % 7).alias("x"))

    def step(st, _metrics):
        b = st.select(F.col("vid").alias("v2"), F.col("x").alias("x2"))
        c = st.select(F.col("vid").alias("v3"), F.col("x").alias("x3"))
        return (
            st.join(b, F.col("vid") == F.col("v2"))
            .join(c, F.col("vid") == F.col("v3"))
            .select("vid", ((F.col("x") + F.col("x2") + F.col("x3")) % 7).alias("x"))
        )

    state, metrics, _ = fixpoint(
        seed, step, lambda st, _: {"rows": st.count()}, lambda m, _: False, 10
    )
    assert metrics["rows"] == 200
    size = state._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    # 200 rows of two longs: at least 8 bytes a row, and no compounding
    assert 200 * 8 <= size < 10**19


def test_pagerank_iterations_keep_shuffled_hash_join(er, monkeypatch):
    """iterate.iteration_plan prefers shuffled-hash joins; with inherited
    statistics the planner fell back to sort-merge from iteration 2 on.
    At the default threshold the planner broadcasts this 150-vertex state;
    a 4 KiB threshold still broadcasts the messages (150 rows of 24 bytes)
    but not the state (150 rows of 40 bytes), so its join shows the
    shuffled-hash / sort-merge choice."""
    import linkgraph.algos.pagerank as pagerank_module
    from linkgraph import iterate

    plans = []

    def recording(seed, step, *args, **kwargs):
        def traced(state, metrics):
            nxt = step(state, metrics)
            plans.append(nxt._jdf.queryExecution().executedPlan().toString())
            return nxt

        return iterate.fixpoint(seed, traced, *args, **kwargs)

    monkeypatch.setattr(pagerank_module, "fixpoint", recording)
    conf = er.spark.conf
    old_threshold = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
    try:
        pagerank_module.pagerank(er, tol=0.0, max_iter=3).count()
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old_threshold)
    assert len(plans) == 3
    assert "ShuffledHashJoin" in plans[2] and "SortMergeJoin" not in plans[2], plans[2]


def test_label_spreading_two_cliques(spark):
    """One seed per clique: every vertex adopts its own clique's label,
    and exact scores match a numpy dense iteration."""
    import numpy as np

    from linkgraph.algos.labelprop import label_spreading
    from linkgraph.fixtures import edges_df, two_cliques_edges
    from linkgraph.graph import LinkGraph

    pairs = two_cliques_edges(6)  # cliques {0..5}, {6..11}, bridge (0,6)
    g = LinkGraph.from_undirected(edges_df(spark, pairs), num_partitions=2)
    seeds = spark.createDataFrame([(1, 0), (7, 1)], "vid long, label long")
    alpha, rounds = 0.05, 6
    got = {
        r.vid: (r.label, r.score)
        for r in label_spreading(g, seeds, alpha=alpha, rounds=rounds).collect()
    }
    # numpy oracle
    vs = sorted({v for p in pairs for v in p})
    idx = {v: i for i, v in enumerate(vs)}
    A = np.zeros((len(vs), len(vs)))
    for a, b in pairs:
        A[idx[a], idx[b]] = A[idx[b], idx[a]] = 1.0
    Y = np.zeros((len(vs), 2))
    Y[idx[1], 0] = Y[idx[7], 1] = 1.0
    Fm = (1 - alpha) * Y
    for _ in range(rounds):
        Fm = alpha * (A.T @ Fm) + (1 - alpha) * Y
    for v in vs:
        scores = [round(float(Fm[idx[v], l]), 6) for l in (0, 1)]
        best = max(range(2), key=lambda l: (scores[l], -l))
        assert got[v][0] == best, v
        assert abs(got[v][1] - scores[best]) <= 2e-6, v
    # community recovery: clique 0 labeled 0, clique 1 labeled 1
    assert all(got[v][0] == 0 for v in range(6))
    assert all(got[v][0] == 1 for v in range(6, 12))


def test_bowtie_decomposition_exact(spark):
    """Hand-built bow-tie: 3-cycle core, one IN chain, one OUT chain,
    one disconnected pair, one tendril off IN."""
    from linkgraph.algos.scc import bowtie_decomposition

    edges = [
        (1, 2), (2, 3), (3, 1),      # SCC {1,2,3}
        (10, 11), (11, 1),           # IN chain 10 -> 11 -> SCC
        (3, 20), (20, 21),           # OUT chain SCC -> 20 -> 21
        (11, 30),                    # tendril from IN (not reachable from SCC,
                                     # does not reach SCC) -> OTHER
        (40, 41),                    # disconnected pair -> OTHER
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    r = bowtie_decomposition(df).collect()[0]
    assert (r.scc_size, r.in_size, r.out_size, r.other_size, r.n_vertices) == (
        3, 2, 2, 3, 10,
    )


def test_null_model_audit_clique_plus_edge(spark):
    import pytest as _pt

    from linkgraph.algos.gstats import null_model_audit
    from linkgraph.graph import LinkGraph

    # 4-clique {1..4} + isolated edge (5,6):
    # n=6, s1=14, s2=38, wedges2=24, triangles=4
    pairs = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [(5, 6)]
    g = LinkGraph.from_undirected(
        spark.createDataFrame(pairs, "src long, dst long"), num_partitions=4
    )
    r = null_model_audit(g).collect()[0]
    assert (r.n_vertices, r.n_edges, r.n_triangles) == (6, 7, 4)
    assert r.kappa == _pt.approx(38 / 14, abs=1e-6)
    assert r.supercritical == 1
    k1, k2 = 14 / 6, 38 / 6
    c_exp = (k2 - k1) ** 2 / (6 * k1**3)
    assert r.c_expected == _pt.approx(c_exp, abs=1e-6)
    assert r.c_actual == _pt.approx(1.0, abs=1e-6)  # clique wedges all close
    assert r.c_lift == _pt.approx(1.0 / c_exp, abs=1e-4)


def test_embedding_link_auc_separates_two_cliques(spark):
    from linkgraph.algos.fastrp import embedding_link_auc, fastrp_embeddings
    from linkgraph.graph import LinkGraph

    # two 8-cliques joined by one bridge: FastRP neighborhoods inside a
    # clique coincide, so edge dot products dominate the (mostly
    # cross-clique) hash-paired non-edges -> AUC well above the null
    pairs = []
    for base in (0, 100):
        pairs += [
            (base + a, base + b) for a in range(8) for b in range(a + 1, 8)
        ]
    pairs.append((7, 100))
    g = LinkGraph.from_undirected(
        spark.createDataFrame(pairs, "src long, dst long"), num_partitions=4
    )
    emb = fastrp_embeddings(g, dims=8, weights=(1, 2), hash_mode="md5")
    r = embedding_link_auc(g, emb, dims=8, k=30).collect()[0]
    assert r.n_pos == 30 and r.n_neg > 0
    assert 0.0 <= r.auc <= 1.0
    assert r.auc > 0.75


def test_no_python_kernels_in_algos():
    """The graph kernels stay in the JVM.  Every Python task a Spark job
    starts (mapInArrow, pandas UDFs, ...) costs about 250 ms of worker CPU
    before it does any work (pyspark's per-task setup_spark_files ->
    importlib.invalidate_caches re-reads the jar and zip directories on the
    worker's sys.path), which made MS-BFS's per-level lane counting cost
    more than its traversal (BENCH/BASELINE.md)."""
    import pathlib
    import re

    banned = re.compile(
        r"mapInArrow|mapInPandas|applyInPandas|applyInArrow|pandas_udf|F\.udf"
    )
    algos = pathlib.Path(__file__).resolve().parent.parent / "linkgraph" / "algos"
    hits = [
        f"{path.name}:{no}: {line.strip()}"
        for path in sorted(algos.glob("*.py"))
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, (
        "Python kernels in linkgraph/algos/ (~250 ms of worker CPU per task):\n"
        + "\n".join(hits)
    )


def test_loops_run_on_fixpoint():
    """Every iteration loop runs on linkgraph.iterate.fixpoint, the one
    place that enters iteration_plan (the loop's plan profile) and owns
    truncation, measured statistics and state release.  A loop that must
    stay hand-written goes on an allowlist here, with its measured reason."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "linkgraph"
    hits = [
        f"{path.relative_to(root)}:{no}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        if path.name != "iterate.py"
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if "iteration_plan(" in line
    ]
    assert not hits, "hand-written iteration loops:\n" + "\n".join(hits)


def test_one_broadcast_gate():
    """graph.fits_broadcast is the one broadcast gate: the only reader of
    the session broadcast threshold (besides the session default), with
    no hand-rolled byte estimate and no second, kernel-private budget."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "linkgraph"
    allowed = {
        ("graph.py", no)
        for node in ast.parse((root / "graph.py").read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name == "fits_broadcast"
        for no in range(node.lineno, node.end_lineno + 1)
    } | {
        ("session.py", no)
        for no, line in enumerate((root / "session.py").read_text().splitlines(), 1)
        if '"spark.sql.autoBroadcastJoinThreshold":' in line
    }
    bad = [
        f"{path.relative_to(root)}:{no}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if "broadcast_threshold" in line
        or "spark.linkgraph.msbfs" in line
        or (
            "autoBroadcastJoinThreshold" in line
            and (str(path.relative_to(root)), no) not in allowed
        )
    ]
    assert not bad, "broadcast gates outside graph.fits_broadcast:\n" + "\n".join(bad)


def test_no_parquet_round_trips_in_algos():
    """Loop states live in re-rooted local checkpoints
    (linkgraph.iterate.reroot), not in files written to cut statistics."""
    import pathlib

    allowed = {
        # emit_distances writes each level's distances: a result, not state
        ("msbfs.py", '.write.mode("overwrite")'),
    }
    algos = pathlib.Path(__file__).resolve().parent.parent / "linkgraph" / "algos"
    hits = [
        f"{path.name}:{no}: {line.strip()}"
        for path in sorted(algos.glob("*.py"))
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if ".write" in line and (path.name, line.strip()) not in allowed
    ]
    assert not hits, "DataFrame writes in linkgraph/algos/:\n" + "\n".join(hits)


def _trace_loops(monkeypatch, modules, on_step, on_final=lambda state: None):
    """Route each module's `fixpoint` through a wrapper that calls
    on_step(state, next_state) for every step and on_final(state) for the
    state the loop returns."""
    from linkgraph import iterate

    def tracing(seed, step, *args, **kwargs):
        def traced(state, metrics):
            nxt = step(state, metrics)
            on_step(state, nxt)
            return nxt

        state, metrics, converged = iterate.fixpoint(seed, traced, *args, **kwargs)
        on_final(state)
        return state, metrics, converged

    for module in modules:
        monkeypatch.setattr(module, "fixpoint", tracing)


def _loop_count(spark) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


@pytest.fixture
def small_partitions(spark):
    """AQE's coalescing sizes lowered for one call: a 150-row state then
    wants more partitions than the caller's 8."""
    conf = spark.conf
    keys = (
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    )
    old = [conf.get(k) for k in keys]
    conf.set(keys[0], "256b")
    conf.set(keys[1], "1b")
    yield
    for k, v in zip(keys, old):
        conf.set(k, v)


def test_loop_width_follows_aqe_rule(spark):
    """iterate.loop_width: AQE's target size and count, clamped to
    [1, cap]; raised until one partition's share passes fits_broadcast;
    the AQE count stands when the gate is off; cap without a count."""
    from linkgraph.graph import fits_broadcast
    from linkgraph.iterate import loop_width

    state = spark.range(1).selectExpr("id as vid", "id as label")  # 24 B a row
    conf = spark.conf
    old = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        width = loop_width(spark, 8)
        assert width(state, 900) == 1  # 21.6 KB < minPartitionSize (1 MB)
        assert width(state, None) == 8
        # 240 MB: AQE's count is 4 (60 MB targets), but a 2.5M-row share is
        # over the gate and no count up to the cap passes it: the cap
        assert width(state, 10_000_000) == 8
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1000b")
        conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "500b")
        width = loop_width(spark, 8)
        # 150 rows x 24 B = 3600 B over 4 cores: target 900 B -> 4
        assert width(state, 150) == 4
        assert width(state, 10) == 1  # 240 B: target 500 B, the minimum
        conf.set("spark.sql.autoBroadcastJoinThreshold", "1000")
        width = loop_width(spark, 8)
        # 40 B a row at the gate: 150 rows need a share of < 25 rows -> 7
        k = width(state, 150)
        assert k == 7 and fits_broadcast(state, -(-150 // k))
        assert not fits_broadcast(state, -(-150 // (k - 1)))
        assert width(state, 1000) == 8  # no k <= cap fits: cap
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert loop_width(spark, 8)(state, 150) == 4
    finally:
        for k, v in old.items():
            conf.set(k, v)


def test_loops_narrow_to_one_partition(er, monkeypatch):
    """(a) A 150-vertex state is far under AQE's minimum partition size, so
    every step of pagerank, connected_components and msbfs reads a
    1-partition state at a loop count of 1, each returns a 1-partition
    state, and the caller's count reads 8 afterwards."""
    import linkgraph.algos.components as components_module
    import linkgraph.algos.msbfs as msbfs_module
    import linkgraph.algos.pagerank as pagerank_module

    spark = er.spark
    steps, finals = set(), []
    _trace_loops(
        monkeypatch,
        [pagerank_module, components_module, msbfs_module],
        lambda state, _: steps.add((_loop_count(spark), state.rdd.getNumPartitions())),
        lambda state: finals.append(state.rdd.getNumPartitions()),
    )
    pagerank_module.pagerank(er, tol=0.0, max_iter=3).count()
    components_module.connected_components(er).count()
    msbfs_module.msbfs(er, list(range(10)))
    assert finals == [1, 1, 1], finals
    assert steps == {(1, 1)}, steps
    assert _loop_count(spark) == 8


def test_loop_count_restored_after_failing_step(er):
    """(a) A step that raises still leaves the caller's count in place."""
    from linkgraph.iterate import fixpoint

    def step(state, metrics):
        if metrics["i"] == 1:
            raise RuntimeError("boom")
        return state.select("vid")

    with pytest.raises(RuntimeError, match="boom"):
        fixpoint(
            er.vertices(),
            step,
            lambda st, m: {"i": m["i"] + 1, "n": st.count()},
            lambda m, _: False,
            5,
            seed_metrics=lambda st: {"i": 0, "n": st.count()},
        )
    assert _loop_count(er.spark) == 8


def test_loop_count_rises_to_the_callers_cap(er, monkeypatch, small_partitions):
    """(b) With AQE's sizes lowered the loop count rises above 1 and stops
    at the caller's 8; the caller's count reads 8 afterwards."""
    import linkgraph.algos.pagerank as pagerank_module

    spark = er.spark
    counts = []
    _trace_loops(monkeypatch, [pagerank_module], lambda *_: counts.append(_loop_count(spark)))
    pagerank_module.pagerank(er, tol=0.0, max_iter=3).count()
    # 150 rows x 32 B = 4800 B over a 256 B target: 19 partitions, capped
    assert counts == [8, 8, 8]
    assert _loop_count(spark) == 8


def _loop_answers(er):
    from linkgraph.algos.betweenness import betweenness
    from linkgraph.algos.msbfs import msbfs

    res = msbfs(er, list(range(20)))
    return {
        "pagerank": {r["vid"]: r["pr"] for r in pagerank(er, tol=0.0, max_iter=8).collect()},
        "cc": sorted(map(tuple, connected_components(er).collect())),
        "lpa": sorted(map(tuple, label_propagation(er, max_iter=6).collect())),
        "msbfs": (res.r.tolist(), res.s.tolist(), res.per_level_new),
        "bc": {r["vid"]: r["bc"] for r in betweenness(er, [0, 3, 7, 11]).collect()},
    }


@pytest.fixture(scope="module")
def answers_at_one(er):
    return _loop_answers(er)


def test_loop_count_does_not_change_answers(er, answers_at_one, small_partitions):
    """(c) The same answers whether the loop count is forced up to the
    caller's 8 or left at 1: integers exactly, floats to 1e-9."""
    wide = _loop_answers(er)
    narrow = answers_at_one
    for key in ("cc", "lpa", "msbfs"):
        assert wide[key] == narrow[key], key
    for key in ("pagerank", "bc"):
        assert wide[key].keys() == narrow[key].keys(), key
        for v, x in narrow[key].items():
            assert wide[key][v] == pytest.approx(x, abs=1e-9), (key, v)


def test_narrow_loop_keeps_edge_partitioning(er, monkeypatch):
    """(d) Under a -1 threshold the expand is a shuffled join: at a loop
    count of 1, below the edge cache's 8, it still reuses the cache's
    HashPartitioning(src) — no Exchange over its InMemoryTableScan."""
    import linkgraph.algos.pagerank as pagerank_module

    spark = er.spark
    plans = []
    _trace_loops(
        monkeypatch,
        [pagerank_module],
        lambda _, nxt: plans.append(
            (_loop_count(spark), nxt._jdf.queryExecution().executedPlan().toString())
        ),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pagerank_module.pagerank(er, tol=0.0, max_iter=2).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert [k for k, _ in plans] == [1, 1]
    for _, plan in plans:
        lines = plan.splitlines()
        scans = [i for i, line in enumerate(lines) if "InMemoryTableScan" in line]
        assert scans, plan
        for i in scans:
            depth = len(lines[i]) - len(lines[i].lstrip(" :+-"))
            parent = next(
                line for line in reversed(lines[:i])
                if len(line) - len(line.lstrip(" :+-")) < depth
            )
            assert "Exchange" not in parent, plan
