"""Salted skew join (J2): identical results to the unsalted join on a
Zipf-hub graph; hub replication bounded."""

import pytest
from pyspark.sql import functions as F

from linkgraph.fixtures import transcripts_df
from linkgraph.graph import LinkGraph
from linkgraph.operators.skew import SaltedEdges
from linkgraph.sources.derive import shared_key_conv_edges


@pytest.fixture(scope="module")
def zipf_graph(spark):
    t = transcripts_df(spark, n_convs=150)
    edges = shared_key_conv_edges(t, key="tool")
    g, _ = LinkGraph.from_string_vertices(edges, "src_conv", "dst_conv", persist=False)
    return g


def test_salted_join_equals_plain(zipf_graph):
    g = zipf_graph
    frontier = g.degrees().limit(40).select(F.col("vid").alias("src"), F.lit(1).alias("tag"))
    plain = (
        g.edges.join(frontier, "src")
        .groupBy("dst")
        .agg(F.count("*").alias("n"))
        .toPandas()
        .sort_values("dst")
        .reset_index(drop=True)
    )
    salted = SaltedEdges(g, hub_threshold=10, s=4)
    got = (
        salted.join_frontier(frontier)
        .groupBy("dst")
        .agg(F.count("*").alias("n"))
        .toPandas()
        .sort_values("dst")
        .reset_index(drop=True)
    )
    assert plain.equals(got)
    salted.unpersist()


def test_kernels_on_salted_shuffle_path(spark, zipf_graph):
    """J2 integration: pagerank/msbfs through LinkGraph.expand on the
    salted SHUFFLE path (broadcast disabled) match the broadcast path."""
    import numpy as np

    from linkgraph.algos.msbfs import msbfs
    from linkgraph.algos.pagerank import pagerank

    g = zipf_graph
    srcs = g.top_degree_vids(16)
    pr_b = {r["vid"]: r["pr"] for r in pagerank(g, tol=0.0, max_iter=5).collect()}
    res_b = msbfs(g, srcs)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        g.enable_salting(hub_threshold=10, s=4)
        pr_s = {r["vid"]: r["pr"] for r in pagerank(g, tol=0.0, max_iter=5).collect()}
        res_s = msbfs(g, srcs)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        g._salted.unpersist()
        g._salted = None

    assert set(pr_b) == set(pr_s)
    assert np.allclose(
        [pr_b[v] for v in sorted(pr_b)], [pr_s[v] for v in sorted(pr_s)], atol=1e-9
    )
    assert np.array_equal(res_b.r, res_s.r) and np.array_equal(res_b.s, res_s.s)


def test_salt_spreads_hub_edges(zipf_graph):
    g = zipf_graph
    salted = SaltedEdges(g, hub_threshold=10, s=4)
    hub_salts = (
        salted.edges.join(salted.hubs, "src", "left_semi")
        .groupBy("salt")
        .count()
        .collect()
    )
    assert len(hub_salts) > 1  # hub edges span multiple salt buckets
    salted.unpersist()


def test_auto_salt_engages_on_hub_graph(spark):
    """J2 self-detection: a star hub beyond factor×|E|/P trips
    maybe_auto_salt without any manual call; kernel results unchanged."""
    import numpy as np

    from linkgraph.algos.msbfs import msbfs
    from linkgraph.fixtures import edges_df

    # star: vertex 0 -> 1..400 plus a sparse ring, P=8 -> share ~100;
    # max_deg(0)=~400 > 2*share
    pairs = [(0, i) for i in range(1, 401)] + [(i, i + 1) for i in range(1, 400, 7)]
    g = LinkGraph.from_undirected(edges_df(spark, pairs), num_partitions=8)
    baseline = msbfs(g, [0, 5])
    assert g.maybe_auto_salt(factor=2, min_edges=100) is not None
    assert g._salted is not None
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        salted_res = msbfs(g, [0, 5])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert np.array_equal(baseline.r, salted_res.r)
    assert np.array_equal(baseline.s, salted_res.s)
    g.unpersist()


def test_auto_salt_decides_per_call(spark):
    """maybe_auto_salt measures the graph once and decides for each call's
    own factor and min_edges: on the 400-leaf star the default call is
    under min_edges, and a later call with lower bars still salts."""
    from linkgraph.fixtures import edges_df

    pairs = [(0, i) for i in range(1, 401)] + [(i, i + 1) for i in range(1, 400, 7)]
    g = LinkGraph.from_undirected(edges_df(spark, pairs), num_partitions=8)
    try:
        assert g.maybe_auto_salt() is None
        assert g.maybe_auto_salt(factor=2, min_edges=100) is not None
    finally:
        g.unpersist()


def test_auto_salt_noop_on_uniform_graph(spark):
    """No hub -> no salting (and no salted-table build cost)."""
    from linkgraph.fixtures import edges_df, er_edges

    g = LinkGraph.from_undirected(edges_df(spark, er_edges(200, 0.05)), num_partitions=8)
    assert g.maybe_auto_salt(factor=8, min_edges=100) is None
    assert g._salted is None
    g.unpersist()


def test_auto_salt_verdict_same_inside_a_loop(spark, monkeypatch):
    """maybe_auto_salt measures a hub against the edge cache's partition
    share, not the session count: its first call, made by an expand inside
    a fixpoint loop whose count has dropped to 1, salts a Zipf graph
    exactly as a call outside any loop does (at a count of 1 the share
    was the whole edge set, and no hub ever passed)."""
    from linkgraph.algos.pagerank import pagerank
    from linkgraph.fixtures import edges_df

    # Zipf degrees, exponent 2: rank i links to 600 / (i+1)^2 leaves
    pairs = [
        (i, 10_000 + 1000 * i + j) for i in range(60) for j in range(600 // (i + 1) ** 2)
    ]
    verdicts = []
    for inside in (False, True):
        g = LinkGraph.from_undirected(edges_df(spark, pairs), num_partitions=8)
        assert g.num_edges() >= 1000
        if inside:
            check = LinkGraph.maybe_auto_salt
            monkeypatch.setattr(
                LinkGraph, "maybe_auto_salt",
                lambda self: check(self, factor=2, min_edges=1000),
            )
            old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                pagerank(g, tol=0.0, max_iter=1).count()
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
                monkeypatch.undo()
        else:
            g.maybe_auto_salt(factor=2, min_edges=1000)
        salted = g._salted
        assert salted is not None, f"not salted (inside a loop: {inside})"
        verdicts.append(
            (salted.s, sorted(r["src"] for r in salted.hubs.collect()),
             salted.edges.rdd.getNumPartitions())
        )
        g.unpersist()
    assert verdicts[0] == verdicts[1]
    assert verdicts[0][2] == 8
