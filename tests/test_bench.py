"""bench.run_suite's leaf filter, and bench_extra.py as a CLI over it."""

import ast
import os
import pathlib
import subprocess
import sys

import bench

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_run_suite_only_empty_builds_nothing(spark, sf0001, monkeypatch):
    import linkgraph.entry_queries
    import linkgraph.fixtures

    def no_build(*a, **k):
        raise AssertionError("run_suite(only=set()) built a graph")

    monkeypatch.setattr(linkgraph.entry_queries, "copurchase_graph", no_build)
    monkeypatch.setattr(linkgraph.fixtures, "transcripts_df", no_build)
    assert bench.run_suite(spark, sf0001, "0.001", only=set()) == ({}, {})


def test_run_suite_only_one_leaf(spark, sf0001):
    timings, extras = bench.run_suite(
        spark, sf0001, "0.001", only={"msbfs512_closeness_copurchase"}
    )
    assert list(timings) == ["build_copurchase", "msbfs512_closeness_copurchase"]
    assert extras["msbfs_copurchase"]["bit_edge_traversals"] > 0
    assert "zipf" not in extras
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


def test_bench_extra_is_a_cli_over_run_suite():
    """bench_extra.py defines no query: every pass is bench.run_suite, so
    its leaves, bodies and extras cannot drift from bench.py's (a hand copy
    of the 24 bodies once dropped both msbfs512 `bit_edge_traversals`)."""
    banned = (
        "linkgraph.algos",
        "linkgraph.operators",
        "linkgraph.textops",
        "linkgraph.entry_queries",
    )
    tree = ast.parse((REPO / "bench_extra.py").read_text())
    imported = [
        alias.name for node in ast.walk(tree) if isinstance(node, ast.Import)
        for alias in node.names
    ] + [
        node.module for node in ast.walk(tree) if isinstance(node, ast.ImportFrom)
    ]
    hits = [m for m in imported if m and m.startswith(banned)]
    assert not hits, f"bench_extra.py imports query code: {hits}"
    calls = {
        ast.unparse(node.func) for node in ast.walk(tree) if isinstance(node, ast.Call)
    }
    assert "bench.run_suite" in calls


def test_bench_extra_rejects_unknown_only(sf0001):
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf0001,
        SPARK_GRAFT_CPUS="1",
        LINKGRAPH_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "bench_extra.py", "--only", "no_such_leaf,msbfs512_zip"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode != 0
    assert "no_such_leaf" in proc.stderr and "msbfs512_zip" in proc.stderr
    assert '"queries"' not in proc.stdout


def test_run_suite_own_edge_leaves_build_no_graph(spark, sf0001, monkeypatch):
    """mst_copurchase derives its own weighted edges from lineitem, so a
    subset of it alone times no build_copurchase (10.9 s at sf0.001)."""
    import linkgraph.entry_queries

    def no_build(*a, **k):
        raise AssertionError("run_suite built the co-purchase graph")

    monkeypatch.setattr(linkgraph.entry_queries, "copurchase_graph", no_build)
    timings, extras = bench.run_suite(spark, sf0001, "0.001", only={"mst_copurchase"})
    assert list(timings) == ["mst_copurchase"]
    assert extras["mst_edges"] > 0
