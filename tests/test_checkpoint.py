"""Checkpoint/resume: mid-traversal resume equals uninterrupted run
bit-for-bit; uncommitted snapshots are invisible; lineage audit trips on
corruption."""

import json
import os

import numpy as np
import pytest

from linkgraph.algos.msbfs import msbfs
from linkgraph.algos.pagerank import pagerank
from linkgraph.checkpoint import CheckpointManager
from linkgraph.fixtures import edges_df, grid_edges
from linkgraph.graph import LinkGraph


@pytest.fixture(scope="module")
def grid(spark):
    return LinkGraph.from_undirected(edges_df(spark, grid_edges()), num_partitions=8)


def test_msbfs_resume_equals_uninterrupted(spark, grid, tmp_path):
    srcs = [0, 63]
    full = msbfs(grid, srcs, emit_distances=True)

    root = str(tmp_path / "chk")
    mgr = CheckpointManager(spark, root)
    # interrupted run: stop after level 4 (snapshot written at level 4)
    partial = msbfs(
        grid, srcs, emit_distances=True, checkpoint_mgr=mgr, snapshot_every=4, max_levels=5
    )
    snap = mgr.latest()
    assert snap is not None and snap["metrics"]["level"] == 4
    assert snap["lineage"] and all("rows" in p for p in snap["lineage"])

    resumed = msbfs(
        grid, srcs, emit_distances=True, checkpoint_mgr=mgr, snapshot_every=100, resume=True
    )
    assert np.array_equal(resumed.r, full.r)
    assert np.array_equal(resumed.s, full.s)
    assert np.array_equal(resumed.h, full.h)  # harmonic sums survive resume
    assert np.array_equal(resumed.ecc, full.ecc)  # eccentricities too
    da = full.distances.sort_values(["src", "vid"]).reset_index(drop=True)
    db = resumed.distances.sort_values(["src", "vid"]).reset_index(drop=True)
    assert da.astype("int64").equals(db.astype("int64"))


def test_uncommitted_snapshot_invisible(spark, tmp_path):
    root = str(tmp_path / "chk2")
    mgr = CheckpointManager(spark, root)
    df = spark.range(10).selectExpr("id as vid")
    mgr.write_state(df, 1, {"level": 1})
    # simulate an interrupted write: snapshot dir without manifest
    os.makedirs(os.path.join(root, "iter=2"), exist_ok=True)
    latest = mgr.latest()
    assert latest["iteration"] == 1


def test_lineage_audit_detects_corruption(spark, tmp_path):
    root = str(tmp_path / "chk3")
    mgr = CheckpointManager(spark, root)
    df = spark.range(10).selectExpr("id as vid")
    mgr.write_state(df, 1, {"level": 1})
    snap = mgr.latest()
    mf = os.path.join(snap["path"], "_MANIFEST.json")
    m = json.load(open(mf))
    m["rows"] = 999
    json.dump(m, open(mf, "w"))
    with pytest.raises(RuntimeError, match="corrupt"):
        mgr.read_state(mgr.latest())


def test_lpa_resume_equals_uninterrupted(spark, grid, tmp_path):
    """LPA checkpoint/resume parity (all iterative kernels are resumable):
    interrupted-then-resumed equals uninterrupted bit-for-bit — LPA is
    deterministic, so exact equality is the right assertion."""
    from linkgraph.algos.labelprop import label_propagation

    full = {r["vid"]: r["label"] for r in label_propagation(grid, max_iter=8).collect()}

    root = str(tmp_path / "chklpa")
    mgr = CheckpointManager(spark, root)
    label_propagation(grid, max_iter=4, checkpoint_mgr=mgr, snapshot_every=2)
    snap = mgr.latest()
    assert snap is not None and snap["metrics"]["iteration"] in (2, 4)
    assert snap["lineage"] and all("rows" in p for p in snap["lineage"])

    resumed = {
        r["vid"]: r["label"]
        for r in label_propagation(
            grid, max_iter=8, checkpoint_mgr=mgr, resume=True
        ).collect()
    }
    assert resumed == full


def test_pagerank_resume(spark, grid, tmp_path):
    root = str(tmp_path / "chkpr")
    mgr = CheckpointManager(spark, root)
    full = pagerank(grid, tol=1e-9, max_iter=40)
    partial = pagerank(grid, tol=1e-9, max_iter=10, checkpoint_mgr=mgr, snapshot_every=10)
    resumed = pagerank(grid, tol=1e-9, max_iter=40, checkpoint_mgr=mgr, resume=True)
    a = {r["vid"]: r["pr"] for r in full.collect()}
    b = {r["vid"]: r["pr"] for r in resumed.collect()}
    assert all(abs(a[v] - b[v]) < 1e-9 for v in a)


def test_cc_resume_equals_uninterrupted(spark, tmp_path):
    """CC kill-and-resume: a run cut at max_iter=2 warns that it is not
    converged and leaves its iteration-2 snapshot; resuming from it gives
    exactly the uninterrupted (vid, comp) result.  A 64-vertex path needs
    more than 4 pointer-doubling rounds."""
    from linkgraph.algos.components import connected_components

    path = LinkGraph.from_undirected(
        edges_df(spark, [(i, i + 1) for i in range(63)]), num_partitions=8
    )
    full = sorted(tuple(r) for r in connected_components(path).collect())
    assert {comp for _, comp in full} == {0}

    mgr = CheckpointManager(spark, str(tmp_path / "chkcc"))
    with pytest.warns(UserWarning, match="NOT converged"):
        connected_components(path, max_iter=2, checkpoint_mgr=mgr, snapshot_every=2)
    snap = mgr.latest()
    assert snap is not None and snap["metrics"]["iteration"] == 2
    assert snap["metrics"]["changed"] > 0

    resumed = connected_components(path, checkpoint_mgr=mgr, resume=True)
    assert sorted(tuple(r) for r in resumed.select("vid", "comp").collect()) == full
