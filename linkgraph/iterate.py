"""One loop for the kernels that iterate a DataFrame state to a fixpoint.

PageRank, CC (min-label and two-phase), LPA, label spreading, Katz,
eigenvector centrality, weighted SSSP, MS-BFS's level loop, WL refinement
(`wl_refine`, `wl_anonymity`), `fiedler_partition`, `coreness` and
`hitting_time` all run the same loop; only the update (`step`), the
per-iteration statistics (`probe`) and the stop test (`done`) differ.
`fixpoint` owns the rest:

* **One fused Spark job per iteration.**  `step` returns the next state as
  an unmaterialized plan over the current one; `fixpoint` truncates it with
  a LAZY ``localCheckpoint`` and `probe` — the iteration's single aggregate
  action — is what materializes it, so expand + update + statistics run as
  one job instead of a checkpoint job followed by a stats job.
* **Deterministic truncation.**  The loop runs under ``iteration_plan``
  (AQE off).  The round-1 lazy-checkpoint pathology (plan build 2 s ->
  219 s by iteration 9) was AQE-specific; with AQE off the plan is cut at
  the checkpoint call, so lineage is cut every iteration and the plan stays
  bounded however long the loop runs (tests/test_algos.py asserts it).
* **State release.**  Every state `fixpoint` checkpoints is released once
  its successor is materialized, except the one it returns.
  ``DataFrame.unpersist()`` is a no-op on a local checkpoint (its blocks
  belong to the RDD under the ``LogicalRDD``, not to the cache manager), so
  `fixpoint` releases that RDD directly.
* **Snapshot and resume** through `CheckpointManager`: every
  `snapshot_every` iterations the state's seed columns are written with the
  manifest metrics ``{"iteration": k, **metrics}`` (the probe's) and
  reloaded through an eager local checkpoint (the parquet scan is the new
  lineage root);
  ``resume=True`` restarts from the latest committed snapshot with its
  iteration count and metrics.
"""

from __future__ import annotations

from typing import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import iteration_plan


def fixpoint(
    seed: DataFrame,
    step: Callable[[DataFrame, dict], DataFrame],
    probe: Callable[[DataFrame, dict], dict],
    done: Callable[[dict, dict], bool],
    max_iter: int,
    seed_metrics: Callable[[DataFrame], dict] | None = None,
    checkpoint_mgr=None,
    snapshot_every: int = 10,
    resume: bool = False,
) -> tuple[DataFrame, dict, bool]:
    """Iterate ``state <- step(state, metrics)`` from `seed` until
    ``done(metrics, prev_metrics)`` or `max_iter` iterations.

    step(state, metrics): the next state, not yet materialized; `metrics`
        are the previous iteration's probe (or the seed's / snapshot's).
    probe(state, metrics): the one action per iteration, over the new
        state; returns the iteration's metrics (JSON-serializable when
        snapshots are on — they go into the manifest).  `metrics` are the
        previous iteration's, so a probe can fold running totals into them.
    seed_metrics(state): metrics of the checkpointed seed, for `step` and
        `done` of the first iteration (not called on resume); it runs under
        ``iteration_plan`` like the probes.
    Snapshots hold the seed's columns, so `step` may add probe-only
    columns (e.g. the previous value) without them reaching the snapshot.

    Returns (state, metrics, converged); converged is False when the
    budget ran out before `done` held.
    """
    it0 = 0
    metrics = None
    state = seed
    if resume and checkpoint_mgr is not None:
        snap = checkpoint_mgr.latest()
        if snap is not None:
            state = checkpoint_mgr.read_state(snap)
            metrics = dict(snap["metrics"])
            it0 = int(metrics.pop("iteration"))
    state = state.localCheckpoint(eager=True)

    converged = False
    with iteration_plan(seed.sparkSession):
        if metrics is None:
            metrics = seed_metrics(state) if seed_metrics is not None else {}
        for it in range(it0, max_iter):
            new_state = step(state, metrics).localCheckpoint(eager=False)
            new_metrics = probe(new_state, metrics)
            release(state)
            state = new_state
            if checkpoint_mgr is not None and (it + 1) % snapshot_every == 0:
                reloaded = checkpoint_mgr.write_state(
                    state.select(*seed.columns),
                    it + 1,
                    {"iteration": it + 1, **new_metrics},
                ).localCheckpoint(eager=True)
                release(state)
                state = reloaded
            converged = done(new_metrics, metrics)
            metrics = new_metrics
            if converged:
                break
    return state, metrics, converged


def count_changed(state: DataFrame, col: str, prev_col: str) -> int:
    """Rows whose `col` differs from `prev_col`: the probe of the label
    kernels, which carry the previous label in the state for it."""
    return int(
        state.agg(
            F.sum(F.when(F.col(col) != F.col(prev_col), 1).otherwise(0)).alias("n")
        ).first()["n"]
        or 0
    )


def release(state: DataFrame) -> None:
    """Free the cached blocks of a loop state: ``unpersist()`` for a
    ``persist()``ed DataFrame; for a local checkpoint, the RDD under its
    ``LogicalRDD``, dropped with the call Spark's ContextCleaner makes for a
    garbage-collected RDD (``DataFrame.unpersist()`` is a no-op there, and
    ``RDD.unpersist`` would log a truncated-lineage warning per iteration).
    Best effort for a local checkpoint: if py4j cannot reach the RDD, the
    ContextCleaner frees the blocks once the DataFrame is garbage-collected."""
    if state.is_cached:
        state.unpersist()
        return
    try:
        rdd_id = state._jdf.queryExecution().analyzed().rdd().id()
        state.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)
    except Py4JError:
        pass
