"""One loop for the kernels that iterate a DataFrame state to a fixpoint.

PageRank, CC (min-label and two-phase), LPA, label spreading, Katz,
eigenvector centrality, weighted SSSP, MS-BFS's level loop, WL refinement
(`wl_refine`, `wl_anonymity`), `fiedler_partition`, `coreness`,
`hitting_time`, SCC's label propagation and trim, `condensation_layers`,
the bow-tie reachability levels, Louvain's local moves,
`maximal_matching`, `densest_subgraph_curve`, `k_truss`, `k_core`,
Brandes' forward and backward passes (`betweenness`,
`edge_betweenness`), the ANF / HyperBall sketch round, `bipartite_check`,
`st_distance`, `earliest_arrival`, `maximal_independent_set`,
`greedy_coloring`, `ppr_forward_push`, `salsa`, `hits` and
`minimum_spanning_forest` (its Borůvka rounds and pointer jumps) all run
the same loop; only the update (`step`), the per-iteration statistics
(`probe`) and the stop test (`done`) differ.  `fixpoint` owns the rest:

* **A session of the loop's own.**  Each call plans its iterations on a
  clone of the caller's session (`_loop_session`): the caller's confs,
  cache and views, with AQE off, shuffled-hash joins preferred and
  constraint propagation off.  The seed's checkpoint and every plan
  `step` returns are moved onto the clone (`on_session`), and the returned
  state back onto the caller's session, which is never written: a query
  running there meanwhile, or a second loop, plans under the caller's own
  conf.
* **One fused Spark job per iteration.**  `step` returns the next state as
  an unmaterialized plan over the current one; `fixpoint` truncates it with
  a LAZY ``localCheckpoint`` and `probe` — the iteration's single aggregate
  action — is what materializes it, so expand + update + statistics run as
  one job instead of a checkpoint job followed by a stats job.
* **Deterministic truncation.**  The loop session has AQE off.  The
  round-1 lazy-checkpoint pathology (plan build 2 s -> 219 s by iteration
  9) was AQE-specific; with AQE off the plan is cut at the checkpoint
  call, so lineage is cut every iteration and the plan stays bounded
  however long the loop runs (tests/test_algos.py asserts it).
* **Measured statistics.**  Every state is re-rooted (`reroot`) on its
  row count, counted as the probe materializes it, so plan statistics
  never compound across iterations and the join planner sees real sizes
  in every iteration, not only the first.
* **Shuffles sized to the state.**  With AQE off nothing coalesces the
  loop's shuffles, so each iteration sets the loop session's
  ``spark.sql.shuffle.partitions`` to the count AQE's coalescing rule
  would pick for the state just measured (`loop_width`), never above the
  caller's count, and narrows a wider state to it before `step` reads
  it.  A 900-row state runs its exchanges in one task instead of the
  session's 32; a state of many megabytes keeps the caller's width.
* **State release.**  Every state `fixpoint` checkpoints is released once
  its successor is materialized, except the one it returns.
  ``DataFrame.unpersist()`` is a no-op on a local checkpoint (its blocks
  belong to the RDD under the ``LogicalRDD``, not to the cache manager), so
  `fixpoint` releases that RDD directly.
* **Snapshot and resume** through `CheckpointManager`: every
  `snapshot_every` iterations the state's seed columns are written with the
  manifest metrics ``{"iteration": k, **metrics}`` (the probe's); the loop
  goes on from the in-memory state, whose lineage the local checkpoint has
  already cut, so a snapshot costs the write and its per-file count, not a
  reload.  ``resume=True`` restarts from the latest committed snapshot with
  its iteration count and metrics.
"""

from __future__ import annotations

import itertools
from typing import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linkgraph.graph import fits_broadcast, parse_bytes


def _loop_session(spark: SparkSession) -> SparkSession:
    """A clone of `spark` with `fixpoint`'s planning profile: the caller's
    runtime confs (broadcast threshold, AQE's sizes, the shuffle count that
    caps the loop's own), its cache and its temporary views, with three
    confs of the loop's own.  The caller's session is never written, so a
    query that runs in it meanwhile plans under its own conf.  A clone
    costs about 2 ms (20 took 41 ms on a 4 vCPU box).

    * AQE off.  The per-iteration plan is static and repetitive; AQE's
      value is runtime re-planning of unknown shapes, and its cost is an
      extra driver round of stage materialization per query — measured
      ~1-2s per iteration, which dominates wall-time once the compute per
      iteration drops below a few seconds per core.  Skew inside the loop
      is handled explicitly (byte-gated broadcast in LinkGraph.expand,
      salted hub buckets via enable_salting), so the AQE skew-join
      backstop is not load-bearing here.
    * Shuffled-hash joins preferred over sort-merge: the frontier/state
      side is a bounded hash map (at most |V| rows), and SHJ streams the
      co-partitioned edge side without the per-iteration sort SMJ would
      insert.  The planner picks SHJ only for a build side it estimates
      small, so the preference holds past the first iteration only
      because `fixpoint` re-roots every state on its measured size
      (inherited statistics compound and read as too large).
    * Constraint propagation off: Catalyst's ``getAllValidConstraints``
      substitutes every Project alias into every inherited constraint,
      and for wide multi-lane state Projects (k sketch limbs each aliased
      from an expression over the SAME join output, plus a sum column
      referencing all k of them — the anf/hyperball shape) the
      alias-combination set grows combinatorially in k.  Measured on a
      120-vertex fixture: planning ONE hyperball round at k=16 took 8.7s,
      k=24 OOMed an 8 GiB driver heap inside ExpressionSet.map; with the
      flag off, the full k=64 × 10-round job runs in 28s end to end.  The
      constraints only add redundant inferred IsNotNull/filter predicates
      on hand-shaped plans, so nothing is lost inside the loop.

    The Python session is given the fields a DataFrame reads and the
    caller's profiler, not built by the ``SparkSession`` constructor, which
    would also rebind ``RDD.toDF`` to the clone for the rest of the
    process."""
    loop = SparkSession.__new__(SparkSession)
    loop._sc, loop._jsc, loop._jvm = spark._sc, spark._jsc, spark._jvm
    loop._profiler_collector = spark._profiler_collector
    loop._jsparkSession = spark._jsparkSession.cloneSession()
    loop.conf.set("spark.sql.adaptive.enabled", "false")
    loop.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    loop.conf.set("spark.sql.constraintPropagation.enabled", "false")
    return loop


def loop_width(spark, cap: int) -> Callable[[DataFrame, int | None], int]:
    """The loop's shuffle partition count for a measured state, by AQE's
    own coalescing rule (`CoalesceShufflePartitions`), so it is the count
    AQE would pick if it were on inside the loop.  For a state of `bytes`
    (its rows times the schema's default row size, as `reroot` sizes it):

        target = max(minPartitionSize, min(advisoryPartitionSizeInBytes,
                                           ceil(bytes / defaultParallelism)))
        k = ceil(bytes / target), clamped to [1, cap]

    `cap` is the caller's ``spark.sql.shuffle.partitions``.  Then k rises
    until one partition's share of the state passes
    `graph.fits_broadcast`: the planner builds a shuffled-hash join only
    for a side under the broadcast threshold times the partition count,
    and the AQE count alone would turn the loop's hash joins back into
    sort-merge joins.  No k helps when not even one row passes the gate
    (a threshold of -1), so the AQE count stands.  An unmeasured state
    (no row count) keeps `cap`."""
    conf = spark.conf
    min_size = parse_bytes(
        conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB")
    )
    advisory = parse_bytes(
        conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
    )
    parallelism = spark.sparkContext.defaultParallelism

    def width(state: DataFrame, rows: int | None) -> int:
        if rows is None:
            return cap
        size = rows * (8 + state._jdf.schema().defaultSize())
        target = max(min_size, min(advisory, -(-size // parallelism)))
        k = min(cap, max(1, -(-size // target)))
        if not fits_broadcast(state, 1) or fits_broadcast(state, -(-rows // k)):
            return k
        lo, hi = k + 1, cap  # the least k in (k, cap] whose share fits, else cap
        while lo < hi:
            mid = (lo + hi) // 2
            if fits_broadcast(state, -(-rows // mid)):
                hi = mid
            else:
                lo = mid + 1
        return hi

    return width


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
        `done` of the first iteration (not called on resume); it runs on
        the loop session like the probes and, like them, is the action
        that materializes the (lazy) checkpoint.
    Snapshots hold the seed's columns, so `step` may add probe-only
    columns (e.g. the previous value) without them reaching the snapshot.
    The seed is checkpointed as the caller's query; from then on the
    states belong to the loop session (`_loop_session`), and so does
    anything a step or probe builds on them.  A DataFrame a step or probe
    builds on something else (the edges) is planned under the caller's
    conf; one it acts on itself goes through `on_session` first.  Each
    iteration's `step`, `probe` and snapshot run at the loop session's
    ``spark.sql.shuffle.partitions`` (`loop_width` of the state `step`
    reads), so a step that sizes a repartition or coalesce reads
    `loop_partitions` of its state inside `step`.  A `fixpoint` nested in
    a step or probe clones the loop session, so its cap is the outer
    loop's count.

    Returns (state, metrics, converged); converged is False when the
    budget ran out before `done` held.
    """
    caller = seed.sparkSession
    spark = _loop_session(caller)
    it0 = 0
    metrics = None
    state = seed
    if resume and checkpoint_mgr is not None:
        snap = checkpoint_mgr.latest()
        if snap is not None:
            state = checkpoint_mgr.read_state(snap)
            metrics = dict(snap["metrics"])
            it0 = int(metrics.pop("iteration"))
    # the seed is planned as the caller's query; seed_metrics, on the loop
    # session, is the action that materializes a lazy seed checkpoint
    state, rows = _local_checkpoint(
        state, eager=metrics is not None or seed_metrics is None
    )
    state = on_session(state, spark)
    if metrics is None:
        metrics = seed_metrics(state) if seed_metrics is not None else {}
    n = _measured_rows(state, rows)
    state = reroot(state, n)
    width = loop_width(spark, loop_partitions(seed))
    converged = False
    for it in range(it0, max_iter):
        k = width(state, n)
        spark.conf.set("spark.sql.shuffle.partitions", str(k))
        nxt = on_session(step(_narrow(state, k), metrics), spark)
        new_state, rows = _local_checkpoint(nxt, eager=False)
        new_metrics = probe(new_state, metrics)
        release(state)
        n = _measured_rows(new_state, rows)
        state = reroot(new_state, n)
        if checkpoint_mgr is not None and (it + 1) % snapshot_every == 0:
            checkpoint_mgr.write_state(
                state.select(*seed.columns), it + 1, {"iteration": it + 1, **new_metrics}
            )
        converged = done(new_metrics, metrics)
        metrics = new_metrics
        if converged:
            break
    return on_session(state, caller), metrics, converged


def on_session(df: DataFrame, spark: SparkSession) -> DataFrame:
    """`df`'s plan as a DataFrame of `spark`, so it is optimized, planned
    and run under `spark`'s conf.  A DataFrame belongs to the session of
    the one it was built from (``edges.join(msgs)`` to the edges'), so a
    step or probe that builds on something other than its state hands its
    own actions' plans to the loop session through this."""
    if df.sparkSession is spark:
        return df
    return _dataset(spark, df._jdf.queryExecution().analyzed())


def _dataset(spark: SparkSession, plan) -> DataFrame:
    jds = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, plan)
    return DataFrame(jds, spark)


_observation_ids = itertools.count()


def _local_checkpoint(
    df: DataFrame, eager: bool
) -> tuple[DataFrame, Callable[[], int | None]]:
    """A local checkpoint of `df`, and a function that returns its row
    count (None if the plan lost the observation) once an action has
    materialized it.  An observed aggregate on the checkpointed plan counts
    the rows in the materializing job's tasks: no job of its own."""
    name = f"linkgraph_rows_{next(_observation_ids)}"
    observed = df.observe(name, F.count(F.lit(1)).alias("rows"))

    def rows() -> int | None:
        found = observed._jdf.queryExecution().observedMetrics().get(name)
        return found.get().getLong(0) if found.isDefined() else None

    return observed.localCheckpoint(eager=eager), rows


def loop_partitions(df: DataFrame) -> int:
    """The shuffle partition count of `df`'s session: for a loop state, the
    count `fixpoint` set for the iteration being planned, which a `step`
    that repartitions or coalesces must read."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def _measured_rows(state: DataFrame, rows: Callable[[], int | None]) -> int | None:
    """The `rows` count of the local checkpoint `state` (one job counts a
    checkpoint no action has materialized yet)."""
    if not state._jdf.queryExecution().analyzed().rdd().isCheckpointed():
        state.count()
    return rows()


def _narrow(state: DataFrame, k: int) -> DataFrame:
    """`state` on at most `k` partitions.  `reroot` keeps the checkpoint's
    partitioning, and the planner keeps a non-shuffled child's
    partitioning, so a wider state would hold the whole step at its old
    width; ``coalesce`` is narrow: no exchange, no job."""
    parts = state._jdf.queryExecution().analyzed().rdd().getNumPartitions()
    return state.coalesce(k) if parts > k else state


def reroot(state: DataFrame, rows: int | None) -> DataFrame:
    """The local checkpoint `state` as a new leaf whose statistics are its
    measured size.  ``localCheckpoint`` copies the analyzed plan's
    statistics into the ``LogicalRDD`` it makes, and an inner join's
    ``sizeInBytes`` is the product of its children's, so a loop whose step
    reads its state k times multiplies the digit count by about k per
    iteration: Catalyst then spends its time on huge BigInts, and from the
    second iteration on the join planner sees every state as too large for
    a shuffled-hash join.  The new ``LogicalRDD`` has the same RDD, output,
    partitioning and ordering; its ``originStats`` are the measured `rows`
    count times the schema's default row size, or none
    (``spark.sql.defaultSizeInBytes``, never broadcast) without a count.
    py4j turns a ``scala.math.BigInt`` into a Python int, so the size-only
    ``Statistics`` are borrowed from a filtered ``spark.range`` of
    size // 8 rows (8 bytes a row)."""
    spark = state.sparkSession
    jspark = spark._jsparkSession
    jvm = spark._jvm
    leaf = state._jdf.queryExecution().analyzed()
    stats = jvm.scala.Option.empty()
    if rows is not None:
        size = rows * (8 + leaf.schema().defaultSize())
        stats = jvm.scala.Some(
            jspark.range(size // 8).where("true").queryExecution().analyzed().stats()
        )
    plan = jvm.org.apache.spark.sql.execution.LogicalRDD(
        leaf.output(),
        leaf.rdd(),
        leaf.outputPartitioning(),
        leaf.outputOrdering(),
        leaf.isStreaming(),
        leaf.stream(),
        jspark,
        stats,
        jvm.scala.Option.empty(),
    )
    return _dataset(spark, plan)


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager local checkpoint of `df`, re-rooted on its measured size: the
    lineage and the statistics of everything before it are cut."""
    state, rows = _local_checkpoint(df, eager=True)
    return reroot(state, rows())


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
    ``persist()``ed DataFrame; for a local checkpoint (or a projection of
    one), the RDD under its ``LogicalRDD``, dropped with the call Spark's
    ContextCleaner makes for a garbage-collected RDD
    (``DataFrame.unpersist()`` is a no-op there, and ``RDD.unpersist``
    would log a truncated-lineage warning per iteration).
    Best effort for a local checkpoint: if py4j cannot reach the RDD, the
    ContextCleaner frees the blocks once the DataFrame is garbage-collected."""
    if state.is_cached:
        state.unpersist()
        return
    leaves = state._jdf.queryExecution().analyzed().collectLeaves()
    if leaves.size() != 1:
        return
    try:
        rdd_id = leaves.head().rdd().id()
        state.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)
    except Py4JError:
        pass
