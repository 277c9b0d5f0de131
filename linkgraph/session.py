"""SparkSession factory with the engine's standard configuration.

Design for multi-executor clusters (AQE, skew-join handling, Arrow) while
running local[N] in the sandbox.  All graph jobs assume these confs; tests
and bench share this factory so plans are comparable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partitioning: a multiple of cores.  AQE coalesces down at runtime
# outside `iterate.fixpoint` loops; inside them AQE is off, and
# `iterate.loop_width` applies AQE's coalescing rule to each measured state.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("LINKGRAPH_SHUFFLE_PARTITIONS", "32"))


def _default_driver_mem() -> str:
    """Pick a driver heap from detected system memory: the -Xms + AlwaysPreTouch
    recipe pre-commits the FULL heap at JVM start, so a fixed 16g default
    would fail outright (or swap) on smaller hosts.  ~1/4 of RAM, capped at
    16g, floored at 2g; LINKGRAPH_DRIVER_MEM overrides."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) / (1 << 20)
                    break
            else:
                return "4g"
    except OSError:
        return "4g"
    return f"{max(2, min(16, int(total_gb / 4)))}g"


def get_spark(
    master: str | None = None,
    app_name: str = "linkgraph",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with AQE + Arrow enabled.

    On a real cluster this is driven by spark-submit --py-files; ``master``
    is only set explicitly for local runs / the scaling bench.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    mem = os.environ.get("LINKGRAPH_DRIVER_MEM") or _default_driver_mem()
    # Three measured JVM fixes (each repeatedly A/B'd on the 102M-edge
    # bench graph; see BENCH/BASELINE.md):
    # * -Xms == -Xmx: G1 heap expansion under 32-thread allocation
    #   pressure stalls the world repeatedly (a 2.5s scan degraded to 43s
    #   after an iterative kernel churned the heap).
    # * bounded ParallelGCThreads: 32 GC workers contend on this class of
    #   vCPU (43s -> 1.7s together with the fixed heap).
    # * LARGE CODE CACHE + flushing: whole-stage codegen of the 8-limb
    #   bitset expressions fills the default 240MB ReservedCodeCacheSize;
    #   once full the JIT stops compiling and every subsequent job runs
    #   partially interpreted — measured 2.2s PageRank iterations decaying
    #   to 50-220s, nondeterministically, ONLY after an MS-BFS run in the
    #   same JVM.  This, not ContextCleaner storms, was the real cause of
    #   the round-1 "iterative kernels slow down over a session" effect.
    # * -XX:+AlwaysPreTouch: without it, the allocation front sweeping a
    #   lazily-committed multi-GB heap triggers first-touch page-fault
    #   storms ~1 min into a run (high sys%, jobs 10-50x slower for
    #   30-90s, then permanent recovery once the heap has been touched).
    #   Pre-faulting at JVM start moves that cost out of the measured
    #   steady state.
    # On a real cluster apply the same to spark.executor.extraJavaOptions.
    gc_threads = os.environ.get("LINKGRAPH_GC_THREADS", "16")
    java_opts = os.environ.get(
        "LINKGRAPH_GC_OPTS",
        f"-Xms{mem} -XX:ParallelGCThreads={gc_threads} "
        "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing "
        "-XX:+AlwaysPreTouch",
    )
    confs = {
        "spark.sql.shuffle.partitions": str(sp),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        # Graph state rows are tiny (a vid + 16 int64 limbs); favor broadcast
        # of small frontiers but keep the default threshold modest.
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        "spark.driver.memory": mem,
        # local mode: all tasks run in the driver JVM.  On a cluster, apply
        # the same -Xms/-XX:ParallelGCThreads recipe to
        # spark.executor.extraJavaOptions sized to executor memory.
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.enabled": "false",
        # ContextCleaner stays ON: long-running or multi-tenant deployments
        # must not leak shuffle files / broadcast blocks, and a measured
        # A/B (msbfs then pagerank10 in one JVM) shows retained state from
        # the first kernel throttling the second 11x (pr10 267.6s with the
        # cleaner off vs 24.1s on).  The round-1 "cleanup storms" tradeoff
        # did not reproduce; LINKGRAPH_REF_TRACKING=false remains only as
        # an escape hatch for experiments.
        "spark.cleaner.referenceTracking": os.environ.get(
            "LINKGRAPH_REF_TRACKING", "true"
        ),
    }
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
