"""Seeded benchmark of the linkgraph engine.

    python3 perfbench/run.py --workload baskets --seed 1 --seconds 25 --trace 0

Run from the root of a checkout.  The run generates the workload's input
table from the seed and writes it to parquet (untimed), sets up the graph
SETUPS times in a fresh local[nproc] session (each set-up is one setup_s
sample), runs one untimed warm-up on the last session's graph, then repeats
passes of the workload's timed calls while the next pass still fits in
--seconds (at least one pass), and checks every call's output against an
independent numpy/DuckDB reference.  The calls in REPEATS run several
times back to back in each pass, and each repeat is checked.
perfbench/WORKLOADS.md describes the workloads and what each metric should
show.

The last line of stdout is one JSON object {correct, attempted, failed,
metrics}.  With --trace 0 the metrics are the end-to-end ones in CPU
seconds: the median over set-ups, and the calls summed by layer family.  With --trace 1 the run sets a
Spark job group per call, writes Spark's event log, samples the cached
footprint after each set-up and each call, and reports the per-layer metrics
of spans.py.  Everything the run writes goes under .perfbench_work/ in the checkout and is
removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# Set-up samples per run; setup_s is the median of their CPU seconds (see
# tree_cpu_s), like the calls.  Their wall time, in the log, rose 46% in
# median between two ten-seed baskets sets of the same code when the
# machine got busier, while the calls' CPU rose 9-12%.
SETUPS = 3
CLEANER_PAUSE_S = 0.05  # Spark's cleaner polls its reference queue every 0.1 s

# The calls of Workload.ops(), grouped by the layer family they load.  A
# family is reported as the CPU seconds the process tree spends in its calls
# (see tree_cpu_s), <family>_cpu_s.  On a shared 4-vCPU machine with 15-30%
# CPU steal the spread over ten seeds of single-call wall times was
# 0.21-0.51 of their median, and of single-call CPU times up to 0.40 for the
# calls under 3 s; the family sums stayed within 0.05-0.18 (WORKLOADS.md).
# The wedge calls and betweenness, each under 5 CPU seconds, are one family:
# apart they spread up to 0.18 over ten deep_chain seeds, together 0.08.
# Each call's wall and CPU time stay in the log, and each layer's in the
# traced run.
FAMILIES = {
    "closeness": ["closeness"],
    "iterate": ["pagerank", "cc", "resume", "lpa"],
    "wedge_brandes": ["triangles", "linkpred", "betweenness"],
}
# Calls made this many times back to back in each pass; the call's CPU in
# the pass is the least of its repeats.  A triangle count or link
# prediction is still warming up in its first two calls of a run (Spark's
# code generation and the JVM's compilation of its plans): over five
# baskets seeds the first link prediction took 3.0-3.8 CPU seconds, the
# second 1.7-2.9 and the third 1.5-1.7, and on deep_chain the calls were
# still getting cheaper at the fourth.  Measured once per run, triangle
# count plus link prediction spread up to 0.30 over ten seeds, the least of
# four calls up to 0.18.  The repeats cost 1.5-3 s of wall time a pass.
REPEATS = {"triangles": 4, "linkpred": 4}
END_TO_END = [
    ("setup_s", "s"),
    *[(f"{family}_cpu_s", "s") for family in FAMILIES],
]


class Context:
    """Per-run paths and checkpoint counters handed to the workload."""

    def __init__(self, work: Path, input_path: str):
        self.work = str(work)
        self.input_path = input_path
        self.chk_stats = {}
        self._ids = 0

    def next_id(self) -> int:
        self._ids += 1
        return self._ids

    def reset_checkpoint_stats(self):
        self.chk_stats = {"writes": 0, "reads": 0, "write_s": 0.0, "read_s": 0.0, "roots": []}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: Path) -> None:
    """Keep every file the JVM, Spark and Python write inside `work`, and
    let Python workers import linkgraph from the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("LINKGRAPH_DRIVER_MEM", "2g")
    sys.path.insert(0, str(ROOT))


def spark_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.linkgraph.store.root": str(work / "store"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "events").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def cached_mb(spark) -> float:
    """Megabytes held by Spark's block manager for persisted RDDs and caches,
    after a Python and a JVM garbage collection and a pause for Spark's
    cleaner, so that only blocks something still references are counted."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(CLEANER_PAUSE_S)
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # /proc comm, cut at 15 chars


def _stat_fields(path: str) -> list[str] | None:
    """The fields of a /proc stat file after the command name, or None if
    the process or thread has ended."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and every live
    descendant (the JVM and the Python workers it forked), with the CPU of
    children they have reaped, and without the JVM's JIT compiler threads.
    JIT compilation was 40-60% of a call's CPU in a 60 s run and varied
    two-fold between runs of the same call; it is start-up cost, not the
    call's."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(f"/proc/{entry}/stat")
            if fields is not None:
                parent[int(entry)] = int(fields[1])
    mine, frontier = set(), {os.getpid()}
    while frontier:
        mine |= frontier
        frontier = {pid for pid, ppid in parent.items() if ppid in frontier} - mine
    ticks = 0
    for pid in mine:
        fields = _stat_fields(f"/proc/{pid}/stat")
        if fields is None:
            continue
        ticks += int(fields[13]) + int(fields[14])  # reaped children
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().startswith(JIT_THREADS):
                        continue
            except OSError:
                continue
            fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            if fields is not None:
                ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def run_env(spark) -> dict:
    """What the numbers depend on besides the code: cores, JVM options and
    library versions."""
    import pyarrow

    conf = spark.sparkContext.getConf()
    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "driver_memory": conf.get("spark.driver.memory", ""),
        "jvm_options": conf.get("spark.driver.extraJavaOptions", ""),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM (and the Python workers
    it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def summary(name: str, xs: list[float]) -> str:
    """Median and the highest percentile with >= 10 samples beyond it."""
    xs = sorted(xs)
    line = f"{name}: n={len(xs)} median={statistics.median(xs):.4f}"
    if len(xs) >= 11:
        pct = 100 * (len(xs) - 10) // len(xs)
        line += f" p{pct}={xs[(len(xs) - 1) * pct // 100]:.4f}"
    return line


def run(args, work: Path) -> dict:
    t_run = time.perf_counter()
    walls: dict[str, float] = defaultdict(float)  # where the run's wall time goes
    configure_env(work)
    from inputs import write_input
    from spans import PER_LAYER, Tracer, layer_metrics
    from workloads import WORKLOADS, checkpoint_bytes, remove_roots

    input_path = str(work / "input.parquet")
    table = write_input(args.workload, args.seed, input_path)
    ctx = Context(work, input_path)
    wl = WORKLOADS[args.workload](args.seed, table, ctx)
    log = sys.stderr
    print(f"[perfbench] {args.workload} seed={args.seed} sizes={wl.sizes()}", file=log, flush=True)
    walls["input"] = time.perf_counter() - t_run

    from linkgraph.session import get_spark

    tracer = Tracer(args.trace == 1, f"{args.workload}-{args.seed}")
    conf = spark_conf(work, tracer.enabled)
    attempted = failed = 0
    peak = 0.0
    phase_walls: dict[str, float] = {}
    setup_walls: list[float] = []
    setup_cpu: list[float] = []
    samples: dict[str, list[float]] = defaultdict(list)
    checkpoint: dict[str, dict] = {}
    spark = None
    try:
        for k in range(SETUPS):
            if spark is not None:
                wl.release()
                spark.stop()
            tracer.phase = f"setup:{k}"
            cpu = tree_cpu_s()
            with tracer.span("setup") as sp:
                with tracer.span("session", "session"):
                    spark = get_spark(
                        master=f"local[{nproc()}]", app_name="perfbench",
                        shuffle_partitions=nproc(), extra_conf=conf,
                    )
                wl.build(spark, tracer)
            cpu = tree_cpu_s() - cpu
            if k == 0:
                print(f"[perfbench] env {json.dumps(run_env(spark))}", file=log, flush=True)
            print(f"[perfbench] setup {k}: {sp.wall:.3f}s, cpu {cpu:.2f}s", file=log, flush=True)
            setup_walls.append(sp.wall)
            setup_cpu.append(cpu)
            phase_walls[tracer.phase] = sp.wall
            attempted += 1
            failed += not wl.check_setup()
            if tracer.enabled:
                peak = max(peak, cached_mb(spark))
        walls["setups"] = time.perf_counter() - t_run - walls["input"]
        tracer.phase = "warmup"
        with tracer.span("warmup") as sp:
            wl.warmup(tracer)
        walls["warmup"] = sp.wall
        ops = wl.ops()

        start = time.perf_counter()
        while True:
            tracer.phase = f"pass:{len(samples['pass_s'])}"
            ctx.reset_checkpoint_stats()
            outputs = []
            cpu_by_call = defaultdict(list)
            sampling = 0.0  # time spent sampling the cache, left out of the pass
            t0 = time.perf_counter()
            for name, call, check in ops:
                for _ in range(REPEATS.get(name, 1)):
                    attempted += 1
                    try:
                        cpu = tree_cpu_s()
                        with tracer.span(name) as sp:
                            out = call(tracer)
                        cpu = tree_cpu_s() - cpu
                    except Exception:
                        traceback.print_exc(file=log)
                        failed += 1
                        continue
                    samples[f"{name}_s"].append(sp.wall)
                    samples[f"{name}.cpu_s"].append(cpu)
                    cpu_by_call[name].append(cpu)
                    outputs.append((name, check, out))
                    if tracer.enabled:
                        t1 = time.perf_counter()
                        peak = max(peak, cached_mb(spark))
                        sampling += time.perf_counter() - t1
            wall = time.perf_counter() - t0 - sampling
            walls["passes"] += wall
            for family, calls in FAMILIES.items():
                if all(c in cpu_by_call for c in calls):
                    samples[f"{family}_cpu_s"].append(sum(min(cpu_by_call[c]) for c in calls))
            walls["cache_sampling"] += sampling
            samples["pass_s"].append(wall)
            phase_walls[tracer.phase] = wall
            print(f"[perfbench] pass {len(samples['pass_s']) - 1}: {wall:.3f}s", file=log, flush=True)
            for name, xs in cpu_by_call.items():
                print(f"[perfbench] cpu {name}: " + " ".join(f"{x:.2f}" for x in xs), file=log, flush=True)
            t1 = time.perf_counter()
            for name, check, out in outputs:
                if not check(out):
                    print(f"[perfbench] check failed: {name}", file=log, flush=True)
                    failed += 1
            stats = ctx.chk_stats
            checkpoint[tracer.phase] = {
                "writes": stats["writes"], "write_s": stats["write_s"],
                "read_s": stats["read_s"], "mb": checkpoint_bytes(stats["roots"]) / 1e6,
            }
            remove_roots(stats["roots"])
            walls["checks"] += time.perf_counter() - t1
            elapsed = time.perf_counter() - start
            if elapsed + statistics.median(samples["pass_s"]) > args.seconds:
                break
    finally:
        t1 = time.perf_counter()
        if spark is not None:
            wl.release()
            spark.stop()
        shutdown_jvm()
        walls["shutdown"] = time.perf_counter() - t1

    walls["total"] = time.perf_counter() - t_run
    print("[perfbench] wall " + " ".join(f"{k}={v:.1f}s" for k, v in walls.items()), file=log, flush=True)
    print(f"[perfbench] {summary('setup wall s', setup_walls)}", file=log, flush=True)
    print(f"[perfbench] {summary('setup_s', setup_cpu)}", file=log, flush=True)
    for name, xs in samples.items():
        print(f"[perfbench] {summary(name, xs)}", file=log, flush=True)

    if tracer.enabled:
        values = layer_metrics(tracer, str(work / "events"), phase_walls, checkpoint)
        values["trace.peak_cached_mb"] = peak
        metrics = {name: {"value": values[name], "unit": unit} for name, unit, _ in PER_LAYER}
    else:
        values = {name: statistics.median(samples[name]) for name, _ in END_TO_END[1:]}
        values["setup_s"] = statistics.median(setup_cpu)
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def parse_args(argv=None):
    from inputs import GENERATORS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "linkgraph" / "__init__.py").is_file():
        print(f"perfbench: no linkgraph package under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
