"""Spans around the benchmark's calls into each layer, and their join with
Spark's event log.

A span records name, layer, start, end, parent and the run id; while
tracing is on, each span's id is also the Spark job group of the jobs its
calls submit, so the event log attributes every job, stage and task to the
innermost span.  Spans are held in memory; `layer_metrics` joins them with
the event log once, after the session has stopped.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = [
    "session", "derive", "graph", "msbfs", "pagerank", "components",
    "labelprop", "checkpoint", "triangles", "linkpred", "betweenness",
]
SETUP_LAYERS = {"session", "derive", "graph"}
GENERIC = [
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("driver_gap_s", "s", "lower"),
    ("task_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("shuffle_read_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("task_skew", "ratio", "lower"),
]
STRATEGIES = ["push", "open_semi", "closed_anti", "bitmap", "msg_anti"]
COUNTS = [
    ("msbfs.levels", "count", "lower"),
    ("msbfs.bit_edges", "count", "lower"),
    *[(f"msbfs.levels_{s}", "count", "lower") for s in STRATEGIES],
    ("msbfs.shuffle_bytes_per_reached", "B/reached", "lower"),
    ("derive.pairs", "count", "lower"),
    ("graph.edges", "count", "lower"),
    ("checkpoint.writes", "count", "lower"),
    ("checkpoint.write_s", "s", "lower"),
    ("checkpoint.read_s", "s", "lower"),
    ("checkpoint.mb", "MB", "lower"),
    ("trace.pass_s", "s", "lower"),
    ("trace.setup_s", "s", "lower"),
    ("trace.span_cover", "ratio", "higher"),
    ("trace.peak_cached_mb", "MB", "lower"),
]
PER_LAYER = [
    (f"{layer}.{name}", unit, better) for layer in LAYERS for name, unit, better in GENERIC
] + COUNTS
MB = 1e6


class Span:
    wall = 0.0


class Tracer:
    """Spans and per-phase counters.  With enabled=False spans only time
    their body (no job groups, nothing recorded)."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.phase = None
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def _set_group(self, rec):
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if rec is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(rec["id"], rec["name"])

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        sp = Span()
        rec = None
        if self.enabled:
            rec = {
                "id": f"{self.run_id}.{len(self.spans)}",
                "run": self.run_id,
                "name": name,
                "layer": layer,
                "phase": self.phase,
                "parent": self._stack[-1]["id"] if self._stack else None,
                "start": time.time(),
            }
            self.spans.append(rec)
            self._stack.append(rec)
            self._set_group(rec)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall = time.perf_counter() - t0
            if rec is not None:
                rec["end"] = time.time()
                self._stack.pop()
                self._set_group(self._stack[-1] if self._stack else None)

    def count(self, layer: str, key: str, value: float) -> None:
        self.counts[self.phase][f"{layer}.{key}"] += value


def read_event_logs(log_dir: str):
    """(jobs, stages) from every event log file under log_dir; jobs are
    (group, start, end) and stages carry their task aggregates."""
    jobs, stages = {}, {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[(app, ev["Job ID"])] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1e3,
                        "end": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[(app, ev["Job ID"])]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    si = ev["Stage Info"]
                    stages[(app, si["Stage ID"], si["Stage Attempt ID"])] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start": None, "end": None, "tasks": [], "cpu": 0.0, "gc": 0.0,
                        "sw": 0, "sr": 0, "spill": 0,
                    }
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    st = stages.get((app, si["Stage ID"], si["Stage Attempt ID"]))
                    if st is not None:
                        st["start"] = (si.get("Submission Time") or 0) / 1e3
                        st["end"] = (si.get("Completion Time") or 0) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    st = stages.get((app, ev["Stage ID"], ev["Stage Attempt ID"]))
                    tm = ev.get("Task Metrics")
                    if st is None or not tm:
                        continue
                    ti = ev["Task Info"]
                    st["tasks"].append((ti["Finish Time"] - ti["Launch Time"]) / 1e3)
                    st["cpu"] += tm.get("Executor CPU Time", 0) / 1e9
                    st["gc"] += tm.get("JVM GC Time", 0) / 1e3
                    sw = tm.get("Shuffle Write Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st["sw"] += sw.get("Shuffle Bytes Written", 0)
                    st["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st["spill"] += tm.get("Disk Bytes Spilled", 0)
    return list(jobs.values()), list(stages.values())


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _phase_kind(phase: str | None) -> str:
    return (phase or "").split(":")[0]


def layer_metrics(tracer: Tracer, log_dir: str, phase_walls: dict[str, float],
                  checkpoint: dict[str, dict]) -> dict[str, float]:
    """Per-layer metrics: for each layer, its self time and the Spark work
    of the jobs its spans submitted, summed per phase, then the median over
    the phases that load it (set-ups for session/derive/graph, measured
    passes for the rest)."""
    jobs, stages = read_event_logs(log_dir)
    jobs_by_group, stages_by_group = defaultdict(list), defaultdict(list)
    for j in jobs:
        if j["group"] and j["end"] is not None:
            jobs_by_group[j["group"]].append(j)
    for st in stages:
        if st["group"]:
            stages_by_group[st["group"]].append(st)
    child_wall = defaultdict(float)
    for sp in tracer.spans:
        if sp["parent"]:
            child_wall[sp["parent"]] += sp["end"] - sp["start"]

    per = defaultdict(lambda: defaultdict(float))  # (phase, layer) -> metric
    longest = {}
    cover = defaultdict(float)
    for sp in tracer.spans:
        if sp["parent"] is None:
            cover[sp["phase"]] += sp["end"] - sp["start"]
        layer = sp["layer"]
        if layer is None:
            continue
        key = (sp["phase"], layer)
        self_wall = (sp["end"] - sp["start"]) - child_wall[sp["id"]]
        own = jobs_by_group[sp["id"]]
        covered = _union_len(
            [(max(j["start"], sp["start"]), min(j["end"], sp["end"])) for j in own
             if j["end"] > sp["start"] and j["start"] < sp["end"]]
        )
        m = per[key]
        m["wall_s"] += self_wall
        m["jobs"] += len(own)
        m["driver_gap_s"] += max(0.0, self_wall - covered)
        for st in stages_by_group[sp["id"]]:
            m["task_cpu_s"] += st["cpu"]
            m["gc_s"] += st["gc"]
            m["shuffle_write_mb"] += st["sw"] / MB
            m["shuffle_read_mb"] += st["sr"] / MB
            m["spill_mb"] += st["spill"] / MB
            if st["tasks"] and st["end"]:
                dur = st["end"] - st["start"]
                if key not in longest or dur > longest[key][0]:
                    longest[key] = (dur, st["tasks"])
    for key, (_, tasks) in longest.items():
        med = statistics.median(tasks)
        per[key]["task_skew"] = max(tasks) / med if med > 0 else 1.0

    passes = sorted(p for p in phase_walls if _phase_kind(p) == "pass")
    setups = sorted(p for p in phase_walls if _phase_kind(p) == "setup")
    out = {}
    for layer in LAYERS:
        phases = setups if layer in SETUP_LAYERS else passes
        for name, _, _ in GENERIC:
            out[f"{layer}.{name}"] = statistics.median(per[(p, layer)][name] for p in phases)

    def med(fn, phases):
        return statistics.median(fn(p) for p in phases)

    c = tracer.counts
    out["msbfs.levels"] = med(lambda p: c[p]["msbfs.levels"], passes)
    out["msbfs.bit_edges"] = med(lambda p: c[p]["msbfs.bit_edges"], passes)
    for s in STRATEGIES:
        out[f"msbfs.levels_{s}"] = med(lambda p: c[p][f"msbfs.levels_{s}"], passes)
    out["msbfs.shuffle_bytes_per_reached"] = med(
        lambda p: per[(p, "msbfs")]["shuffle_write_mb"] * MB / c[p]["msbfs.reached"]
        if c[p]["msbfs.reached"] else 0.0, passes)
    out["derive.pairs"] = med(lambda p: c[p]["derive.pairs"], setups)
    out["graph.edges"] = med(lambda p: c[p]["graph.edges"], setups)
    for key in ("writes", "write_s", "read_s", "mb"):
        out[f"checkpoint.{key}"] = med(lambda p: checkpoint.get(p, {}).get(key, 0.0), passes)
    out["trace.pass_s"] = med(lambda p: phase_walls[p], passes)
    out["trace.setup_s"] = med(lambda p: phase_walls[p], setups)
    out["trace.span_cover"] = med(lambda p: cover[p] / phase_walls[p], passes)
    return out
