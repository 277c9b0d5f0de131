"""Parse a Spark event log into per-job-description time attribution.

Usage: python tools/stageprof.py <eventlog-file-or-dir> [--stages]

Reads an uncompressed event log (bench_extra.py --eventlog writes one): a
single file, or a rolling-log directory (eventlog_v2_<app>), whose
events_<n>_<app> parts are read in order.  A compressed log is refused.

Prints, per job description (bench.run_suite sets it to each leaf's name):
  total job wall, job count, and the slowest stages (duration, task count,
  shuffle read/write bytes, name).
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict


def main():
    path = sys.argv[1]
    show_stages = "--stages" in sys.argv
    jobs = {}  # jid -> {desc, t0, t1, stage_ids}
    stages = {}  # sid -> {name, t0, t1, ntasks}
    stage_metrics = defaultdict(lambda: defaultdict(float))

    import fileinput
    import os

    files = [path]
    if os.path.isdir(path):
        files = sorted(
            (os.path.join(path, x) for x in os.listdir(path) if x.startswith("events_")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        if not files:
            sys.exit(f"{path}: no events_<n>_<app> files (pass an eventlog_v2_<app> dir)")
    for p in files:
        if os.path.splitext(p)[1] in (".zstd", ".lz4", ".lzf", ".snappy"):
            sys.exit(
                f"{p}: compressed event log; rerun with "
                "spark.eventLog.compress=false (bench_extra.py --eventlog sets it)"
            )
    with fileinput.input(files) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                desc = (ev.get("Properties") or {}).get(
                    "spark.job.description", "<none>"
                )
                jobs[jid] = {
                    "desc": desc,
                    "t0": ev.get("Submission Time", 0),
                    "t1": None,
                    "sids": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif e == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j:
                    j["t1"] = ev.get("Completion Time", j["t0"])
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                stages[sid] = {
                    "name": si.get("Stage Name", ""),
                    "t0": si.get("Submission Time"),
                    "t1": si.get("Completion Time"),
                    "ntasks": si.get("Number of Tasks", 0),
                }
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                tm = ev.get("Task Metrics") or {}
                m = stage_metrics[sid]
                m["run_ms"] += tm.get("Executor Run Time", 0)
                m["gc_ms"] += tm.get("JVM GC Time", 0)
                m["cpu_ns"] += tm.get("Executor CPU Time", 0)
                srm = tm.get("Shuffle Read Metrics") or {}
                m["sh_read"] += srm.get("Remote Bytes Read", 0) + srm.get(
                    "Local Bytes Read", 0
                )
                m["fetch_ms"] += srm.get("Fetch Wait Time", 0)
                swm = tm.get("Shuffle Write Metrics") or {}
                m["sh_write"] += swm.get("Shuffle Bytes Written", 0)
                m["write_ms"] += swm.get("Shuffle Write Time", 0) / 1e6
                inm = tm.get("Input Metrics") or {}
                m["input"] += inm.get("Bytes Read", 0)

    by_desc = defaultdict(lambda: {"wall": 0.0, "n": 0, "sids": []})
    for jid, j in sorted(jobs.items()):
        if j["t1"] is None:
            continue
        d = by_desc[j["desc"]]
        d["wall"] += (j["t1"] - j["t0"]) / 1000.0
        d["n"] += 1
        d["sids"].extend(j["sids"])

    for desc, d in by_desc.items():
        print(f"\n=== {desc}: {d['wall']:.2f}s across {d['n']} jobs")
        ss = [
            (sid, stages[sid])
            for sid in d["sids"]
            if sid in stages and stages[sid]["t1"] and stages[sid]["t0"]
        ]
        ss.sort(key=lambda kv: kv[1]["t1"] - kv[1]["t0"], reverse=True)
        agg_run = sum(stage_metrics[sid]["run_ms"] for sid, _ in ss)
        agg_gc = sum(stage_metrics[sid]["gc_ms"] for sid, _ in ss)
        print(f"    stage-exec total {agg_run/1000:.2f}s (gc {agg_gc/1000:.2f}s)")
        if show_stages:
            for sid, s in ss[:12]:
                m = stage_metrics[sid]
                dur = (s["t1"] - s["t0"]) / 1000.0
                print(
                    f"  s{sid:<5} {dur:6.2f}s wall  run {m['run_ms']/1000:6.2f}s "
                    f"gc {m['gc_ms']/1000:5.2f}s fetchwait {m['fetch_ms']/1000:5.2f}s "
                    f"tasks {s['ntasks']:<4} shR {m['sh_read']/1e6:8.1f}MB "
                    f"shW {m['sh_write']/1e6:8.1f}MB in {m['input']/1e6:8.1f}MB  "
                    f"{s['name'][:70]}"
                )


if __name__ == "__main__":
    main()
