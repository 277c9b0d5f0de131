"""Steadiness report: run the benchmark of one commit as sets of runs and
check that the sets agree within the bounds in BENCHMARK.json.

    python3 perfbench/steadiness.py --sets 2 --seeds 10
    python3 perfbench/steadiness.py --sets 1 --seeds 5 --workloads deep_chain

Each set runs every chosen workload once per seed (seeds 1..N, the same in
every set) with the run length from BENCHMARK.json and tracing off.  For
each set, workload and end-to-end metric the report prints the median, the
quartiles (statistics.quantiles, n=4) and the spread (Q3 - Q1) / median.  A
set is steady when every spread, setup_s included, is within the metric's
bound; two sets agree when, for every metric, the later median is not worse
than the first by more than the bound.  The report also records nproc, the
JVM options in effect and the Spark/PyArrow versions, taken from the first
run's log, and the median wall time of one run per workload.  Run from the
root of a checkout; --out writes the report as JSON as well.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run_once(spec: dict, workload: str, seed: int) -> tuple[dict, dict | None]:
    """One benchmark run; returns (result line, environment line or None)."""
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    if cmd[0] == "python3":
        cmd[0] = sys.executable
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed: {workload} seed {seed} exit {p.returncode}")
    env, phases = None, ""
    for line in p.stderr.splitlines():
        if line.startswith("[perfbench] env "):
            env = json.loads(line[len("[perfbench] env "):])
        elif line.startswith("[perfbench] wall "):
            phases = line[len("[perfbench] wall "):]
    return {**json.loads(p.stdout.strip().splitlines()[-1]), "wall_s": wall, "phases": phases}, env


def stats(xs: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def worse_by(first: float, second: float, better: str) -> float:
    """Share by which `second` is worse than `first` (negative if better)."""
    if first == 0:
        return 0.0
    return (second - first) / first if better == "lower" else (first - second) / first


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workloads", default=None, help="comma-separated; default all")
    ap.add_argument("--out", default=None, help="also write the report as JSON here")
    args = ap.parse_args(argv)

    spec = load_spec()
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    env = {"nproc": len(os.sched_getaffinity(0)), "python": platform.python_version()}
    sets = []
    for k in range(args.sets):
        runs = {}
        for w in workloads:
            runs[w] = []
            for seed in range(1, args.seeds + 1):
                res, run_env = run_once(spec, w, seed)
                if run_env and "spark" not in env:
                    env.update(run_env)
                runs[w].append({"seed": seed, **res})
                vals = " ".join(f"{n}={v['value']:.4g}" for n, v in res["metrics"].items())
                print(f"set {k + 1} {w} seed {seed}: {res['wall_s']:.1f}s ({res['phases']}) "
                      f"failed={res['failed']}/{res['attempted']} {vals}",
                      flush=True)
        sets.append(runs)

    report = {"env": env, "run_seconds": spec["run_seconds"], "seeds": args.seeds, "workloads": {}}
    ok = True
    print(f"\nenv: {json.dumps(env)}")
    for w in workloads:
        report["workloads"][w] = rows = {}
        failed = [sum(r["failed"] for r in s[w]) for s in sets]
        walls = [statistics.median(r["wall_s"] for r in s[w]) for s in sets]
        rows["run_wall_s"] = walls
        print(f"\n{w}: ops failed per set {failed}; median run wall per set "
              + " ".join(f"{x:.1f}s" for x in walls))
        ok &= not any(failed)
        print(f"  {'metric':<16} {'set':>3} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7} {'bound':>6}")
        for name, m in metrics.items():
            per_set = [stats([r["metrics"][name]["value"] for r in s[w]]) for s in sets]
            steady = [st["spread"] <= m["bound"] for st in per_set]
            agree = [worse_by(per_set[0]["median"], st["median"], m["better"]) <= m["bound"]
                     for st in per_set[1:]]
            rows[name] = {"unit": m["unit"], "bound": m["bound"], "sets": per_set,
                          "steady": steady, "agree": agree}
            ok &= all(steady) and all(agree)
            for i, st in enumerate(per_set):
                flag = "" if steady[i] else "  NOT STEADY"
                if i and not agree[i - 1]:
                    flag += "  DISAGREES"
                print(f"  {name:<16} {i + 1:>3} {st['median']:>10.4f} {st['q1']:>10.4f} "
                      f"{st['q3']:>10.4f} {st['spread']:>7.3f} {m['bound']:>6.2f}{flag}")
    report["ok"] = ok
    print(f"\n{'steady and agreeing' if ok else 'NOT steady or not agreeing'}")
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
