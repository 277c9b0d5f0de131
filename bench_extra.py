"""Profiling companion to bench.py (guide §1: measure first).

NOT part of the driver contract — bench.py stays the frozen measured
artifact.  Each pass is one call of ``bench.run_suite``, so the leaves,
their bodies and their extras are bench.py's own.  This CLI adds:

* --only q1,q2: run a subset; a graph is built (and timed, as in bench.py)
  only when a named leaf needs it.  A name that no leaf has is an error;
* --eventlog DIR: enable the Spark event log for stage-level analysis
  (parse with tools/stageprof.py; run_suite labels each leaf's jobs);
* --runs N (default 1).

Prints one {"queries", "value", "runs_raw", "extras"} JSON line, but
is never read by the driver.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    runs = 1
    only = None
    eventlog = None
    args = sys.argv[1:]
    i = 0
    while i < len(args):
        if args[i] == "--runs":
            runs = int(args[i + 1]); i += 2
        elif args[i] == "--only":
            only = set(args[i + 1].split(",")); i += 2
        elif args[i] == "--eventlog":
            eventlog = args[i + 1]; i += 2
        else:
            raise SystemExit(f"unknown arg {args[i]}")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from linkgraph.session import get_spark

    extra = {"spark.driver.extraJavaOptions": "-Xlog:disable"}
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = eventlog
        # Spark 4.1 writes zstd by default; tools/stageprof.py reads plain JSON
        extra["spark.eventLog.compress"] = "false"
    spark = get_spark(
        master=f"local[{cpus}]", app_name="linkgraph-bx", extra_conf=extra
    )

    samples = []
    extras = {}
    for r in range(runs):
        print(f"[bx] ---- run {r + 1}/{runs}", file=sys.stderr, flush=True)
        t, extras = bench.run_suite(spark, sf_dir, sf, only)
        samples.append(t)
        unknown = sorted((only or set()) - set(t))
        if unknown:
            spark.stop()
            raise SystemExit(f"--only names no bench leaf: {', '.join(unknown)}")
    spark.stop()
    names = list(samples[0])
    queries = {q: round(statistics.median(s[q] for s in samples), 3) for q in names}
    out = {
        "queries": queries,
        "value": round(sum(queries.values()), 3),
        "runs_raw": samples,
        "extras": {k: v for k, v in extras.items() if not isinstance(v, list)},
    }
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
