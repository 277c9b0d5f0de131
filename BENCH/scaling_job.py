"""One scaling-protocol run: read the pre-built bench graph, run the two
headline iterative kernels, print one JSON line with throughputs.

Env: SPARK_GRAFT_CPUS (master=local[N]), BENCH_GRAPH (edges parquet dir).
Identical confs at every parallelism level (BASELINE.md protocol).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    graph_dir = os.environ.get(
        "BENCH_GRAPH", os.path.join(REPO, "BENCH", "data", "zipf_100000")
    )

    from linkgraph.algos.msbfs import msbfs
    from linkgraph.algos.pagerank import pagerank
    from linkgraph.graph import LinkGraph
    from linkgraph.session import get_spark

    spark = get_spark(master=f"local[{cpus}]", app_name=f"scaling-{cpus}")
    edges = spark.read.parquet(os.path.join(graph_dir, "edges"))
    g = LinkGraph(edges, symmetric=True)  # make_graph.py writes the symmetric closure
    E = g.num_edges()
    V = g.num_vertices()
    srcs = g.top_degree_vids(512)

    # ---- warmup (untimed, identical at every parallelism level): runs the
    # same kernel shapes bounded, which (a) JIT-compiles the 8-limb codegen
    # classes (measured ~30s of C2 time on first use), (b) faults in the
    # pre-touched heap; MS-BFS starts no Python workers.  These are one-time
    # JVM lifecycle costs; a cluster amortizes them over hours of executor
    # lifetime, while at this bench's 10-60s job scale they would otherwise
    # dominate the measurement.  The criterion targets steady-state
    # throughput scaling.
    msbfs(g, srcs, track_teps=True, max_levels=2)
    pagerank(g, tol=0.0, max_iter=1).count()

    # 5 fixed iterations: enough to average per-iteration variance while
    # keeping a local[2] protocol run bounded; the metric is edge-iters/s
    # (throughput), so the iteration count does not bias the comparison
    pr_iters = int(os.environ.get("BENCH_PR_ITERS", "5"))

    t0 = time.time()
    res = msbfs(g, srcs, track_teps=True)
    msbfs_sec = time.time() - t0

    t0 = time.time()
    pagerank(g, tol=0.0, max_iter=pr_iters).count()
    pr_sec = time.time() - t0

    print(
        json.dumps(
            {
                "cpus": cpus,
                "V": V,
                "E_directed": E,
                "msbfs_sec": round(msbfs_sec, 2),
                "msbfs_levels": res.levels,
                "bit_edge_traversals": res.traversed_bit_edges,
                "msbfs_teps": round(res.traversed_bit_edges / msbfs_sec, 1),
                "pr_iters": pr_iters,
                "pagerank_sec": round(pr_sec, 2),
                "pagerank_edge_iters_per_sec": round(pr_iters * E / pr_sec, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
