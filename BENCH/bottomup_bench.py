"""K3 bottom-up evidence (VERDICT r2 item 3): measured expansion shrink on a
dense small-diameter graph.

The fixture is the regime the direction switch exists for: a dense ER-style
graph (diameter ~2-3) where after the first expansion nearly every vertex is
CLOSED (seen across all 512 lanes), so top-down keeps enumerating frontier
edges whose destinations can accept nothing.  The bottom-up gate semi-joins
the EDGE side on the (small, broadcastable) open-destination set, so those
edges are never enumerated at all.

Variants over identical input, interleaved in one JVM after a warmup:

* top-down        — bottom_up=False (every level push-expands all frontier edges)
* bottom-up gated — bottom_up=True (default threshold 0.5; open-side
                    semi-join once the measured closed fraction crosses it)

Deterministic synth graph (xxhash64), no driver-side edge generation.

Usage: python BENCH/bottomup_bench.py [runs]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

V = 300_000
DEG = 64  # dense: level-1 frontier covers ~100% of V; levels 2+ are the K3 regime


def main():
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 3

    from pyspark.sql import functions as F

    from linkgraph.algos.msbfs import msbfs
    from linkgraph.graph import LinkGraph
    from linkgraph.session import get_spark

    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        app_name="bottomup-bench",
    )
    # deterministic pseudo-random regular-ish digraph, symmetrized:
    # src i gets DEG destinations xxhash64(i, j) % V
    base = spark.range(V).select(F.col("id").alias("src"))
    e = (
        base.select(
            "src", F.explode(F.sequence(F.lit(0), F.lit(DEG - 1))).alias("j")
        )
        .select(
            "src",
            F.pmod(F.xxhash64(F.col("src"), F.col("j")), F.lit(V)).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    g = LinkGraph.from_undirected(e, materialize=True)
    E = g.num_edges()
    srcs = g.top_degree_vids(512)

    # warmup: JIT the 8-limb codegen + Python worker pool (untimed)
    msbfs(g, srcs, max_levels=1)

    variants = {
        "top_down": dict(bottom_up=False),
        "bottom_up": dict(bottom_up=True),
    }
    times = {k: [] for k in variants}
    levels = {}
    for r in range(runs):
        for name, kw in variants.items():
            t0 = time.time()
            res = msbfs(g, srcs, **kw)
            times[name].append(round(time.time() - t0, 2))
            levels[name] = res.levels
    out = {
        "V": V,
        "E_directed": E,
        "deg": DEG,
        "nsrc": len(srcs),
        "runs": runs,
        "levels": levels,
        "median_sec": {k: statistics.median(v) for k, v in times.items()},
        "all_sec": times,
        "speedup": round(
            statistics.median(times["top_down"])
            / statistics.median(times["bottom_up"]),
            3,
        ),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
