"""Benchmark harness (driver contract): runs the headline graph + text
queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "gteps": ...,
   "spread": {name: {"min": .., "max": .., "runs": [..]}}, ...}

Protocol: the whole suite is executed N times in one JVM (--runs N /
$SPARK_GRAFT_RUNS, default 3) and every per-query number reported in
"queries" is the MEDIAN across runs, with min/max/raw samples in "spread".
Single-shot numbers on this box mislead in both directions (co-tenant
bursts swing phases ±50% minutes apart; the first run also carries JVM/JIT
warmup) — medians-in-artifact replace narrative "typical" bands.

Graphs (BENCH/BASELINE.md): (1) co-purchase graph derived from sf lineitem,
(2) Zipf hub-tool graph from synthetic transcripts (seed=42, M scaled to
the sf).  GTEPS counts (edge, lane) expansions of the 512-lane MS-BFS
batch per second, the paper's many-source TEPS notion.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# `*_copurchase` leaves that derive their own weighted edges from lineitem
# and never read the co-purchase graph
OWN_EDGES = {"sssp_weighted_copurchase", "mst_copurchase"}


def run_suite(
    spark, sf_dir: str, sf: str, only: set[str] | None = None
) -> tuple[dict, dict]:
    """One pass over the headline queries; returns (timings, extras).

    `only` names the leaves to run; None runs all of them.  A graph is built
    (and timed) only when a named leaf reads it: the co-purchase graph for a
    `*_copurchase` name outside `OWN_EDGES`, the Zipf graph for a `*_zipf`
    name or `build_zipf_graph`.  Each leaf's Spark jobs carry the leaf name as their
    job description, so an event log attributes stages to leaves
    (tools/stageprof.py)."""
    from pyspark.sql import functions as F

    from linkgraph.algos.components import connected_components
    from linkgraph.algos.msbfs import closeness, msbfs
    from linkgraph.algos.pagerank import pagerank
    from linkgraph.algos.triangles import triangle_count
    from linkgraph.entry_queries import copurchase_graph
    from linkgraph.fixtures import transcripts_df
    from linkgraph.graph import LinkGraph
    from linkgraph.sources.derive import shared_key_conv_edges
    from linkgraph.tableio import read_testdata
    from linkgraph.textops.dedup import minhash_near_duplicates

    timings: dict[str, float] = {}
    extras: dict[str, object] = {}

    def want(name):
        return only is None or name in only

    def timed(name):
        class _T:
            def __enter__(self):
                spark.sparkContext.setJobDescription(name)
                self.t0 = time.time()
                return self

            def __exit__(self, *a):
                timings[name] = round(time.time() - self.t0, 3)
                spark.sparkContext.setJobDescription(None)
                print(f"[bench] {name}: {timings[name]}s", file=sys.stderr, flush=True)

        return _T()

    # ---- graph 1: co-purchase from sf lineitem
    g1_needed = only is None or any(
        q.endswith("_copurchase") and q not in OWN_EDGES for q in only
    )
    if g1_needed:
        with timed("build_copurchase"):
            g1 = copurchase_graph(spark, sf_dir)
            nv1, ne1 = g1.num_vertices(), g1.num_edges()
        extras["copurchase"] = {"V": nv1, "E_directed": ne1}

    if want("msbfs512_closeness_copurchase"):
        with timed("msbfs512_closeness_copurchase"):
            srcs = g1.top_degree_vids(min(512, nv1))
            res = msbfs(g1, srcs, track_teps=True)
            top = (
                closeness(g1, res)
                .orderBy(F.col("c").desc(), F.col("src").asc())
                .limit(10)
                .collect()
            )
        extras["msbfs_copurchase"] = {
            "levels": res.levels,
            "bit_edge_traversals": res.traversed_bit_edges,
            "gteps": round(res.gteps(), 4),
        }

    if want("pagerank10_copurchase"):
        with timed("pagerank10_copurchase"):
            pagerank(g1, tol=0.0, max_iter=10).count()

    if want("cc_copurchase"):
        with timed("cc_copurchase"):
            connected_components(g1).agg(F.countDistinct("comp")).collect()

    if want("cc_two_phase_copurchase"):
        with timed("cc_two_phase_copurchase"):
            # kernel A/B vs the min-label row above: edge-rewrite CC on the
            # same graph (round-5 addition)
            from linkgraph.algos.components import connected_components_two_phase

            connected_components_two_phase(g1).agg(F.countDistinct("comp")).collect()

    if want("ppr_push_copurchase"):
        with timed("ppr_push_copurchase"):
            from linkgraph.algos.pagerank import ppr_forward_push

            extras["ppr_push_touched"] = (
                ppr_forward_push(g1, sorted(g1.top_degree_vids(4)), eps=1e-6, rounds=8)
                .where(F.col("p") > 0)
                .count()
            )

    if want("triangles_copurchase"):
        with timed("triangles_copurchase"):
            extras["triangles_copurchase"] = triangle_count(g1, by_degree=True)

    # ---- round-4 analytics on the same graph (keys new in BENCH_r04)
    from linkgraph.algos.betweenness import betweenness
    from linkgraph.algos.kcore import k_core
    from linkgraph.operators.sampling import khop_sample

    if want("betweenness8_copurchase"):
        with timed("betweenness8_copurchase"):
            roots = sorted(g1.top_degree_vids(8))
            extras["betweenness_rows"] = betweenness(g1, roots).count()

    if want("kcore_copurchase"):
        with timed("kcore_copurchase"):
            extras["kcore_rows"] = k_core(g1, 75).count()

    if want("khop_sample_copurchase"):
        with timed("khop_sample_copurchase"):
            extras["khop_rows"] = khop_sample(
                g1, sorted(g1.top_degree_vids(64)), [8, 8]
            ).count()

    # ---- round-4 second wave (keys new in BENCH_r04 refresh)
    from linkgraph.algos.gstats import graph_stats
    from linkgraph.algos.hits import hits
    from linkgraph.algos.linkpred import link_prediction
    from linkgraph.algos.sssp import sssp
    from linkgraph.operators.walks import random_walks
    from linkgraph.sources.derive import copurchase_weighted_edges

    if want("graph_stats_copurchase"):
        with timed("graph_stats_copurchase"):
            extras["graph_stats"] = graph_stats(g1).first().asDict()

    if want("hits8_copurchase"):
        with timed("hits8_copurchase"):
            oriented = LinkGraph(
                g1.edges.where(F.col("src") < F.col("dst")).select("src", "dst"),
                materialize=False,
            )
            extras["hits_rows"] = hits(oriented, rounds=8).count()
            oriented.unpersist()

    if want("linkpred_copurchase"):
        with timed("linkpred_copurchase"):
            extras["linkpred_rows"] = link_prediction(
                g1, hub_cap=150, min_cn=1, topk=100
            ).count()

    if want("walks512_copurchase"):
        with timed("walks512_copurchase"):
            extras["walk_rows"] = random_walks(
                g1, sorted(g1.top_degree_vids(min(512, nv1))),
                walk_len=6, walks_per_seed=4, seed=42,
            ).count()

    # ---- round-5 additions on the same graph
    from linkgraph.algos.anf import anf_full
    from linkgraph.operators.walks import node2vec_walks

    if want("anf_full_copurchase"):
        with timed("anf_full_copurchase"):
            # full-graph FM-sketch neighborhood function (fast xxhash lanes)
            extras["anf_full_curve"] = [
                (r["h"], r["nf"])
                for r in anf_full(g1, k=16, max_h=8, hash_mode="fast").collect()
            ]

    if want("node2vec512_copurchase"):
        with timed("node2vec512_copurchase"):
            extras["node2vec_rows"] = node2vec_walks(
                g1, sorted(g1.top_degree_vids(min(512, nv1))),
                walk_len=6, p=0.25, q=4.0, walks_per_seed=2, seed=42,
            ).count()

    from linkgraph.algos.louvain import louvain_local_move

    if want("louvain6_copurchase"):
        with timed("louvain6_copurchase"):
            # co-purchase edges are symmetric by construction; reuse the cached
            # store without re-materializing (the hits entry's pattern)
            g1s = LinkGraph(g1.edges, symmetric=True, materialize=False)
            extras["louvain_communities"] = (
                louvain_local_move(g1s, rounds=6)
                .agg(F.countDistinct("label"))
                .first()[0]
            )

    if g1_needed:
        g1.unpersist()

    if want("sssp_weighted_copurchase"):
        with timed("sssp_weighted_copurchase"):
            ew = copurchase_weighted_edges(
                read_testdata(spark, sf_dir, "lineitem")
            ).select(
                "src", "dst",
                F.expr("CAST((100 + w - 1) DIV w AS BIGINT)").alias("w"),
            )
            gw = LinkGraph(ew, symmetric=True)
            extras["sssp_rows"] = sssp(gw, sorted(gw.top_degree_vids(4))).count()
            gw.unpersist()

    from linkgraph.algos.mst import minimum_spanning_forest

    if want("mst_copurchase"):
        with timed("mst_copurchase"):
            ewm = copurchase_weighted_edges(read_testdata(spark, sf_dir, "lineitem"))
            extras["mst_edges"] = minimum_spanning_forest(ewm).count()

    # ---- graph 2: Zipf hub-tool transcript graph (skew stress, salted path)
    # Input preparation is untimed: the production input is a transcripts
    # TABLE (BASELINE input_hint: Iceberg), so the fixture is written to
    # parquet first and the timed phase builds from the table scan.  A
    # driver-side LocalRelation fixture would also embed all rows into every
    # downstream logical plan — measured 3x the whole build phase in driver
    # plan-handling alone (BENCH/profile_build.py: 110.8s -> 36.6s total).
    g2_needed = only is None or any(
        q.endswith("_zipf") or q == "build_zipf_graph" for q in only
    )
    if g2_needed:
        n_convs = {"0.001": 2000, "0.01": 8000, "0.1": 20000}.get(sf, 20000)
        import shutil
        import tempfile
        import uuid

        tr_path = os.path.join(tempfile.gettempdir(), f"bench_tr_{uuid.uuid4().hex}")
        transcripts_df(spark, n_convs=n_convs).write.parquet(tr_path)
        with timed("build_zipf_graph"):
            t = spark.read.parquet(tr_path)
            pairs = shared_key_conv_edges(t, key="tool", hub_cap=500)
            g2, _ = LinkGraph.from_string_vertices(
                pairs, "src_conv", "dst_conv", pairs_canonical=True
            )
            nv2, ne2 = g2.num_vertices(), g2.num_edges()
        extras["zipf"] = {"V": nv2, "E_directed": ne2, "n_convs": n_convs}
        shutil.rmtree(tr_path, ignore_errors=True)  # edges are materialized

        if want("msbfs512_zipf"):
            with timed("msbfs512_zipf"):
                res2 = msbfs(g2, g2.top_degree_vids(min(512, nv2)), track_teps=True)
            extras["msbfs_zipf"] = {
                "levels": res2.levels,
                "bit_edge_traversals": res2.traversed_bit_edges,
                "gteps": round(res2.gteps(), 4),
            }

        if want("pagerank10_zipf"):
            with timed("pagerank10_zipf"):
                pagerank(g2, tol=0.0, max_iter=10).count()
        g2.unpersist()

    # ---- training-data op on the documents table
    # sf0.1 documents are a 31-word-vocabulary synthetic corpus: ~66% of all
    # pairs are true near-dups, so LSH is tuned for high similarity
    # (r=8 bands=8, verify at 0.8) — the verified-pair count stays O(true dups).
    if want("minhash_dedup_documents"):
        with timed("minhash_dedup_documents"):
            dups = minhash_near_duplicates(
                read_testdata(spark, sf_dir, "documents"),
                threshold=0.8,
                num_hashes=64,
                bands=8,
            )
            extras["minhash_pairs"] = dups.count()
            dups.unpersist()

    # ---- embedding near-dup, banded production blocking (round 5)
    from linkgraph.textops.dedup import embedding_near_duplicates_banded

    if want("embedding_near_dup_banded"):
        with timed("embedding_near_dup_banded"):
            extras["embedding_near_dup_pairs"] = embedding_near_duplicates_banded(
                read_testdata(spark, sf_dir, "embeddings"),
                threshold=0.3, bands=16, planes_per_band=8, seed=42,
            ).count()

    return timings, extras


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    runs = int(os.environ.get("SPARK_GRAFT_RUNS", "3"))
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from linkgraph.session import get_spark

    # -Xlog:disable: the JVM's unified-logging GC warnings print to
    # STDOUT (observed "[warning][gc,alloc] ... GCLocker" lines mid-run),
    # and stdout is this harness's machine-readable channel — the JSON
    # line must be the only parseable content.  (The JSON is also printed
    # last and duplicated to BENCH/last_run.json as further backstops.)
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name="linkgraph-bench",
        extra_conf={"spark.driver.extraJavaOptions": "-Xlog:disable"},
    )

    samples: list[dict[str, float]] = []
    gteps_samples: list[float] = []
    extras: dict[str, object] = {}
    for i in range(runs):
        print(f"[bench] ---- run {i + 1}/{runs}", file=sys.stderr, flush=True)
        timings, extras = run_suite(spark, sf_dir, sf)
        samples.append(timings)
        gteps_samples.append(extras["msbfs_copurchase"]["gteps"])
    spark.stop()

    names = list(samples[0])
    queries = {
        q: round(statistics.median(s[q] for s in samples), 3) for q in names
    }
    spread = {
        q: {
            "min": round(min(s[q] for s in samples), 3),
            "max": round(max(s[q] for s in samples), 3),
            "runs": [s[q] for s in samples],
        }
        for q in names
    }

    out = {
        "metric": (
            "headline graph+text suite wall time, per-query median of "
            f"{runs} in-JVM runs (512-lane MS-BFS GTEPS in extras)"
        ),
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "spread": spread,
        "n_runs": runs,
        "sf": sf,
        "cpus": cpus,
        "gteps": round(statistics.median(gteps_samples), 4),
        "extras": extras,
    }
    line = json.dumps(out)
    # durable copy FIRST: the driver's tail capture has truncated the
    # stdout line mid-object before (BENCH_r04.json parsed: null) — the
    # file is the always-parseable artifact, the stdout line the contract
    os.makedirs(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH"),
                exist_ok=True)
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH", "last_run.json"),
        "w",
    ) as f:
        f.write(line + "\n")
    sys.stdout.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
