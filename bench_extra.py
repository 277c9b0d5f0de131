"""Profiling companion to bench.py (guide §1: measure first).

NOT part of the driver contract — bench.py stays the frozen measured
artifact.  This harness reuses the exact same query bodies but adds:

* --only q1,q2: run a subset (g1/g2 are built untimed when needed);
* per-query ``setJobDescription`` labels so event-log stages attribute;
* --eventlog DIR: enable the Spark event log for stage-level analysis
  (parse with tools/stageprof.py);
* --runs N (default 1).

Prints the same {"queries": {...}} JSON line (to stderr-safe stdout) but
is never read by the driver.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def run_subset(spark, sf_dir: str, sf: str, only: set[str] | None):
    from pyspark.sql import functions as F

    from linkgraph.algos.components import (
        connected_components,
        connected_components_two_phase,
    )
    from linkgraph.algos.msbfs import closeness, msbfs
    from linkgraph.algos.pagerank import pagerank, ppr_forward_push
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
                print(f"[bx] {name}: {timings[name]}s", file=sys.stderr, flush=True)

        return _T()

    g1_needed = only is None or any(
        q.endswith("_copurchase") for q in only
    )
    g1 = None
    if g1_needed:
        with timed("build_copurchase"):
            g1 = copurchase_graph(spark, sf_dir)
            nv1, ne1 = g1.num_vertices(), g1.num_edges()
        extras["copurchase"] = {"V": nv1, "E_directed": ne1}

    if want("msbfs512_closeness_copurchase"):
        with timed("msbfs512_closeness_copurchase"):
            srcs = g1.top_degree_vids(min(512, nv1))
            res = msbfs(g1, srcs, track_teps=True)
            (
                closeness(g1, res)
                .orderBy(F.col("c").desc(), F.col("src").asc())
                .limit(10)
                .collect()
            )
        extras["msbfs_copurchase"] = {
            "levels": res.levels,
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
            connected_components_two_phase(g1).agg(
                F.countDistinct("comp")
            ).collect()

    if want("ppr_push_copurchase"):
        with timed("ppr_push_copurchase"):
            (
                ppr_forward_push(g1, sorted(g1.top_degree_vids(4)), eps=1e-6, rounds=8)
                .where(F.col("p") > 0)
                .count()
            )

    if want("triangles_copurchase"):
        with timed("triangles_copurchase"):
            extras["triangles_copurchase"] = triangle_count(g1, by_degree=True)

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

    from linkgraph.algos.anf import anf_full
    from linkgraph.operators.walks import node2vec_walks

    if want("anf_full_copurchase"):
        with timed("anf_full_copurchase"):
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
            g1s = LinkGraph(g1.edges, symmetric=True, materialize=False)
            extras["louvain_communities"] = (
                louvain_local_move(g1s, rounds=6)
                .agg(F.countDistinct("label"))
                .first()[0]
            )

    if g1 is not None:
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

    # ---- graph 2
    g2_needed = only is None or any(q.endswith("_zipf") or q == "build_zipf_graph" for q in only)
    if g2_needed:
        n_convs = {"0.001": 2000, "0.01": 8000, "0.1": 20000}.get(sf, 20000)
        import shutil
        import tempfile
        import uuid

        tr_path = os.path.join(tempfile.gettempdir(), f"bx_tr_{uuid.uuid4().hex}")
        transcripts_df(spark, n_convs=n_convs).write.parquet(tr_path)
        with timed("build_zipf_graph"):
            t = spark.read.parquet(tr_path)
            pairs = shared_key_conv_edges(t, key="tool", hub_cap=500)
            g2, _ = LinkGraph.from_string_vertices(
                pairs, "src_conv", "dst_conv", pairs_canonical=True
            )
            nv2, ne2 = g2.num_vertices(), g2.num_edges()
        extras["zipf"] = {"V": nv2, "E_directed": ne2}
        shutil.rmtree(tr_path, ignore_errors=True)

        if want("msbfs512_zipf"):
            with timed("msbfs512_zipf"):
                res2 = msbfs(g2, g2.top_degree_vids(min(512, nv2)), track_teps=True)
            extras["msbfs_zipf"] = {
                "levels": res2.levels,
                "gteps": round(res2.gteps(), 4),
            }

        if want("pagerank10_zipf"):
            with timed("pagerank10_zipf"):
                pagerank(g2, tol=0.0, max_iter=10).count()
        g2.unpersist()

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
        t, extras = run_subset(spark, sf_dir, sf, only)
        samples.append(t)
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
