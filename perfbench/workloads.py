"""The workloads: set-up, timed calls into the library's public API, and the
check of every call's output against the independent reference.

A workload object is created once per run from the generated input.  Its
`build` is one set-up, `warmup` runs once before the timed passes, and
`ops` lists the timed calls of one pass as (name, call, check); run.py sums
the calls' CPU seconds by layer family into the end-to-end metrics.  Both
workloads make the same calls, because every run must report every
end-to-end metric; they differ in the graph, which decides the layer that
does most of the work, and in whether the iterative calls snapshot state.
See WORKLOADS.md.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pandas as pd

from inputs import PARAMS
import reference as ref


def timed_checkpoint_manager(spark, root, tracer, stats):
    """A CheckpointManager whose write_state/read_state run as checkpoint
    spans and are counted in `stats`; snapshot bytes are summed from the
    snapshot directories after the pass, outside any timing."""
    from linkgraph.checkpoint import CheckpointManager

    class TimedCheckpointManager(CheckpointManager):
        def write_state(self, state, iteration, metrics):
            with tracer.span("checkpoint.write", "checkpoint") as sp:
                out = super().write_state(state, iteration, metrics)
            stats["writes"] += 1
            stats["write_s"] += sp.wall
            return out

        def read_state(self, snapshot):
            with tracer.span("checkpoint.read", "checkpoint") as sp:
                out = super().read_state(snapshot)
            stats["reads"] += 1
            stats["read_s"] += sp.wall
            return out

    stats["roots"].append(root)
    return TimedCheckpointManager(spark, root)


def _index(keys: np.ndarray, values) -> np.ndarray:
    """Dense reference ids of vertex keys (keys sorted and unique)."""
    idx = np.searchsorted(keys, values)
    if np.any(idx >= keys.size) or np.any(keys[np.minimum(idx, keys.size - 1)] != values):
        raise KeyError("vertex unknown to the reference graph")
    return idx


class Workload:
    name = ""
    checkpointed = False  # whether CC and the main PageRank snapshot state

    def __init__(self, seed: int, table: pd.DataFrame, ctx):
        self.seed = seed
        self.table = table
        self.ctx = ctx
        self.p = PARAMS[self.name]
        self.g = None
        pairs = self.reference_pairs()
        self.keys = np.unique(np.concatenate([pairs[:, 0], pairs[:, 1]]))
        self.ref = ref.Graph.from_pairs(
            _index(self.keys, pairs[:, 0]), _index(self.keys, pairs[:, 1]), self.keys.size
        )
        self._cache = {}

    # -- set-up -------------------------------------------------------------
    def build(self, spark, tracer):
        """Read the input, derive and build self.g; set self.sources (MS-BFS
        lanes) and self.roots (betweenness roots)."""
        raise NotImplementedError

    def warmup(self, tracer):
        """One bounded, untimed pass on the workload's graph before the timed
        calls: a one-level MS-BFS over all lanes (the 8-limb bitset codegen)
        and one PageRank step (the iteration plan and the Python workers).
        It runs once, after the set-ups: the JVM is warm from the first
        set-up on, so in a later set-up it would add steady work to setup_s
        and no start-up cost."""
        from linkgraph.algos.msbfs import msbfs
        from linkgraph.algos.pagerank import pagerank

        with tracer.span("warmup.msbfs", "msbfs"):
            msbfs(self.g, self.sources, max_levels=1)
        with tracer.span("warmup.pagerank", "pagerank"):
            pagerank(self.g, tol=0.0, max_iter=1).count()

    def check_setup(self) -> bool:
        return (
            self.g.num_vertices() == self.ref.n
            and self.g.num_edges() == self.ref.num_edges
        )

    def release(self):
        if self.g is not None:
            self.g.unpersist()
            self.g = None

    def sizes(self) -> dict:
        return {
            "V": self.ref.n,
            "E_directed": self.ref.num_edges,
            "max_degree": int(self.ref.deg.max()),
            "wedges": int(np.sum(self.ref.deg * (self.ref.deg - 1) // 2)),
        }

    # -- helpers --------------------------------------------------------------
    def ref_ids(self, vids) -> np.ndarray:
        return _index(self.keys, np.asarray(vids))

    def cached(self, key, fn):
        if key not in self._cache:
            self._cache[key] = fn()
        return self._cache[key]

    def manager(self, tracer, tag):
        ctx = self.ctx
        root = os.path.join(ctx.work, "chk", f"{tag}-{ctx.next_id()}")
        return timed_checkpoint_manager(self.g.spark, root, tracer, ctx.chk_stats)

    # -- the timed calls --------------------------------------------------------
    def ops(self):
        from linkgraph.algos.betweenness import betweenness
        from linkgraph.algos.components import connected_components
        from linkgraph.algos.labelprop import label_propagation
        from linkgraph.algos.linkpred import link_prediction
        from linkgraph.algos.pagerank import pagerank
        from linkgraph.algos.triangles import triangle_count

        p = self.p
        it = p["pagerank_iter"]
        last = {}

        def snapshots(tracer, tag, every_key):
            if not self.checkpointed:
                return {}
            return {"checkpoint_mgr": self.manager(tracer, tag), "snapshot_every": p[every_key]}

        def components(tracer):
            kw = snapshots(tracer, "cc", "cc_snapshot_every")
            with tracer.span("connected_components", "components"):
                return connected_components(self.g, **kw).toPandas()

        def rank(tracer):
            kw = snapshots(tracer, "pr", "snapshot_every")
            with tracer.span("pagerank", "pagerank"):
                return pagerank(self.g, tol=0.0, max_iter=it, **kw).toPandas()

        def check_rank(pdf):
            last["rank"] = pdf
            return self.check_pagerank(pdf, it)

        def resume(tracer):
            """Half the budget with a snapshot, then resumed to the full
            budget from that snapshot."""
            mgr = self.manager(tracer, "resume")
            half = it // 2
            with tracer.span("pagerank.half", "pagerank"):
                pagerank(
                    self.g, tol=0.0, max_iter=half, checkpoint_mgr=mgr, snapshot_every=half
                ).count()
            with tracer.span("pagerank.resume", "pagerank"):
                return pagerank(
                    self.g, tol=0.0, max_iter=it, checkpoint_mgr=mgr,
                    snapshot_every=it, resume=True,
                ).toPandas()

        def check_resume(pdf):
            """The reference budget, and the uninterrupted run of this pass
            within 1e-6."""
            if not self.check_pagerank(pdf, it):
                return False
            full = last.get("rank")
            if full is None:
                return True
            a = pdf.sort_values("vid")["pr"].to_numpy()
            b = full.sort_values("vid")["pr"].to_numpy()
            return bool(a.size == b.size and np.allclose(a, b, rtol=1e-6, atol=1e-12))

        def lpa(tracer):
            with tracer.span("label_propagation", "labelprop"):
                return label_propagation(self.g, max_iter=p["lpa_rounds"]).toPandas()

        def triangles(tracer):
            with tracer.span("triangle_count", "triangles"):
                return triangle_count(self.g, by_degree=True)

        def check_triangles(n):
            return n == self.cached("tri", lambda: ref.triangle_count(self.ref))

        def linkpred(tracer):
            with tracer.span("link_prediction", "linkpred"):
                return link_prediction(
                    self.g, hub_cap=p["hub_cap"], min_cn=p["min_cn"], topk=p["topk"]
                ).collect()

        def brandes(tracer):
            with tracer.span("betweenness", "betweenness"):
                return betweenness(self.g, self.roots, max_levels=p["bc_levels"]).toPandas()

        return [
            ("closeness", self.closeness_op, self.check_closeness),
            ("pagerank", rank, check_rank),
            ("cc", components, self.check_components),
            ("resume", resume, check_resume),
            ("lpa", lpa, self.check_labelling),
            ("triangles", triangles, check_triangles),
            ("linkpred", linkpred, self.check_linkpred),
            ("betweenness", brandes, self.check_betweenness),
        ]

    def closeness_op(self, tracer):
        """MS-BFS over all lanes plus the closeness top-k, as one operation."""
        from pyspark.sql import functions as F

        from linkgraph.algos.msbfs import closeness, msbfs

        with tracer.span("msbfs", "msbfs"):
            res = msbfs(self.g, self.sources, track_teps=True)
        with tracer.span("closeness", "msbfs"):
            top = (
                closeness(self.g, res)
                .orderBy(F.col("c").desc(), F.col("src").asc())
                .limit(self.p["closeness_topk"])
                .collect()
            )
        tracer.count("msbfs", "levels", res.levels)
        tracer.count("msbfs", "bit_edges", res.traversed_bit_edges)
        tracer.count("msbfs", "reached", int(np.sum(res.r)))
        for st in res.strategies:
            tracer.count("msbfs", f"levels_{st}", 1)
        return res, top

    # -- checks -------------------------------------------------------------------
    def check_closeness(self, out) -> bool:
        """Per-lane r and s against a numpy BFS; the top-k closeness values
        against the reference, and each row against its own lane."""
        res, top = out
        lanes = self.ref_ids(res.sources)
        r, s = self.cached(
            ("bfs", tuple(lanes.tolist())), lambda: ref.msbfs_lanes(self.ref, lanes.tolist())[:2]
        )
        if not (np.array_equal(res.r, r) and np.array_equal(res.s, s)):
            return False
        c = ref.closeness(r, s, self.ref.n)
        want = np.sort(c)[::-1][: self.p["closeness_topk"]]
        got = np.array([row["c"] for row in top])
        by_lane = dict(zip(res.sources, c))
        return bool(
            got.size == want.size
            and np.allclose(got, want, rtol=1e-12)
            and np.allclose(got, [by_lane[row["src"]] for row in top], rtol=1e-12)
        )

    def check_pagerank(self, pdf: pd.DataFrame, iters: int) -> bool:
        want = self.cached(("pr", iters), lambda: ref.pagerank(self.ref, iters))
        if len(pdf) != self.ref.n:
            return False
        got = np.zeros(self.ref.n)
        got[self.ref_ids(pdf["vid"].to_numpy())] = pdf["pr"].to_numpy()
        return bool(np.allclose(got, want, rtol=1e-6, atol=1e-12))

    def check_components(self, pdf) -> bool:
        """Exact: each vertex's component id is its component's minimum
        vertex."""
        want = self.cached("cc", lambda: ref.components(self.ref))
        if len(pdf) != self.ref.n:
            return False
        got = np.empty(self.ref.n, dtype=np.int64)
        got[self.ref_ids(pdf["vid"].to_numpy())] = self.ref_ids(pdf["comp"].to_numpy())
        return bool(np.array_equal(got, want))

    def check_labelling(self, pdf) -> bool:
        """A valid labelling: every label is a vertex of the same
        component."""
        comp = self.cached("cc", lambda: ref.components(self.ref))
        if len(pdf) != self.ref.n:
            return False
        v = self.ref_ids(pdf["vid"].to_numpy())
        lab = self.ref_ids(pdf["label"].to_numpy())
        return bool(np.array_equal(comp[v], comp[lab]))

    def check_linkpred(self, rows) -> bool:
        """The top-k pairs exactly, with cn, and aa within 1e-6."""
        p = self.p
        want = self.cached(
            "lp", lambda: ref.link_prediction(self.ref, p["hub_cap"], p["min_cn"], p["topk"])
        )
        if len(rows) != len(want):
            return False
        u = self.ref_ids([r["u"] for r in rows])
        v = self.ref_ids([r["v"] for r in rows])
        return all(
            (int(a), int(b), r["cn"]) == (w[0], w[1], w[2]) and abs(r["aa"] - w[3]) <= 1e-6
            for a, b, r, w in zip(u, v, rows, want)
        )

    def check_betweenness(self, pdf) -> bool:
        want = self.cached(
            "bc",
            lambda: ref.betweenness(self.ref, self.ref_ids(self.roots).tolist(), self.p["bc_levels"]),
        )
        got = dict(zip(self.ref_ids(pdf["vid"].to_numpy()).tolist(), pdf["bc"].tolist()))
        if got.keys() != want.keys():
            return False
        keys = list(want)
        return bool(
            np.allclose([got[k] for k in keys], [want[k] for k in keys], rtol=1e-9, atol=2e-6)
        )


class DeepChain(Workload):
    """Layered ladder edge table -> many-level MS-BFS over sparse lanes;
    CC and PageRank snapshot their state."""

    name = "deep_chain"
    checkpointed = True

    def reference_pairs(self) -> np.ndarray:
        return self.table[["src", "dst"]].to_numpy(dtype=np.int64)

    def build(self, spark, tracer):
        from linkgraph.graph import LinkGraph

        with tracer.span("graph", "graph"):
            e = spark.read.parquet(self.ctx.input_path)
            self.g = LinkGraph.from_undirected(e)
            tracer.count("graph", "edges", self.g.num_edges())
            self.roots = sorted(self.g.top_degree_vids(self.p["bc_roots"]))
        self.sources = self.spread_sources()

    def spread_sources(self) -> list[int]:
        """The lanes, drawn by the seed in near-equal numbers from every
        block, so that the farthest lane, and with it the number of MS-BFS
        levels, is the same for every seed."""
        p = self.p
        rng = np.random.default_rng([self.seed, 2])
        block = self.keys // p["block_size"]
        per = np.diff(np.linspace(0, p["lanes"], p["blocks"] + 1).round().astype(int))
        return sorted(
            int(v)
            for b, n in enumerate(per)
            for v in rng.choice(self.keys[block == b], size=n, replace=False)
        )


class Baskets(Workload):
    """Order -> part baskets -> co-purchase graph: a hub-skewed graph with
    few, dense MS-BFS levels and much wedge work; nothing snapshots except
    the resumed PageRank."""

    name = "baskets"

    def reference_pairs(self) -> np.ndarray:
        li = self.table  # noqa: F841  (read by DuckDB's replacement scan)
        pairs = duckdb.sql(
            """WITH pk AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM li)
               SELECT DISTINCT a.p, b.p FROM pk a JOIN pk b ON a.k = b.k AND a.p < b.p"""
        ).fetchnumpy()
        return np.column_stack(list(pairs.values())).astype(np.int64)

    def build(self, spark, tracer):
        from pyspark import StorageLevel

        from linkgraph.graph import LinkGraph
        from linkgraph.sources.derive import copurchase_edges

        with tracer.span("derive", "derive"):
            li = spark.read.parquet(self.ctx.input_path)
            pairs = copurchase_edges(li).persist(StorageLevel.MEMORY_AND_DISK)
            tracer.count("derive", "pairs", pairs.count())
        with tracer.span("graph", "graph"):
            self.g = LinkGraph(pairs, symmetric=True)
            tracer.count("graph", "edges", self.g.num_edges())
            self.sources = self.g.top_degree_vids(self.p["lanes"])
        self.roots = sorted(self.sources[: self.p["bc_roots"]])
        pairs.unpersist()


WORKLOADS = {w.name: w for w in (DeepChain, Baskets)}


def checkpoint_bytes(roots: list[str]) -> int:
    """Bytes of parquet data under the given snapshot roots (local FS)."""
    total = 0
    for root in roots:
        for d, _, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total


def remove_roots(roots: list[str]) -> None:
    for root in roots:
        shutil.rmtree(root, ignore_errors=True)
