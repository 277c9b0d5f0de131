"""Independent reference results, computed from the generated input with
numpy and DuckDB only (no Spark, no linkgraph code).

Graphs are given as symmetric directed edge arrays (src, dst) over dense
int ids 0..n-1; callers map the engine's vertex ids onto these.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd


class Graph:
    """Symmetric directed edge list over dense ids, with degrees."""

    def __init__(self, src: np.ndarray, dst: np.ndarray, n: int):
        self.src = np.asarray(src, dtype=np.int64)
        self.dst = np.asarray(dst, dtype=np.int64)
        self.n = int(n)
        self.deg = np.bincount(self.src, minlength=self.n)

    @classmethod
    def from_pairs(cls, a: np.ndarray, b: np.ndarray, n: int) -> "Graph":
        """Undirected pairs in any orientation -> symmetric, deduped, no loops."""
        a, b = np.asarray(a, dtype=np.int64), np.asarray(b, dtype=np.int64)
        keep = a != b
        lo, hi = np.minimum(a, b)[keep], np.maximum(a, b)[keep]
        key = np.unique(lo * n + hi)
        lo, hi = key // n, key % n
        return cls(np.concatenate([lo, hi]), np.concatenate([hi, lo]), n)

    @property
    def num_edges(self) -> int:
        return int(self.src.size)


def msbfs_lanes(
    g: Graph, sources: list[int], max_levels: int | None = None
) -> tuple[np.ndarray, np.ndarray, int]:
    """Per-lane reached count r (incl. the source) and distance sum s of a
    BFS from each source, run all lanes at once on packed uint64 bitsets,
    to depth max_levels if given.  Returns (r, s, levels) where levels
    counts the expansions that reached at least one new vertex."""
    lanes = len(sources)
    nl = (lanes + 63) // 64
    order = np.argsort(g.dst, kind="stable")
    src, dst = g.src[order], g.dst[order]
    heads = np.flatnonzero(np.r_[True, dst[1:] != dst[:-1]])
    frontier = np.zeros((g.n, nl), dtype=np.uint64)
    lane = np.arange(lanes)
    np.bitwise_or.at(
        frontier,
        (np.asarray(sources), lane // 64),
        np.left_shift(np.uint64(1), (lane % 64).astype(np.uint64)),
    )
    seen = frontier.copy()
    r = np.ones(lanes, dtype=np.int64)
    s = np.zeros(lanes, dtype=np.int64)
    levels = 0
    while max_levels is None or levels < max_levels:
        nxt = np.zeros_like(frontier)
        nxt[dst[heads]] = np.bitwise_or.reduceat(frontier[src], heads, axis=0)
        nxt &= ~seen
        bits = np.unpackbits(nxt.view(np.uint8), axis=1, bitorder="little")
        new = bits.sum(axis=0, dtype=np.int64)[:lanes]
        if not new.any():
            return r, s, levels
        levels += 1
        r += new
        s += levels * new
        seen |= nxt
        frontier = nxt
    return r, s, levels


def closeness(r: np.ndarray, s: np.ndarray, n: int) -> np.ndarray:
    """c = (r-1)^2 / ((n-1) s), 0 when s = 0."""
    with np.errstate(divide="ignore", invalid="ignore"):
        c = (r - 1.0) ** 2 / ((n - 1.0) * s)
    return np.where(s > 0, c, 0.0)


def pagerank(g: Graph, iters: int, damping: float = 0.85) -> np.ndarray:
    """Power iteration from the uniform vector, exactly `iters` steps; every
    vertex of a symmetric graph has out-edges, so there is no dangling mass."""
    pr = np.full(g.n, 1.0 / g.n)
    for _ in range(iters):
        acc = np.bincount(g.dst, weights=(pr / g.deg)[g.src], minlength=g.n)
        pr = (1.0 - damping) / g.n + damping * acc
    return pr


def components(g: Graph) -> np.ndarray:
    """Union-find with path halving; returns the minimum id of each
    vertex's component."""
    parent = list(range(g.n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    half = g.src < g.dst
    for a, b in zip(g.src[half].tolist(), g.dst[half].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(v) for v in range(g.n)], dtype=np.int64)
    low = np.full(g.n, g.n, dtype=np.int64)
    np.minimum.at(low, roots, np.arange(g.n))
    return low[roots]


def betweenness(g: Graph, roots: list[int], max_levels: int) -> dict[int, float]:
    """Sampled Brandes: Σ over roots of the dependency δ_root(v), v ≠ root,
    BFS depth capped at max_levels, scaled by n/|roots|.  Covers every
    vertex some root reaches (δ may be 0)."""
    total = np.zeros(g.n)
    reached = np.zeros(g.n, dtype=bool)
    for root in roots:
        dist = np.full(g.n, -1, dtype=np.int64)
        sigma = np.zeros(g.n)
        dist[root], sigma[root] = 0, 1.0
        depth = 0
        while depth < max_levels:
            fe = dist[g.src] == depth
            cand = g.dst[fe]
            fresh = np.unique(cand[dist[cand] == -1])
            if fresh.size == 0:
                break
            dist[fresh] = depth + 1
            m = fe & (dist[g.dst] == depth + 1)
            sigma += np.bincount(g.dst[m], weights=sigma[g.src[m]], minlength=g.n)
            depth += 1
        delta = np.zeros(g.n)
        for lvl in range(depth - 1, -1, -1):
            m = (dist[g.src] == lvl) & (dist[g.dst] == lvl + 1)
            u, w = g.src[m], g.dst[m]
            delta += np.bincount(u, weights=sigma[u] / sigma[w] * (1.0 + delta[w]), minlength=g.n)
        mask = dist > 0
        total[mask] += delta[mask]
        reached |= mask
    factor = g.n / len(roots)
    return {int(v): float(total[v] * factor) for v in np.flatnonzero(reached)}


def _edges_table(g: Graph) -> pd.DataFrame:
    return pd.DataFrame({"src": g.src, "dst": g.dst})


def triangle_count(g: Graph) -> int:
    e = _edges_table(g)  # noqa: F841  (read by DuckDB's replacement scan)
    return int(
        duckdb.sql(
            """SELECT count(*) FROM e a
               JOIN e b ON a.dst = b.src AND a.src < a.dst AND b.src < b.dst
               JOIN e c ON c.src = a.src AND c.dst = b.dst"""
        ).fetchone()[0]
    )


def link_prediction(g: Graph, hub_cap: int, min_cn: int, topk: int) -> list[tuple]:
    """Top-k non-adjacent pairs (u < v) by Adamic-Adar over centers z with
    2 <= deg(z) <= hub_cap, ties by cn desc then (u, v)."""
    e = _edges_table(g)  # noqa: F841
    return duckdb.sql(
        f"""WITH deg AS (SELECT src AS z, count(*) AS d FROM e GROUP BY src),
            zw AS (SELECT z, 1.0 / ln(d) AS w FROM deg WHERE d >= 2 AND d <= {hub_cap}),
            wedge AS (SELECT a.dst AS u, b.dst AS v, zw.w FROM e a
                      JOIN e b ON a.src = b.src AND a.dst < b.dst
                      JOIN zw ON zw.z = a.src),
            p AS (SELECT u, v, count(*) AS cn, round(sum(w), 6) AS aa
                  FROM wedge GROUP BY u, v HAVING count(*) >= {min_cn})
            SELECT u, v, cn, aa FROM p ANTI JOIN e ON e.src = p.u AND e.dst = p.v
            ORDER BY aa DESC, cn DESC, u, v LIMIT {topk}"""
    ).fetchall()
