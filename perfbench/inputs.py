"""Seeded input generators for the benchmark workloads.

Each generator is a pure function of its seed and the fixed parameters in
PARAMS: the same seed gives byte-identical tables.  The tables are written
to parquet before any timing starts; the program under test only ever sees
the parquet files.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PARAMS = {
    # layered ladder: block b links only to block b+1
    "deep_chain": {
        "blocks": 7,
        "block_size": 128,
        "out_links": 4,
        "lanes": 512,
        "closeness_topk": 10,
        "pagerank_iter": 3,
        "snapshot_every": 2,
        "cc_snapshot_every": 3,
        "lpa_rounds": 3,
        "hub_cap": 150,
        "min_cn": 1,
        "topk": 100,
        "bc_roots": 8,
        "bc_levels": 2,
    },
    # order -> part baskets with Zipf part popularity
    "baskets": {
        "n_orders": 3000,
        "n_parts": 3000,
        "lines_min": 1,
        "lines_max": 7,
        "zipf_s": 0.6,
        "lanes": 512,
        "closeness_topk": 10,
        "pagerank_iter": 3,
        "lpa_rounds": 3,
        "hub_cap": 150,
        "min_cn": 1,
        "topk": 100,
        "bc_roots": 8,
        "bc_levels": 2,
    },
}


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** (-s)
    return p / p.sum()


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer: a stateless 64-bit hash of uint64 keys."""
    x = x.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def ladder(seed: int) -> pd.DataFrame:
    """(src, dst) undirected pairs: vertex i of block b links to out_links
    hash-chosen vertices of block b+1, so every path between blocks b and
    b' has at least |b - b'| hops."""
    p = PARAMS["deep_chain"]
    k, d = p["block_size"], p["out_links"]
    src = np.repeat(np.arange((p["blocks"] - 1) * k, dtype=np.int64), d)
    j = np.tile(np.arange(d, dtype=np.int64), (p["blocks"] - 1) * k)
    key = (np.uint64(seed) << np.uint64(40)) ^ (src.astype(np.uint64) << np.uint64(8)) ^ j.astype(np.uint64)
    offset = (_mix64(key) % np.uint64(k)).astype(np.int64)
    dst = (src // k + 1) * k + offset
    return pd.DataFrame({"src": src, "dst": dst}).drop_duplicates(ignore_index=True)


def lineitem(seed: int) -> pd.DataFrame:
    """(l_orderkey, l_partkey): each order holds lines_min..lines_max lines,
    each part drawn Zipf(s) over a seeded permutation of the part keys."""
    p = PARAMS["baskets"]
    rng = np.random.default_rng([seed, 3])
    n_lines = rng.integers(p["lines_min"], p["lines_max"] + 1, size=p["n_orders"])
    order = np.repeat(np.arange(1, p["n_orders"] + 1, dtype=np.int64), n_lines)
    rank = rng.choice(p["n_parts"], size=order.size, p=_zipf_probs(p["n_parts"], p["zipf_s"]))
    part = rng.permutation(p["n_parts"]).astype(np.int64)[rank] + 1
    return pd.DataFrame({"l_orderkey": order, "l_partkey": part})


GENERATORS = {"deep_chain": ladder, "baskets": lineitem}


def write_input(workload: str, seed: int, path: str) -> pd.DataFrame:
    """Generate the workload's table and write it as one parquet file."""
    df = GENERATORS[workload](seed)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return df
