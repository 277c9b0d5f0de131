"""Deduplication operators over a documents table (doc_id, text, ...).

Exact (hash-groupBy), word-Jaccard near-dup (exact, via explode+join),
MinHash+LSH (banded, scale path), SimHash (64-bit, bit-majority).  All
JVM-side column expressions except the numpy SimHash kernel (Arrow batch).

Scale notes: exact dedup is one shuffle on the digest; LSH candidates are
generated by band-bucket self-join so cost is bounded by bucket sizes, not
n^2; the exact-Jaccard verifier only runs on candidate pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

TOKEN_RE = "[a-z0-9]+"


def normalized_tokens(col: str = "text"):
    """Deterministic tokenization shared with the DuckDB oracles."""
    return F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), 0)


def portable_hash60(col, seed: int | None = None):
    """Engine-portable 60-bit hash: first 15 hex chars of md5 as a long.

    md5 is standardized, so Spark `conv(substr(md5(x),1,15),16,10)` and
    DuckDB `CAST('0x' || substr(md5(x),1,15) AS BIGINT)` produce identical
    values — this is the hash family the DuckDB-oracle-checked queries use.
    xxhash64 stays the default for production paths (faster, 64 bits) where
    cross-engine equality is not required.  15 hex chars = 60 bits < 2^63,
    so the value is non-negative and exact in a signed long.
    """
    x = F.col(col) if isinstance(col, str) else col
    if seed is not None:
        x = F.concat(x, F.lit(f"#{seed}"))
    return F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long")


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical texts: (h, n_dups, keep_id).

    keep_id = min doc_id (the canonical survivor).  One shuffle on the
    digest; the text column itself never shuffles.
    """
    return (
        docs.select(F.col("doc_id"), F.md5(F.col("text")).alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_id"))
    )


def word_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, max_df: int | None = None
) -> DataFrame:
    """Exact word-set Jaccard over candidate pairs sharing ≥1 token.

    (a, b, jac) with a < b and jac ≥ threshold.  `max_df` drops tokens in
    more than max_df docs before pairing (stop-word blowup guard — part of
    the operator's semantics, mirrored in the oracle).
    """
    tok = (
        docs.select("doc_id", F.explode(F.array_distinct(normalized_tokens())).alias("w"))
    )
    if max_df is not None:
        dfreq = tok.groupBy("w").agg(F.count("*").alias("df"))
        tok = tok.join(dfreq.where(F.col("df") <= max_df), "w", "left_semi")
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("sz"))
    t1 = tok.select(F.col("doc_id").alias("a"), "w")
    t2 = tok.select(F.col("doc_id").alias("b"), "w")
    inter = (
        t1.join(t2, "w")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            (
                F.col("i") / (F.col("sza") + F.col("szb") - F.col("i"))
            ).alias("jac"),
        )
        .where(F.col("jac") >= threshold)
        .select("a", "b", F.round("jac", 6).alias("jac"))
    )


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 64, hash_family: str = "xxhash64"
) -> DataFrame:
    """(doc_id, sig array<long>): min over tokens of hash(token, seed_i).

    Pure JVM expressions: one explode + groupBy(min...) — no Python.
    hash_family: "xxhash64" (default, fastest) or "md5" (portable_hash60 —
    bit-identical across engines, used by the DuckDB-oracle-checked query).
    """
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(normalized_tokens())).alias("w")
    )
    if hash_family == "md5":
        aggs = [
            F.min(portable_hash60("w", seed=i)).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    else:
        aggs = [
            F.min(F.xxhash64(F.col("w"), F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    sig = tok.groupBy("doc_id").agg(*aggs)
    return sig.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash LSH: band signatures into `bands` buckets; docs colliding in
    any band become candidate pairs (a < b, distinct).

    P[candidate] ≈ 1-(1-j^r)^b with r = num_hashes/bands — tune for the
    target similarity.  Self-join is per (band, bucket-hash) key.  With the
    "md5" family the bucket key is the raw signature-slice string (engine-
    neutral); the default family hashes it down to an int first (smaller
    shuffle keys — candidate sets are identical either way barring F.hash
    collisions, which only ever ADD candidates for the exact verifier).
    """
    buckets = minhash_band_buckets(docs, num_hashes, bands, hash_family=hash_family)
    l = buckets.select(F.col("band"), F.col("bucket"), F.col("doc_id").alias("a"))
    rt = buckets.select(F.col("band"), F.col("bucket"), F.col("doc_id").alias("b"))
    return (
        l.join(rt, ["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_band_buckets(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(doc_id, band, bucket): the banded MinHash blocking keys, exposed as
    a table so the STREAMING incremental path can persist it as the
    accumulated index and join each microbatch against it (the batch path's
    lsh_candidate_pairs self-joins it in place)."""
    r = num_hashes // bands
    sig = minhash_signatures(docs, num_hashes, hash_family=hash_family)
    if hash_family == "md5":
        band_cols = [
            F.concat_ws("_", *[
                F.element_at("sig", b * r + j + 1).cast("string") for j in range(r)
            ]).alias(f"b{b}")
            for b in range(bands)
        ]
    else:
        band_cols = [
            F.hash(F.concat_ws("_", F.lit(b), *[
                F.element_at("sig", b * r + j + 1).cast("string") for j in range(r)
            ])).alias(f"b{b}")
            for b in range(bands)
        ]
    banded = sig.select("doc_id", *band_cols)
    buckets = banded.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"b{b}").alias("bucket"))
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    return buckets


def jaccard_for_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact word-set Jaccard computed ONLY for the given (a, b) pairs.

    Cost O(|pairs| · avg_tokens), not O(n²) — the correct verify shape after
    LSH candidate generation at scale.

    Shape: two equi-joins attach each side's distinct-token ARRAY, then
    |A∩B| is one codegen'd `array_intersect` per pair.  The previous
    explode-join form (pairs ⋈ tokens_a ⋈ tokens_b on (b, w) + re-aggregate)
    shuffled |pairs|·avg_tokens narrow rows and paid an extra hash
    aggregate; the array form moves the same bytes once and verifies each
    pair in-place (measured ~25% off the bench's minhash query, which is
    verifier-dominated on a ~66%-near-dup corpus).
    """
    toks = docs.select(
        F.col("doc_id"), F.array_distinct(normalized_tokens()).alias("ws")
    )
    ta = toks.select(F.col("doc_id").alias("a"), F.col("ws").alias("wa"))
    tb = toks.select(F.col("doc_id").alias("b"), F.col("ws").alias("wb"))
    return (
        pairs.join(ta, "a")
        .join(tb, "b")
        .withColumn("i", F.size(F.array_intersect("wa", "wb")))
        .select(
            "a",
            "b",
            F.round(
                F.col("i") / (F.size("wa") + F.size("wb") - F.col("i")), 6
            ).alias("jac"),
        )
    )


def minhash_near_duplicates(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """LSH candidates verified by exact word Jaccard: (a, b, jac ≥ threshold).

    Exact Jaccard runs only on candidate pairs (jaccard_for_pairs).  The
    candidate set is materialized (persist + count) before the verify join:
    staged execution runs the banded-bucket pipeline exactly once, where the
    fused single-action plan was measured re-computing it (~2x end-to-end
    on the sf0.1 corpus: 59.6s fused vs ~30s staged).

    Cache lifetime: the candidate cache is released before returning (the
    verified output is materialized first, so nothing recomputes).  The
    RETURNED DataFrame is persisted — callers that are done with it should
    .unpersist() it; until then it is the only retained block."""
    cand = lsh_candidate_pairs(docs, num_hashes, bands, hash_family=hash_family)
    cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
    cand.count()
    out = (
        jaccard_for_pairs(docs, cand)
        .where(F.col("jac") >= threshold)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out.count()  # materialize before dropping the candidate blocks
    cand.unpersist()
    return out


def near_duplicate_clusters(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    hash_family: str = "xxhash64",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the verified
    MinHash pair graph, plus singleton docs as their own cluster.
    Returns (doc_id, cluster, csize) with cluster = min doc_id in the
    component — the canonical "keep one representative per near-dup
    group" selection a training-data pipeline runs after pair detection.

    Composition, all existing kernels: minhash_near_duplicates (banded
    LSH, never all-pairs) → LinkGraph.from_undirected(distinct=False —
    the a<b pair set is already canonical) → pointer-doubling
    connected_components (converges in O(log diameter) rounds; near-dup
    components are dense, so 2-3 rounds in practice) → one anti-join for
    singletons + one |docs|-row count aggregate for cluster sizes.

    Every intermediate cache is released before returning: the result is
    count()-materialized (localCheckpoint-backed via the CC kernel), so
    nothing recomputes through the dropped blocks."""
    from linkgraph.algos.components import connected_components
    from linkgraph.graph import LinkGraph
    from linkgraph.iterate import release

    pairs = minhash_near_duplicates(docs, threshold, num_hashes, bands, hash_family)
    g = LinkGraph.from_undirected(pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")), distinct=False)
    comp = connected_components(g)
    ids = docs.select(F.col(id_col).cast("long").alias("doc_id"))
    singles = ids.join(comp.select(F.col("vid").alias("doc_id")), "doc_id", "left_anti")
    members = comp.select(
        F.col("vid").cast("long").alias("doc_id"), F.col("comp").cast("long").alias("cluster")
    ).union(singles.select("doc_id", F.col("doc_id").alias("cluster")))
    sizes = members.groupBy("cluster").agg(F.count(F.lit(1)).alias("csize"))
    out = members.join(sizes, "cluster").select(
        "doc_id", "cluster", F.col("csize").cast("long").alias("csize")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    pairs.unpersist()
    g.unpersist()
    release(comp)  # the CC result's local checkpoint blocks
    return out


# ---------------------------------------------------------------------- SimHash
def simhash(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document: bit-majority over token hashes.

    Arrow-batched numpy kernel (mapInArrow): tokens are hashed JVM-side
    (xxhash64), the per-bit majority runs vectorized in numpy.
    """
    tok_hash = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(normalized_tokens())).alias("w"),
    ).select("doc_id", F.xxhash64("w").alias("h"))

    def kernel(batches):
        # partial per-doc bit counts; final majority after groupBy
        for batch in batches:
            if batch.num_rows == 0:
                continue
            did = batch.column("doc_id").to_numpy(zero_copy_only=False)
            h = batch.column("h").to_numpy(zero_copy_only=False).view(np.uint64)
            bits = np.unpackbits(
                h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            ).astype(np.int64)
            pdf = pd.DataFrame(bits)
            pdf.insert(0, "doc_id", did)
            g = pdf.groupby("doc_id", sort=False)
            cnt = g.sum()
            tot = g.size()
            out = {"doc_id": cnt.index.to_numpy(np.int64), "n": tot.to_numpy(np.int64)}
            for j in range(64):
                out[f"c{j}"] = cnt[j].to_numpy(np.int64)
            yield pa.RecordBatch.from_pydict(out)

    schema = "doc_id long, n long, " + ", ".join(f"c{j} long" for j in range(64))
    partial = tok_hash.mapInArrow(kernel, schema)
    agg = partial.groupBy("doc_id").agg(
        F.sum("n").alias("n"), *[F.sum(f"c{j}").alias(f"c{j}") for j in range(64)]
    )
    # bit j set when count(1s) * 2 > n  → pack back to one int64
    limb = None
    for j in range(64):
        bit = F.when(F.col(f"c{j}") * 2 > F.col("n"), F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, j)
        limb = term if limb is None else limb.bitwiseOR(term)
    return agg.select("doc_id", limb.alias("simhash"))


def simhash_portable(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash with the engine-portable md5 hash family — pure JVM
    column expressions end-to-end (explode → 60 conditional-sum aggregates
    → bit pack), no Python at all; bit-identical to the DuckDB oracle.

    The 64-bit xxhash64 Arrow-kernel variant (`simhash`) remains the
    production default; this one exists so the full bit-majority pipeline
    is hash-checked against an independent engine at the driver gate.
    """
    nbits = 60
    tok_hash = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(normalized_tokens())).alias("w"),
    ).select("doc_id", portable_hash60("w").alias("h"))
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.shiftrightunsigned("h", j).bitwiseAND(F.lit(1).cast("long"))).alias(f"c{j}")
        for j in range(nbits)
    ]
    cnt = tok_hash.groupBy("doc_id").agg(*aggs)
    limb = None
    for j in range(nbits):
        bit = F.when(F.col(f"c{j}") * 2 > F.col("n"), F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, j)
        limb = term if limb is None else limb.bitwiseOR(term)
    return cnt.select("doc_id", limb.alias("simhash"))


def simhash_near_duplicates(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs with hamming(simhash) ≤ max_hamming, blocked on 16-bit chunks.

    Two 64-bit hashes within hamming 3 share at least one of 4 16-bit
    chunks exactly (pigeonhole) — the standard scale-out blocking.
    """
    sh = simhash(docs)
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    F.shiftrightunsigned("simhash", 16 * c)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias("val"),
                )
                for c in range(4)
            ])
        ).alias("cv"),
    ).select("doc_id", "simhash", F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"))
    a = chunks.select("chunk", "val", F.col("doc_id").alias("a"), F.col("simhash").alias("ha"))
    b = chunks.select("chunk", "val", F.col("doc_id").alias("b"), F.col("simhash").alias("hb"))
    return (
        a.join(b, ["chunk", "val"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.3,
    planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: sign-bucket LSH + exact verify.

    The blocking key is axis-aligned hyperplane LSH — bit i of the bucket is
    the sign of component i, giving 2^planes buckets.  Axis-aligned planes
    are deterministic and engine-portable (the DuckDB oracle reproduces them
    exactly); `hyperplane_lsh_buckets` (random planes, banding) is the
    higher-recall production variant for the same candidate-generation role.
    Candidates are pairs sharing a bucket; each candidate is verified with
    the exact double-precision cosine (same `_dot`/`_norm` reduction as the
    float64 oracle) — pure codegen'd expressions, no Python.

    Scale: the only shuffle is the self-join on the bucket key — never
    all-pairs.  Per-bucket cost is quadratic in bucket size, so `planes`
    (bucket count) is the knob that bounds it as |corpus| grows; embedding
    components are ~zero-mean so buckets stay balanced (no hub key).  Norms
    are computed once per row before the join; only (id, v, norm) rows
    shuffle, and the verifier runs in-place on the joined row (no second
    pass over the corpus).

    Returns (id_a, id_b, cos) with id_a < id_b, cos >= threshold (compared
    pre-rounding), cos rounded to 6 decimals for output stability.
    """
    from .simsearch import _dot, _norm

    emb = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    bkt = F.lit(0)  # planes=0 → one bucket = exact all-pairs (test/small-n path)
    for i in range(planes):
        bkt = bkt + F.when(
            F.element_at("v", i + 1) < 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    emb = emb.select("id", "v", bkt.alias("bkt"), _norm(F.col("v")).alias("nrm"))
    a = emb.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"), "bkt"
    )
    b = emb.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"), "bkt"
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "bkt")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("_cos"))
        .where(F.col("_cos") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("_cos", 6).alias("cos"))
    )


def banded_embedding_signatures(
    embeddings: DataFrame,
    bands: int = 8,
    planes_per_band: int = 8,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, band, bucket): b bands × r seeded random hyperplanes per row.

    One Arrow-batched matmul hashes all b·r planes in a single corpus pass
    (same zero-copy kernel shape as simsearch.hyperplane_lsh_buckets);
    each band's r sign bits pack into one bucket key.  A pair at cosine
    angle θ collides in ≥1 band with probability 1−(1−(1−θ/π)^r)^b — the
    banding amplification single-bucket sign-LSH lacks (a near-dup that
    crosses ONE plane of a single signature is lost there; here it still
    collides in every band that excludes that plane).
    """
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, bands * planes_per_band))
    weights = 1 << np.arange(planes_per_band, dtype=np.int64)
    nb, r = bands, planes_per_band

    def kernel(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            col = batch.column(1)
            flat = col.flatten().to_numpy(zero_copy_only=False)
            if flat.size == batch.num_rows * dim:
                mat = flat.reshape(batch.num_rows, dim)
            else:  # ragged rows (malformed input) — slow path
                mat = np.asarray(col.to_pylist(), dtype=np.float64)
            proj = mat @ planes  # (rows, b*r)
            bits = (proj > 0).astype(np.int64).reshape(batch.num_rows, nb, r)
            buckets = (bits * weights).sum(axis=2)  # (rows, b)
            n = batch.num_rows
            yield pa.RecordBatch.from_pydict(
                {
                    "id": pa.array(np.repeat(ids, nb), pa.int64()),
                    "band": pa.array(
                        np.tile(np.arange(nb, dtype=np.int32), n), pa.int32()
                    ),
                    "bucket": pa.array(buckets.reshape(-1), pa.int64()),
                }
            )

    src = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    return src.mapInArrow(kernel, "id long, band int, bucket long")


def embedding_near_duplicates_banded(
    embeddings: DataFrame,
    threshold: float = 0.3,
    bands: int = 8,
    planes_per_band: int = 8,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Production embedding near-dup: banded random-hyperplane LSH blocking
    + exact double-cosine verify.  Same contract as the axis-aligned
    `embedding_near_duplicates` (which remains solely the engine-portable
    DuckDB-oracle path) but with recall amplification and a tunable
    blocking-cost bound.

    Plan shape: one Arrow matmul pass emits b (band, bucket) keys per row
    (vectors do NOT ride along); the candidate self-join shuffles only
    (id, band, bucket) rows; distinct collapses cross-band repeats; the
    verify joins candidates back to (id, v, ‖v‖) and evaluates the exact
    float64 cosine in place — precision is therefore exactly 1.0 and only
    recall is probabilistic.

    Scale bound: signatures are near-uniform on zero-mean embeddings, so a
    band's expected bucket size is n/2^r and expected candidate volume is
    b·n²/2^r — r is the per-bucket quadratic-cost knob, b the recall knob
    (collision prob 1−(1−(1−θ/π)^r)^b).  Duplicate-heavy corpora still
    concentrate identical signatures into hot buckets — the same hub-key
    exposure as MinHash LSH, mitigated there and here by AQE skew splits
    on the self-join.

    Returns (id_a, id_b, cos) with id_a < id_b, cos >= threshold.
    """
    from .simsearch import _dot, _norm

    sig = banded_embedding_signatures(
        embeddings, bands, planes_per_band, seed, dim, id_col, vec_col
    )
    a = sig.select(F.col("id").alias("id_a"), "band", "bucket")
    b = sig.select(F.col("id").alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    emb = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).select("id", "v", _norm(F.col("v")).alias("nrm"))
    ea = emb.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    eb = emb.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", cos.alias("_cos"))
        .where(F.col("_cos") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("_cos", 6).alias("cos"))
    )


def contamination_check(
    docs: DataFrame,
    n: int = 5,
    train_frac: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "split",
) -> DataFrame:
    """Cross-split n-gram contamination audit (the train/eval leakage check
    every LLM data pipeline runs before training): deterministically
    hash-split the corpus into train (train_frac) and eval, shingle both
    sides into word n-grams, and report for every EVAL document what
    fraction of its distinct n-grams also occur anywhere in the TRAIN
    split.

    Returns (doc_id, n_shingles, n_hit, contamination_ratio) for every
    eval document (docs shorter than n tokens report 0 shingles, ratio 0).

    Scale shape:
    * the split is the same pure-projection md5 bucket as
      operators/sampling.hash_split — no shuffle, reproducible on any
      engine or cluster shape, so train/eval membership never drifts
      between the audit and the actual training job;
    * shingles leave each document as 60-bit portable hashes — the text
      column never crosses a shuffle;
    * the train side is reduced to DISTINCT shingle hashes and the hit
      test is a LEFT SEMI join on that set (set membership, no row
      multiplication on hot shingles — a "the end of the" shingle with
      10^6 train occurrences still contributes one row);
    * per-eval-doc counting is one groupBy on (doc_id) over already-
      distinct (doc_id, shingle) rows.
    """
    from linkgraph.operators.sampling import BUCKETS, _bucket

    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    if not (0.0 < train_frac < 1.0):
        raise ValueError(f"train_frac must be in (0,1): {train_frac}")
    toks = normalized_tokens(text_col)
    n_tok = F.size(toks)
    sh = F.when(
        n_tok >= n,
        F.transform(
            F.sequence(F.lit(1), n_tok - n + 1),
            lambda i: F.conv(
                F.substring(F.md5(F.concat_ws(" ", F.slice(toks, i, n))), 1, 15),
                16,
                10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    cut = int(round(train_frac * BUCKETS))
    base = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (_bucket(id_col, salt) < cut).alias("is_train"),
        sh.alias("sh"),
    )
    train_set = (
        base.where(F.col("is_train"))
        .select(F.explode("sh").alias("h"))
        .distinct()
    )
    ev = base.where(~F.col("is_train"))
    ev_sh = ev.select("doc_id", F.explode("sh").alias("h")).distinct()
    hits = (
        ev_sh.join(train_set, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    totals = ev_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    return (
        ev.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shingles"), F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.when(
                    F.coalesce(F.col("n_shingles"), F.lit(0)) > 0,
                    F.coalesce(F.col("n_hit"), F.lit(0))
                    / F.coalesce(F.col("n_shingles"), F.lit(1)),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("contamination_ratio"),
        )
    )


def shared_ngram_spans(
    docs: DataFrame,
    k: int = 3,
    df_cap: int = 5,
    min_spans: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Exact shared-substring detection: (a, b, n_spans) for every doc
    pair sharing >= min_spans distinct contiguous k-token spans — the
    span-level exact-duplication signal of [Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"]
    re-expressed relationally (their suffix array finds maximal repeated
    substrings; a k-gram postings join finds all length-k witnesses of
    the same repeats, which is the decision signal dedup pipelines act
    on).

    Scale posture:

    * spans are enumerated with a vectorized transform over the token
      array (sequence + slice + concat_ws — whole-stage codegen, no
      Python), then de-duplicated per document BEFORE the shuffle, so
      the postings table carries one row per (doc, distinct gram);
    * the postings self-join on the gram key is the only quadratic
      stage; its per-gram fanout is df², so grams present in more than
      `df_cap` documents are dropped (boilerplate/license-header grams —
      at corpus scale these are exactly the spans MinHash already
      catches; the cap is the operator contract, oracle-mirrored).
      df >= 2 additionally prunes unshared grams before the join;
    * at 100 TB the gram string itself never needs to ship: substitute
      `xxhash64(gram)` as the join key (one in 2^64 false-positive risk
      per bucket) — the string form is kept here because the DuckDB
      oracle joins on the same bytes.

    All-integer output — no float, no rounding convention, exact in any
    engine.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)
    n_spans = F.size(toks) - F.lit(k - 1)
    grams = (
        docs.select(
            "doc_id",
            F.explode(
                F.when(
                    n_spans >= 1,
                    F.transform(
                        F.sequence(F.lit(1), n_spans),
                        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram"),
        )
        .distinct()
    )
    dfq = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= df_cap))
        .select("gram")
    )
    g = grams.join(dfq, "gram")
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_spans"))
        .where(F.col("n_spans") >= min_spans)
        .select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            F.col("n_spans").cast("long").alias("n_spans"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric subset-duplication: directed (a, b, containment) with
    containment = |A∩B| / |A| ≥ threshold over word SETS — the signal
    Jaccard misses by construction: a short document wholly embedded in a
    long one (quote, boilerplate block, chunked shard of a bigger doc)
    has jac ≈ |A|/|B| → 0 but containment(a→b) = 1.  The a→b direction
    reads "this much of A appears in B", so subset-dup pipelines keep the
    superset and drop high-containment a's.

    Same postings-join shape and `max_df` stop-word guard as
    `word_jaccard_pairs` (the df cap is the operator contract, oracle-
    mirrored); both orientations of a pair are emitted when both clear
    the threshold (containment is not symmetric).  The threshold is
    applied to the ROUNDED value so the kept set is engine-portable.
    """
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(normalized_tokens())).alias("w")
    )
    if max_df is not None:
        dfreq = tok.groupBy("w").agg(F.count("*").alias("df"))
        tok = tok.join(dfreq.where(F.col("df") <= max_df), "w", "left_semi")
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("sz"))
    t1 = tok.select(F.col("doc_id").alias("a"), "w")
    t2 = tok.select(F.col("doc_id").alias("b"), "w")
    inter = (
        t1.join(t2, "w")
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza"))
    return (
        inter.join(sa, "a")
        .select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            F.round(F.col("i") / F.col("sza"), 6).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def split_leakage(
    docs: DataFrame,
    split_weights: dict[str, float],
    threshold: float = 0.3,
    num_hashes: int = 64,
    bands: int = 16,
    hash_family: str = "xxhash64",
    salt: str = "split",
) -> DataFrame:
    """Cross-split near-duplicate leakage audit: (split_a, split_b,
    n_pairs) counting verified MinHash near-dup pairs whose members land
    in DIFFERENT splits of the deterministic hash split — the
    decontamination check every train/val/test cut needs (a test doc
    with a training near-twin inflates eval).  Composition of
    `minhash_near_duplicates` × `operators.sampling.hash_split`; the
    split pair is canonically ordered so each leak counts once.

    Scale: the near-dup pipeline dominates (banded, never all-pairs);
    the split is a zero-shuffle projection joined onto the ≤|pairs|
    result, and the output is ≤ C(|splits|, 2) rows.
    """
    from linkgraph.operators.sampling import hash_split

    pairs = minhash_near_duplicates(
        docs,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        hash_family=hash_family,
    )
    splits = hash_split(docs.select("doc_id"), "doc_id", split_weights, salt=salt)
    sa = splits.select(F.col("doc_id").alias("a"), F.col("split").alias("sa"))
    sb = splits.select(F.col("doc_id").alias("b"), F.col("split").alias("sb"))
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .where(F.col("sa") != F.col("sb"))
        .groupBy(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def dup_cluster_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-duplicate multiplicity profile: (cluster_size, n_clusters)
    counting how many digest groups contain exactly k identical copies —
    the report that decides dedup policy (a long tail of 2-copies is
    mirrors; a few 10⁴-copy groups are templates/boilerplate and worth a
    rule, not a join).  Two aggregates on the digest; all-integer.
    """
    sizes = docs.select(F.sha2(F.col(text_col), 256).alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).alias("k")
    )
    return sizes.groupBy(F.col("k").cast("long").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )


def dedup_token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source token accounting BEFORE vs AFTER exact dedup — the
    "how much of this source is actually new data" table a curator reads
    next to `corpus_composition`.  A document survives iff it is the
    min-doc_id member of its byte-identical (md5) cluster, so the kept
    set is deterministic and the dropped token mass is attributed to the
    source that contributed the duplicate copy (not the survivor's).

    Plan: one scan computing (source, digest, n_tokens), one digest
    shuffle to pick survivors (the text column itself never shuffles —
    only 16-byte digests move), one broadcastable join back, one
    ≤|sources|-row aggregate.
    """
    t = F.col(text_col)
    toks = F.size(F.regexp_extract_all(F.lower(t), F.lit(TOKEN_RE), 0))
    base = docs.select(
        "doc_id", "source", F.md5(t).alias("h"), toks.alias("nt")
    )
    keep = base.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    return (
        base.join(keep, "h")
        .select(
            "source",
            "nt",
            (F.col("doc_id") == F.col("keep_id")).cast("long").alias("kept"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
            F.sum("kept").cast("long").alias("n_docs_kept"),
            F.sum(F.col("nt") * F.col("kept")).cast("long").alias("n_tokens_kept"),
            F.round(
                1.0 - F.sum(F.col("nt") * F.col("kept")) / F.sum("nt").cast("double"),
                6,
            ).alias("dup_token_frac"),
        )
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame, t_num: int = 7, t_den: int = 10
) -> DataFrame:
    """EXACT all-pairs Jaccard ≥ t_num/t_den by prefix filtering
    [AllPairs, Bayardo et al. WWW'07 / PPJoin, Xiao et al. WWW'08] —
    unlike `word_jaccard_pairs(max_df=...)`, nothing is dropped from the
    semantics: the threshold is part of the ALGORITHM, not the answer.

    Prefix principle: order each doc's token set by ascending document
    frequency (rarest first, token as tie-break) and keep only the first
    L = |S| - ceil(t·|S|) + 1 tokens.  Two sets with Jaccard ≥ t must
    share ≥1 PREFIX token (if they disagreed on all prefix tokens, the
    intersection is too small to clear t) — so the candidate join runs
    on the prefix table only, whose hottest key is by construction a
    LOW-frequency token: the frequency ordering is itself the skew
    defense, where the naive shares-any-token join explodes on
    stop-words.

    Verify ships each candidate pair its two token ARRAYS (collect_set
    per doc, joined to the candidate list — cost ∝ candidates, never
    all-pairs) and tests i·t_den ≥ t_num·(|A|+|B|-i) in INTEGER math;
    the prefix length uses ceil(a/b) = (a+b-1) div b — no float
    threshold anywhere, so the pair SET is bit-stable across engines.
    Returns (a, b, jac) with a < b, jac rounded for the gate.
    """
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(normalized_tokens())).alias("w")
    )
    dfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    ranked = tok.join(dfreq, "w").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.col("df").asc(), F.col("w").asc()
            )
        ),
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    # L = sz - ceil(t*sz) + 1, all-integer
    ceil_ts = (F.col("sz") * t_num + t_den - 1).cast("long") / t_den
    pref = (
        ranked.join(sizes, "doc_id")
        .where(F.col("rk") <= F.col("sz") - ceil_ts.cast("long") + 1)
        .select("doc_id", "w")
    )
    cand = (
        pref.select(F.col("doc_id").alias("a"), "w")
        .join(pref.select(F.col("doc_id").alias("b"), "w"), "w")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    setlists = tok.groupBy("doc_id").agg(F.collect_set("w").alias("ws"))
    verified = (
        cand.join(
            setlists.select(F.col("doc_id").alias("a"), F.col("ws").alias("wa")),
            "a",
        )
        .join(
            setlists.select(F.col("doc_id").alias("b"), F.col("ws").alias("wb")),
            "b",
        )
        .select(
            "a",
            "b",
            F.size(F.array_intersect("wa", "wb")).alias("i"),
            F.size("wa").alias("sza"),
            F.size("wb").alias("szb"),
        )
        .where(
            F.col("i") * t_den
            >= F.lit(t_num) * (F.col("sza") + F.col("szb") - F.col("i"))
        )
    )
    return verified.select(
        "a",
        "b",
        F.round(
            F.col("i") / (F.col("sza") + F.col("szb") - F.col("i")), 6
        ).alias("jac"),
    )


def simhash_portable_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs with hamming(portable 60-bit simhash) ≤ max_hamming,
    blocked on 15-bit chunks — the md5-family sibling of
    simhash_near_duplicates (which stays on the 64-bit xxhash kernel
    for production): 60 bits / 4 chunks ⟹ pigeonhole-exact recall for
    hamming ≤ 3, and every stage is mirrorable in SQL, so the PAIR SET
    itself is oracle-checkable cross-engine (consumed by the
    capture-recapture coverage estimator)."""
    sh = simhash_portable(docs)
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("simhash", 15 * c)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cv"),
    ).select(
        "doc_id",
        "simhash",
        F.col("cv.chunk").alias("chunk"),
        F.col("cv.val").alias("val"),
    )
    a = chunks.select(
        "chunk", "val", F.col("doc_id").alias("a"), F.col("simhash").alias("ha")
    )
    b = chunks.select(
        "chunk", "val", F.col("doc_id").alias("b"), F.col("simhash").alias("hb")
    )
    return (
        a.join(b, ["chunk", "val"])
        .where(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def chapman_estimate(pa: DataFrame, pb: DataFrame) -> DataFrame:
    """Chapman capture-recapture estimate of a pair population from two
    detector outputs (each (a, b) keyed): N̂ = (n_a+1)(n_b+1)/(m+1) − 1
    with each detector's implied coverage — the "how many duplicates
    are we missing" answer no detector can give about itself.  Valid
    under independent capture; when one detector's pairs NEST inside
    the other's (m = min(n_a, n_b) — e.g. a strict Hamming cut inside a
    loose Jaccard cut), the estimate honestly collapses to the larger
    list and the nested detector's coverage reads m/N̂.  Three bounded
    scalar aggregates + one semi-join; nothing corpus-scale moves.
    """
    na = pa.agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    nb = pb.agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    m = pa.join(pb, ["a", "b"], "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("n_both")
    )
    est = (
        (F.col("n_a") + 1) * (F.col("n_b") + 1)
        / (F.col("n_both") + 1).cast("double")
        - 1.0
    )
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(m))
        .select(
            "n_a",
            "n_b",
            "n_both",
            F.round(est, 6).alias("n_est"),
            F.round(F.col("n_a") / est, 6).alias("coverage_a"),
            F.round(F.col("n_b") / est, 6).alias("coverage_b"),
        )
    )
