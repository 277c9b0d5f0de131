"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k (JVM-side zip_with/aggregate — the exactness
baseline and the DuckDB-oracle path) and an LSH-bucketed approximate
variant (random-hyperplane signatures) as the scale path: at 100 TB the
bucketed join touches only colliding candidates instead of n·q pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors of one stored vector by cosine similarity.

    (vec_id, sim) — ties broken by vec_id; Spark plans TakeOrderedAndProject
    (distributed heap), no full sort.  Vectors upcast to double so the
    reduction matches the float64 oracle.
    """
    emb = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    q = emb.where(F.col("vec_id") == query_id).select(F.col("v").alias("qv"))
    sims = emb.where(F.col("vec_id") != query_id).crossJoin(F.broadcast(q))
    return (
        sims.select(
            "vec_id",
            F.round(_dot(F.col("v"), F.col("qv")) / (_norm(F.col("v")) * _norm(F.col("qv"))), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def brute_force_knn(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs exact knn for a (small, broadcastable) query set.

    (query_id, vec_id, sim, rank≤k).  The corpus side streams; only the
    query side is broadcast — the correct asymmetric shape at scale.
    """
    from pyspark.sql import Window

    emb = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    qs = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    pairs = emb.crossJoin(F.broadcast(qs)).where(F.col("vec_id") != F.col("query_id"))
    sims = pairs.select(
        "query_id",
        "vec_id",
        (_dot(F.col("v"), F.col("qv")) / (_norm(F.col("v")) * _norm(F.col("qv")))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return sims.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def hyperplane_lsh_buckets(
    embeddings: DataFrame,
    num_planes: int = 16,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane signature: bucket = sign-bit pattern of `num_planes`
    projections (deterministic seed).  Arrow-batched numpy matmul kernel.

    Returns (vec_id, bucket:int).  Cosine-close vectors collide with
    probability (1 - theta/pi)^planes.
    """
    import pyarrow as pa

    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, num_planes)).astype(np.float64)

    def kernel(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            col = batch.column(1)
            # zero-copy: flatten the list<double> values buffer and reshape
            # (.flatten() respects array slicing offsets; .to_pylist() would
            # row-convert every vector through Python objects)
            flat = col.flatten().to_numpy(zero_copy_only=False)
            if flat.size == batch.num_rows * dim:
                mat = flat.reshape(batch.num_rows, dim)
            else:  # ragged rows (malformed input) — slow path
                mat = np.asarray(col.to_pylist(), dtype=np.float64)
            proj = mat @ planes  # (rows, planes)
            bits = (proj > 0).astype(np.int64)
            bucket = (bits * (1 << np.arange(num_planes, dtype=np.int64))).sum(axis=1)
            yield pa.RecordBatch.from_pydict(
                {"vec_id": pa.array(ids, pa.int64()), "bucket": pa.array(bucket, pa.int64())}
            )

    src = embeddings.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    return src.mapInArrow(kernel, "vec_id long, bucket long")


from dataclasses import dataclass


@dataclass
class LshIndex:
    """Prebuilt bucket table + the hashing parameters that define it.

    Carrying (num_planes, dim, seed) in the index makes the serving path
    self-describing: lsh_knn probes with the index's own geometry instead
    of trusting the caller to repeat it, and never runs a driver action
    (`.first()` dim sniffing) at query time."""

    buckets: DataFrame
    num_planes: int
    dim: int
    seed: int

    def unpersist(self):
        self.buckets.unpersist()


def build_lsh_index(
    embeddings: DataFrame,
    num_planes: int = 12,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> LshIndex:
    """Precompute-and-persist the corpus bucket table — the serving path.

    One corpus scan builds (vec_id, bucket); every subsequent lsh_knn call
    passes the returned LshIndex via `buckets=` and touches only the probed
    buckets, instead of re-hashing the full corpus per query (the demo-path
    anti-pattern at scale).  On a cluster this table is written once to
    storage bucketed on `bucket`; here a persisted DataFrame plays that
    role.  dim is resolved ONCE here (a single-row driver action is fine at
    build time) and recorded in the index so serving never repeats it."""
    from pyspark.storagelevel import StorageLevel

    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    idx = hyperplane_lsh_buckets(
        embeddings, num_planes, dim=dim, seed=seed, id_col=id_col, vec_col=vec_col
    ).persist(StorageLevel.MEMORY_AND_DISK)
    idx.count()
    return LshIndex(buckets=idx, num_planes=num_planes, dim=dim, seed=seed)


def lsh_knn(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    num_planes: int = 12,
    multi_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    buckets: "LshIndex | DataFrame | None" = None,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine within the query's LSH bucket(s).

    multi_probe=1 additionally probes every bucket at Hamming distance 1
    from the query's signature (flip each of the `num_planes` sign bits) —
    near neighbors that fall just across one hyperplane are recovered,
    which is the dominant recall loss of single-bucket LSH at scale.

    buckets: a prebuilt LshIndex from build_lsh_index — the serving path:
    num_planes comes from the index's own metadata (the caller's kwarg is
    ignored, so a stale kwarg can't mis-probe) and NO driver action runs in
    this call.  A bare bucket DataFrame is accepted for back-compat (caller
    owns parameter consistency).  Without buckets the corpus is re-hashed
    per call — fine for a one-off, wrong for serving; pass `dim` to avoid
    the `.first()` sniff on that path too.
    """
    if isinstance(buckets, LshIndex):
        num_planes = buckets.num_planes
        buckets = buckets.buckets
    elif buckets is None:
        buckets = hyperplane_lsh_buckets(
            embeddings, num_planes, dim=dim, id_col=id_col, vec_col=vec_col
        )
    qb = buckets.where(F.col("vec_id") == query_id).select(F.col("bucket"))
    if multi_probe >= 1:
        qb = qb.select(
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << i))
                        for i in range(num_planes)
                    ],
                )
            ).alias("bucket")
        ).distinct()
    cand = buckets.join(F.broadcast(qb), "bucket", "left_semi").select("vec_id")
    sub = embeddings.join(
        cand.withColumnRenamed("vec_id", id_col), id_col, "left_semi"
    )
    # query vector must be present in the subset (same bucket by definition)
    return cosine_topk(sub, query_id, k, id_col=id_col, vec_col=vec_col)


@dataclass
class IvfIndex:
    """IVF (inverted-file) coarse-quantizer index: spherical k-means
    centroids plus a corpus→centroid assignment table.

    `centroids` is a (k, dim) float64 numpy matrix, unit-normalized rows.
    It lives on the driver and is closed over into the probe kernels —
    k·dim doubles (a 4096×768 book is 25 MB) broadcast once per job, the
    same posture as a Spark broadcast dim table.  `assignments` is the
    distributed (vec_id, centroid_id) table, persisted and repartitioned
    on centroid_id so a probe's semi-join touches only the probed
    partitions; at 100 TB this table is written to storage partitioned by
    centroid_id and the probe is a partition-pruned scan."""

    assignments: DataFrame
    centroids: "np.ndarray"
    dim: int
    seed: int

    def unpersist(self):
        self.assignments.unpersist()


def _ivf_assign(embeddings, centroids, dim, id_col, vec_col):
    """Distributed assignment: (vec_id, centroid_id, one partial row of the
    update statistics).  Arrow-batched matmul against the closed-over
    centroid book; argmax ties break to the lowest centroid id
    (np.argmax) so assignment is deterministic."""
    import pyarrow as pa

    cent = centroids  # capture by value

    def kernel(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            col = batch.column(1)
            flat = col.flatten().to_numpy(zero_copy_only=False)
            if flat.size == batch.num_rows * dim:
                mat = flat.reshape(batch.num_rows, dim)
            else:
                mat = np.asarray(col.to_pylist(), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0.0] = 1.0
            unit = mat / norms[:, None]
            assign = np.argmax(unit @ cent.T, axis=1).astype(np.int64)
            yield pa.RecordBatch.from_pydict(
                {"vec_id": pa.array(ids, pa.int64()),
                 "centroid_id": pa.array(assign, pa.int64())}
            )

    src = embeddings.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    return src.mapInArrow(kernel, "vec_id long, centroid_id long")


def build_ivf_index(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfIndex:
    """Train a spherical-k-means coarse quantizer and materialize the
    inverted file (vec_id → centroid_id).

    Fully deterministic: init picks the n_centroids rows with the smallest
    xxhash64(vec_id, seed) (a seeded shuffle-free reservoir), Lloyd
    assignment breaks ties to the lowest centroid id, and the update step
    is an exact elementwise mean.  Each Lloyd iteration is ONE distributed
    job: the Arrow kernel computes per-partition partial sums per centroid
    (≤ k rows per partition), and the k×P partial rows — bounded, never
    O(N) — are reduced on the driver.  Empty clusters keep their previous
    centroid (no re-seeding jitter).
    """
    import pyarrow as pa

    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])

    src = embeddings.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )

    seed_rows = (
        src.withColumn("h", F.xxhash64(F.col("vec_id"), F.lit(seed)))
        .orderBy("h")
        .limit(n_centroids)
        .select("v")
        .collect()
    )
    cent = np.asarray([r["v"] for r in seed_rows], dtype=np.float64)
    norms = np.linalg.norm(cent, axis=1)
    norms[norms == 0.0] = 1.0
    cent = cent / norms[:, None]
    k = cent.shape[0]

    for _ in range(max(0, iters)):
        c = cent  # capture current book by value

        def partials(batches):
            sums = np.zeros((k, dim), dtype=np.float64)
            counts = np.zeros(k, dtype=np.int64)
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                col = batch.column(1)
                flat = col.flatten().to_numpy(zero_copy_only=False)
                if flat.size == batch.num_rows * dim:
                    mat = flat.reshape(batch.num_rows, dim)
                else:
                    mat = np.asarray(col.to_pylist(), dtype=np.float64)
                nr = np.linalg.norm(mat, axis=1)
                nr[nr == 0.0] = 1.0
                unit = mat / nr[:, None]
                assign = np.argmax(unit @ c.T, axis=1)
                np.add.at(sums, assign, unit)
                np.add.at(counts, assign, 1)
            live = np.nonzero(counts)[0]
            yield pa.RecordBatch.from_pydict(
                {
                    "centroid_id": pa.array(live, pa.int64()),
                    "count": pa.array(counts[live], pa.int64()),
                    "vsum": pa.array([sums[i].tolist() for i in live],
                                     pa.list_(pa.float64())),
                }
            )

        rows = src.mapInArrow(
            partials, "centroid_id long, count long, vsum array<double>"
        ).collect()  # ≤ k rows per partition — bounded driver reduce
        sums = np.zeros((k, dim), dtype=np.float64)
        counts = np.zeros(k, dtype=np.int64)
        for r in rows:
            sums[r["centroid_id"]] += np.asarray(r["vsum"])
            counts[r["centroid_id"]] += r["count"]
        nxt = cent.copy()  # empty clusters keep their previous centroid
        live = counts > 0
        nxt[live] = sums[live] / counts[live, None]
        nr = np.linalg.norm(nxt, axis=1)
        nr[nr == 0.0] = 1.0
        cent = nxt / nr[:, None]

    from pyspark.storagelevel import StorageLevel

    assign = (
        _ivf_assign(embeddings, cent, dim, id_col, vec_col)
        .repartition(F.col("centroid_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    assign.count()
    return IvfIndex(assignments=assign, centroids=cent, dim=dim, seed=seed)


def ivf_knn(
    embeddings: DataFrame,
    query_id: int,
    index: IvfIndex,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via the IVF index: exact cosine within the
    `nprobe` nearest centroid cells of the query's own vector.

    No driver action at serving time: the query's probe list is computed
    by a 1-row Arrow kernel against the index's centroid book, broadcast
    into a semi-join on the assignment table, and the surviving candidate
    subset reranked by the exact `cosine_topk` path (so sims match the
    brute-force oracle digit-for-digit on whatever it returns).  With
    nprobe ≥ k_centroids every cell is probed and the result is exactly
    brute force — the correctness gate the driver checks.
    """
    import pyarrow as pa

    cent, dim = index.centroids, index.dim
    nprobe = min(nprobe, cent.shape[0])

    def probe(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            col = batch.column(0)
            flat = col.flatten().to_numpy(zero_copy_only=False)
            mat = (
                flat.reshape(batch.num_rows, dim)
                if flat.size == batch.num_rows * dim
                else np.asarray(col.to_pylist(), dtype=np.float64)
            )
            nr = np.linalg.norm(mat, axis=1)
            nr[nr == 0.0] = 1.0
            sims = (mat / nr[:, None]) @ cent.T
            # top-nprobe per query row, deterministic: (-sim, centroid_id)
            ids: set = set()
            for row in sims:
                order = np.lexsort((np.arange(cent.shape[0]), -row))
                ids.update(int(c) for c in order[:nprobe])
            yield pa.RecordBatch.from_pydict(
                {"centroid_id": pa.array(sorted(ids), pa.int64())}
            )

    qv = embeddings.where(F.col(id_col) == query_id).select(
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")
    )
    probes = qv.mapInArrow(probe, "centroid_id long")
    cand = index.assignments.join(
        F.broadcast(probes), "centroid_id", "left_semi"
    ).select("vec_id")
    sub = embeddings.join(
        cand.withColumnRenamed("vec_id", id_col), id_col, "left_semi"
    )
    return cosine_topk(sub, query_id, k, id_col=id_col, vec_col=vec_col)


def embedding_label_stats(vecs: DataFrame, round_to: int = 6) -> DataFrame:
    """Per-label embedding-cluster diagnostics: (label, n_vecs,
    centroid_norm, mean_cos) where centroid is the per-dimension mean
    vector and mean_cos the average cosine of members to their own
    centroid — the cohesion/drift report a training-data pipeline runs
    over labeled (or clustered) embedding shards: collapsing mean_cos
    flags label noise, a shrinking centroid_norm flags mode spread.

    Scale shape: posexplode ships (id, label, pos, val) — one row per
    dimension, d·|corpus| narrow rows; the centroid is a (label, pos)
    aggregate → a d·|labels| CENTROID BOOK that is broadcast-joined back
    (the IVF path's centroid-book bound, ~25 MB at 10^5 labels × 64
    dims); per-vector dot/norms are one aggregate over the joined rows,
    the label roll-up a second ≤|labels|-row aggregate.  Means of float
    sums are absorbed by round-6 (one division each).
    """
    flat = vecs.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "val")
    )
    cent = flat.groupBy("label", "pos").agg(F.avg("val").alias("cval"))
    joined = flat.join(F.broadcast(cent), ["label", "pos"])
    per_vec = joined.groupBy("vec_id", "label").agg(
        F.sum(F.col("val") * F.col("cval")).alias("dot"),
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("vn"),
        F.sqrt(F.sum(F.col("cval") * F.col("cval"))).alias("cn"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(F.max("cn"), round_to).alias("centroid_norm"),
            F.round(
                F.avg(F.col("dot") / (F.col("vn") * F.col("cn"))), round_to
            ).alias("mean_cos"),
        )
        .select(
            F.col("label").cast("long").alias("label"),
            "n_vecs",
            "centroid_norm",
            "mean_cos",
        )
    )


def centroid_distances(vecs: DataFrame, round_to: int = 6) -> DataFrame:
    """Pairwise cosine between per-label embedding centroids:
    (label_a, label_b, cos) with label_a < label_b — the class-collision
    matrix read next to `embedding_label_stats` (two centroids at
    cos ≈ 1 mean the labels are semantically indistinguishable at this
    embedding; the pair to merge or re-audit first).

    The centroid book is the only aggregate (d·|labels| rows); the pair
    matrix is a self-join of the book on the dimension key — C(L,2)·d
    rows through one SUM — tiny at any real label count.
    """
    flat = vecs.select("label", F.posexplode("embedding").alias("pos", "val"))
    cent = flat.groupBy("label", "pos").agg(F.avg("val").alias("c")).persist()
    norms = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("n")
    )
    a = cent.select(F.col("label").alias("la"), "pos", F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("lb"), "pos", F.col("c").alias("cb"))
    dots = (
        a.join(b, "pos")
        .where(F.col("la") < F.col("lb"))
        .groupBy("la", "lb")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select(F.col("label").alias("la"), F.col("n").alias("na"))
    nb = norms.select(F.col("label").alias("lb"), F.col("n").alias("nb"))
    out = (
        dots.join(na, "la")
        .join(nb, "lb")
        .select(
            F.col("la").cast("long").alias("label_a"),
            F.col("lb").cast("long").alias("label_b"),
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), round_to).alias("cos"),
        )
    )
    out = out.localCheckpoint(eager=True)
    cent.unpersist()
    return out


def embedding_top_pc(
    vecs: DataFrame, iters: int = 24, round_to: int = 6
) -> DataFrame:
    """Top principal component of the embedding corpus: (dim_i, loading,
    evr) — the dominant covariance eigenvector by fixed-budget power
    iteration plus its explained-variance ratio.  This is the
    all-but-the-top (ABTT, Mu & Viswanath ICLR'18) readout: a large evr
    says the corpus rides one anisotropic direction that cosine
    similarity should strip before dedup/ANN.

    Scale shape: ONE mapInPandas pass accumulates per-partition moments
    (n, Σx, Σxxᵀ) — the driver reduce is P·(d²+d+1) doubles (the IVF
    ≤k·P precedent; 32 KB per partition at d=64), never the n·d² row
    blowup of a relational self-join on the dimension key.  The 64×64
    eigen-solve is driver math by construction.  Power iteration runs a
    FIXED `iters` budget with deferred normalization (normalize once at
    the end), so the DuckDB oracle's recursive CTE reproduces the same
    arithmetic; round-6 absorbs summation-order noise, and `+0.0` after
    the round canonicalizes -0.0 loadings on both engines.
    """
    import numpy as np
    import pandas as pd

    spark = vecs.sparkSession

    def moments(batches):
        n = 0
        s = None
        m = None
        for pdf in batches:
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            n += X.shape[0]
            s = X.sum(axis=0) if s is None else s + X.sum(axis=0)
            m = X.T @ X if m is None else m + X.T @ X
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "m": [m.reshape(-1).tolist()]}
            )

    parts = vecs.select("embedding").mapInPandas(
        moments, "n long, s array<double>, m array<double>"
    ).collect()  # bounded: P rows of (1 + d + d^2) doubles
    if not parts:
        return spark.createDataFrame(
            [], "dim_i long, loading double, evr double"
        )
    n = sum(r["n"] for r in parts)
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    d = s.shape[0]
    M = np.sum([np.asarray(r["m"]).reshape(d, d) for r in parts], axis=0)
    mu = s / n
    C = M / n - np.outer(mu, mu)
    v = np.full(d, 1.0 / d)
    for _ in range(iters):
        v = C @ v  # deferred normalization: direction is all that matters
    v = v / np.sqrt(v @ v)
    lam = float(v @ (C @ v))
    evr = round(lam / float(np.trace(C)), round_to) + 0.0
    rows = [
        (int(i), round(float(v[i]), round_to) + 0.0, evr) for i in range(d)
    ]
    return spark.createDataFrame(rows, "dim_i long, loading double, evr double")


def mutual_top1(
    embeddings: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Mutual nearest-neighbor pairs within blocks: (id_a, id_b, sim)
    where each vector is the other's top-1 cosine neighbor inside their
    shared block, id_a < id_b.

    Mutual top-1 is the standard high-precision pair miner (bitext
    mining, near-dup canonicalization): mutuality filters the asymmetric
    hubness errors a one-directional kNN keeps.  Blocking on `block_col`
    is the scale story — the all-pairs join is quadratic per block, never
    corpus-quadratic; at 100 TB the block key is an LSH bucket or IVF
    centroid (the prebuilt indexes in this module) instead of a label.

    Argmax determinism: similarities are rounded BEFORE the top-1 window
    (ties then break by neighbor id), so engines whose float sums differ
    at 1e-15 still pick the same neighbor.
    """
    from pyspark.sql import Window

    emb = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    a, b = emb.alias("a"), emb.alias("b")
    sims = (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") != F.col("b.id")))
        .select(
            F.col("a.blk").alias("blk"),
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                _dot(F.col("a.v"), F.col("b.v"))
                / (_norm(F.col("a.v")) * _norm(F.col("b.v"))),
                round_to,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("blk", "id_a").orderBy(F.desc("sim"), F.asc("id_b"))
    nn = (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("id_a", "id_b", "sim")
    )
    x, y = nn.alias("x"), nn.alias("y")
    return (
        x.join(
            y,
            (F.col("x.id_a") == F.col("y.id_b"))
            & (F.col("x.id_b") == F.col("y.id_a"))
            & (F.col("x.id_a") < F.col("x.id_b")),
        )
        .select(
            F.col("x.id_a").cast("long").alias("id_a"),
            F.col("x.id_b").cast("long").alias("id_b"),
            F.col("x.sim").alias("sim"),
        )
    )
