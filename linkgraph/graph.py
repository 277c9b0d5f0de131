"""LinkGraph — the distributed edge-table graph (the engine's CSR analog).

The reference holds a CSR in shared memory; our analog (SURVEY.md §1.2/§4.3)
is a symmetric, deduped, self-loop-free edge DataFrame hash-partitioned on
`src` and persisted.  Every iterative kernel joins the (small) frontier
against this table, so only the frontier side shuffles per iteration —
the Spark equivalent of "CSR resident in memory".
"""

from __future__ import annotations

import os
import posixpath

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


_SIZE_SUFFIX = {
    "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}


def parse_bytes(size: str | int) -> int:
    """Parse Spark byte-size conf strings ('10485760b', '32MB', '10m', '-1')."""
    if isinstance(size, int):
        return size
    s = str(size).strip().lower()
    for suf in sorted(_SIZE_SUFFIX, key=len, reverse=True):
        if s.endswith(suf):
            return int(float(s[: -len(suf)]) * _SIZE_SUFFIX[suf])
    return int(s)


def fits_broadcast(df: DataFrame, rows: int) -> bool:
    """The one broadcast gate (J1): True iff `rows` rows of `df`, at
    16 bytes a row plus 12 a column, are under the session's
    spark.sql.autoBroadcastJoinThreshold (-1 or 0: never)."""
    thresh = parse_bytes(
        df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10m")
    )
    return 0 < thresh and rows * (16 + 12 * len(df.columns)) < thresh


def edge_store_root(spark) -> str:
    """Root directory for edge-table materialization stores.

    Resolution order: `spark.linkgraph.store.root` conf > LINKGRAPH_STORE_ROOT
    env > driver tempdir (local[*] masters ONLY).  On a multi-executor
    cluster a driver-tempdir default is wrong twice over — with a local-FS
    defaultFS, executor-written files are not readable back by other
    executors; with an HDFS/object-store defaultFS the data lands remotely
    but a driver-local cleanup silently no-ops, leaking a store per graph —
    so a shared-storage root (s3a://, hdfs://) is required there, mirroring
    the `emit_distances` guard in msbfs.py.  Cleanup goes through the
    Hadoop FileSystem API (see LinkGraph.unpersist), never shutil."""
    root = spark.conf.get("spark.linkgraph.store.root", None) or os.environ.get(
        "LINKGRAPH_STORE_ROOT"
    )
    if root:
        return root
    master = spark.conf.get("spark.master", "local")
    if not master.startswith("local"):
        raise ValueError(
            "edge-table materialization on a multi-executor cluster needs a "
            "shared-storage store root: set spark.linkgraph.store.root (or "
            "LINKGRAPH_STORE_ROOT) to e.g. s3a://bucket/linkgraph-store — "
            "the driver-tempdir default is driver-local and either unreadable "
            "or uncleanable cluster-wide"
        )
    import tempfile

    return tempfile.gettempdir()


def _dense_ids(deg: DataFrame) -> tuple[DataFrame, int]:
    """Dense 0..n-1 ids in (deg desc, name asc) order WITHOUT a global
    single-partition window (SURVEY.md S2/O1).

    zipWithIndex-style two-phase ranking: range-repartition on the order
    key (range k < range k+1 for every row), rank within each partition,
    then add per-partition offsets (one tiny driver-side count per
    partition).  The only global step is the range sampler — no stage ever
    sorts all n rows on one task, which is what the naive
    Window.orderBy(...) relabel does at 10^9 vertices.
    (deg, name) is a strict total order (names unique), so ids are
    deterministic regardless of partition boundaries.

    Returns (dict DataFrame persisted+materialized, n) — n is free (sum of
    the per-partition counts) and drives the byte-gated relabel join."""
    spark = deg.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = deg.repartitionByRange(
        p, F.col("deg").desc(), F.col("name").asc()
    ).withColumn("pid", F.spark_partition_id())
    parts = parts.persist(StorageLevel.MEMORY_AND_DISK)
    counts = {r["pid"]: r["n"] for r in parts.groupBy("pid").agg(F.count("*").alias("n")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = F.broadcast(
        spark.createDataFrame(
            [(int(k), int(v)) for k, v in offsets.items()], "pid int, off long"
        )
    )
    w = Window.partitionBy("pid").orderBy(F.col("deg").desc(), F.col("name").asc())
    out = (
        parts.withColumn("lr", F.row_number().over(w))
        .join(off_df, "pid")
        .select("name", (F.col("lr") - 1 + F.col("off")).cast("long").alias("vid"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out.count()  # materialize the dict from the cached parts, then drop them
    parts.unpersist()  # don't leak a |V|-row cached block per graph build
    return out, acc


def relabel_pairs(
    pairs: DataFrame, vertices: DataFrame, src_col: str, dst_col: str,
    n_vertices: int | None = None,
) -> DataFrame:
    """Dictionary-relabel join (S2): map (src_col, dst_col) string keys to
    dense vids via the `vertices` (name, vid) dict.

    The dict is broadcast only when `fits_broadcast` passes it; otherwise a
    plain shuffled equi-join (the pairs table is shuffling anyway, and at
    10^9 vertices a |V|-row dictionary broadcast OOMs every executor)."""
    v = vertices.select("name", "vid")
    if n_vertices is not None and fits_broadcast(v, n_vertices):
        v = F.broadcast(v)
    return (
        pairs.join(v.withColumnRenamed("name", src_col).withColumnRenamed("vid", "src"), src_col)
        .join(v.withColumnRenamed("name", dst_col).withColumnRenamed("vid", "dst"), dst_col)
        .select("src", "dst")
    )


class LinkGraph:
    def __init__(
        self,
        edges: DataFrame,
        num_partitions: int | None = None,
        persist: bool = True,
        materialize: bool | None = None,
        symmetric: bool = False,
        shape: bool = True,
    ):
        """edges: directed (src:long, dst:long); use from_undirected for
        symmetric closure.  Partitioned by src so frontier-expand joins are
        co-located (SURVEY.md J1).

        materialize: True forces the parquet round-trip, False skips it,
        None (default) decides from the logical plan shape.

        symmetric: declares that the edge table is its own transpose (set by
        from_undirected).  Iterative kernels (PageRank/CC/LPA) use this to
        know whether sink-only vertices can exist — on a directed table,
        vertices() unions both endpoints so sinks are not dropped.

        Materialization = parquet round-trip + partitioned cache, for three
        measured reasons: (1) derivation plans can embed LocalRelations /
        deep self-join trees, and every downstream action re-canonicalizes
        the full logical plan even on a cache hit — O(seconds) of driver
        time per iteration; the round-trip truncates the plan to a parquet
        scan.  (2) localCheckpoint (the obvious alternative) yields `Scan
        ExistingRDD`, which deserializes row objects OUTSIDE whole-stage
        codegen — measured 4-8x slower per scan than the columnar cache and
        anti-scaling with cores.  (3) a plain parquet scan has UNKNOWN
        outputPartitioning, so every frontier-expand join re-shuffles the
        FULL edge table each iteration (measured: `Exchange
        hashpartitioning(src)` over the FileScan inside every PR/CC/LPA/
        MS-BFS iteration — at 589M edges that is ~10GB of shuffle per
        iteration doing no work).  Caching the repartitioned table
        preserves HashPartitioning(src, p), so EnsureRequirements drops the
        edge-side exchange and only the per-iteration messages shuffle —
        the Spark analog of "CSR resident in memory".  On a cluster the
        same role is played by an Iceberg table bucketed on src + a
        storage-partitioned join, which is exactly what this emulates.
        """
        spark = edges.sparkSession
        self.symmetric = symmetric
        self._salted = None
        self._salt_checked = False
        self._store = None
        self._vertex_dict = None
        self._edge_partitions = None
        if not shape:
            # shape=False: the caller vouches the input already carries the
            # src co-location (a BUCKETED table scan reports
            # HashPartitioning(src) natively) — re-repartitioning would add
            # back the very Exchange the bucketed store amortized away.
            self.edges = (
                edges.persist(StorageLevel.MEMORY_AND_DISK) if persist else edges
            )
            self._degrees = None
            self._vertices = None
            self._num_vertices = None
            self._num_edges = None
            self._max_vid = None
            return
        p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
        self._edge_partitions = p
        if persist:
            if materialize is None:
                # round-trip only when the input is a real derivation; a bare
                # file scan already has a tiny canonical plan.  Plan-string
                # introspection is a heuristic fallback — callers that know
                # should pass materialize= explicitly.
                try:
                    plan = edges._jdf.queryExecution().analyzed().toString()
                except Py4JError:
                    plan = "Join"  # be conservative: round-trip
                materialize = any(
                    k in plan
                    for k in ("Join", "Aggregate", "Window", "LocalRelation", "Union")
                )
            if materialize:
                import uuid

                # store root resolves conf/env/local-tempdir (edge_store_root);
                # write + eventual cleanup both go through scheme-resolved
                # FS APIs so file://, hdfs:// and s3a:// roots all behave
                self._store = posixpath.join(
                    edge_store_root(spark), f"linkgraph_edges_{uuid.uuid4().hex}"
                )
                # write the RAW derivation output: the read-back below
                # repartitions+sorts into the cache anyway, so pre-shaping
                # the store paid a second full |E| shuffle + sort per
                # build for nothing (r6 profile) — the store only exists
                # to truncate the logical plan to a parquet scan
                edges.write.parquet(self._store)
                src = spark.read.parquet(self._store)
            else:
                # already a bare file scan (e.g. a pre-shaped edge table
                # written by an earlier LinkGraph) — reshape into the
                # partitioned cache directly
                src = edges
            # partitioned columnar cache: MEMORY_AND_DISK spills serialized
            # columnar batches gracefully when the graph outgrows the
            # storage fraction; either way the partitioning survives.  The
            # sort matters too: a sort-merge expand join would otherwise
            # re-sort all |E| rows EVERY iteration (the cache preserves
            # outputOrdering, so SMJ only sorts the message side).
            self.edges = (
                src.repartition(p, "src")
                .sortWithinPartitions("src", "dst")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        else:
            self.edges = edges.repartition(p, "src").sortWithinPartitions(
                "src", "dst"
            )
        self._degrees = None
        self._vertices = None
        self._num_vertices = None
        self._num_edges = None
        self._max_vid = None

    # ------------------------------------------------------------ constructors
    @classmethod
    def from_undirected(cls, pairs: DataFrame, distinct: bool = True, **kw) -> "LinkGraph":
        """pairs (src,dst) in any orientation -> symmetric, deduped, no loops.

        distinct=False skips the dedup shuffle — pass it when `pairs` is
        already a strict canonical pair set (each undirected edge exactly
        once, e.g. a `src < dst` derivation output): closing such a set
        cannot create duplicates, and the extra |E| exchange was measured
        as the single most expensive redundant stage in the bench's build
        phase.

        The closure emits both orientations from ONE scan (explode of a
        two-struct array) instead of union(pairs, reverse(pairs)): the
        union form evaluates `pairs` twice, and in the relabel build path
        `pairs` is an UNCACHED join chain — the double evaluation re-ran
        the dictionary joins per branch (measured in the r6 build_zipf
        stage profile as a 64-task double scan)."""
        sym = pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("e")
        ).select("e.src", "e.dst")
        kw.setdefault("symmetric", True)
        sym = sym.where(F.col("src") != F.col("dst"))
        if distinct:
            sym = sym.distinct()
        return cls(sym, **kw)

    @classmethod
    def from_string_vertices(
        cls, pairs: DataFrame, src_col: str, dst_col: str,
        pairs_canonical: bool = False, **kw
    ):
        """Dictionary-relabel string vertex ids to dense 0..n-1 (SURVEY S2).

        Degree-descending order (O1): hubs get small vids, improving batch
        bit-sharing and co-location.  Returns (graph, vertices-dict DF).

        pairs_canonical=True declares `pairs` is a strict canonical
        undirected pair set (each edge once, no loops) so the symmetric
        closure can skip its dedup shuffle (see from_undirected).
        """
        # pairs is typically an expensive derivation (self-join distinct);
        # it is consumed 3x below (degree count, two relabel joins) — persist.
        pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
        occ = pairs.select(F.col(src_col).alias("name")).union(
            pairs.select(F.col(dst_col).alias("name"))
        )
        deg = occ.groupBy("name").agg(F.count("*").alias("deg"))
        vertices, n = _dense_ids(deg)
        relabeled = relabel_pairs(pairs, vertices, src_col, dst_col, n_vertices=n)
        g = cls.from_undirected(relabeled, distinct=not pairs_canonical, **kw)
        g.edges.count()  # materialize before releasing the pairs cache
        pairs.unpersist()
        g._vertex_dict = vertices  # released by g.unpersist()
        return g, vertices.select("vid", "name")

    def store_bucketed(
        self, table: str, buckets: int | None = None, path: str | None = None
    ) -> None:
        """Persist the shaped edge table as a BUCKETED+sorted table — the
        cross-job amortization of the in-session partitioned cache: the
        write pays the src shuffle ONCE, and every later session reloads
        the graph join-ready via from_bucketed (the scan itself reports
        HashPartitioning(src), so expand joins shuffle only the message
        side — the Iceberg analog is a bucket partition transform)."""
        from linkgraph.tableio import write_bucketed

        spark = self.spark
        if buckets is None:
            buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        write_bucketed(
            self.edges.select("src", "dst"),
            table,
            "src",
            buckets,
            path=path,
            sort=["src", "dst"],
        )

    @classmethod
    def from_bucketed(
        cls,
        spark,
        table: str,
        symmetric: bool = True,
        persist: bool = True,
        path: str | None = None,
        buckets: int | None = None,
    ) -> "LinkGraph":
        """Reload a graph persisted by store_bucketed with ZERO reshaping:
        shape=False skips the repartition (the bucketed scan already
        reports HashPartitioning(src); re-repartitioning would add the
        Exchange back) and the persisted cache preserves that partitioning
        for every iteration.

        path/buckets: bucket METADATA lives in the session catalog, which
        is durable on a cluster (Hive/Iceberg metastore) but in-memory by
        default locally — if the table identifier is gone but the bucketed
        files survive, passing (path, buckets) re-registers the DDL over
        them (bucket ids are encoded in the file names, so the re-created
        table reads bucketed exactly as written)."""
        from pyspark.errors import AnalysisException

        try:
            df = spark.table(table)
        except AnalysisException:
            if path is None or buckets is None:
                raise
            spark.sql(
                f"CREATE TABLE {table} (src BIGINT, dst BIGINT) USING parquet "
                f"CLUSTERED BY (src) SORTED BY (src, dst) INTO {buckets} BUCKETS "
                f"LOCATION '{path}'"
            )
            df = spark.table(table)
        return cls(
            df.select("src", "dst"),
            symmetric=symmetric,
            persist=persist,
            shape=False,
        )

    # ---------------------------------------------------------------- accessors
    @property
    def spark(self):
        return self.edges.sparkSession

    def edge_partitions(self) -> int:
        """The edge cache's partition count, fixed at build: the unit of an
        edge share, whatever ``spark.sql.shuffle.partitions`` reads when
        asked (inside a `fixpoint` loop it is the loop's own count)."""
        if self._edge_partitions is None:
            self._edge_partitions = self.edges._jdf.rdd().getNumPartitions()
        return self._edge_partitions

    def vertices(self) -> DataFrame:
        """All vertex ids.  On a symmetric table every vertex has out-edges,
        so the cached degree table doubles as the vertex set (no extra
        distinct job); on a directed table the dst side is unioned in so
        sink-only vertices are not silently dropped (they are PageRank's
        dangling set and must appear in CC/LPA output) — cached, since
        num_vertices() and kernel seeding both consume it."""
        if self.symmetric:
            return self.degrees().select("vid")
        if self._vertices is None:
            src = self.edges.select(F.col("src").alias("vid"))
            self._vertices = (
                src.union(self.edges.select(F.col("dst").alias("vid")))
                .distinct()
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        return self._vertices

    # ------------------------------------------------- join-strategy dispatch
    def enable_salting(self, hub_threshold: int | None = None, s: int = 8):
        """Pre-salt hub sources for the shuffle-join path (SURVEY.md J2).

        hub_threshold defaults to the p99.99 out-degree (approxQuantile —
        a sketch scan, not an exact sort, per SURVEY A8).  No-op if no
        vertex exceeds it."""
        from linkgraph.operators.skew import SaltedEdges

        if hub_threshold is None:
            q = self.degrees().approxQuantile("deg", [0.9999], 0.001)[0]
            hub_threshold = max(int(q), 1)
        self._salted = SaltedEdges(self, hub_threshold, s=s)
        return self._salted

    def maybe_auto_salt(self, factor: int = 4, min_edges: int = 1_000_000):
        """J2 self-detection: enable salting when the degree sketch shows a
        hub whose single edge list exceeds `factor` × the average partition
        share |E|/P (P: the edge cache's partition count) — the regime
        where one reducer's input is dominated by one key and coarse AQE
        skew splits stop helping.  Runs at most once
        per graph (two cheap aggregates over the cached degree/edge tables);
        a no-op on small graphs (< min_edges) where skew cannot hurt.
        Opt out with LINKGRAPH_AUTO_SALT=0.

        factor=4 sits inside the measured win regime (BENCH/skew_bench.py,
        (src,salt)-co-partitioned cache): at hub = 0.5x share salting costs
        ~8% (nothing to fix), at hub = 6x share it wins 2.0x over both plain
        and AQE-skew joins — the crossover is ~1-2x share."""
        if self._salt_checked or self._salted is not None:
            return self._salted
        self._salt_checked = True
        if os.environ.get("LINKGRAPH_AUTO_SALT", "1") == "0":
            return None
        e = self.num_edges()
        if e < min_edges:
            return None
        p = self.edge_partitions()
        share = max(e // p, 1)
        max_deg = self.degrees().agg(F.max("deg").alias("m")).first()["m"] or 0
        if max_deg > factor * share:
            # salt every source above one partition-share of edges; spread
            # the worst hub over enough buckets to fit a share each
            s = int(min(64, max(2, -(-max_deg // share))))
            import logging

            # caller-visible signal: salting builds a SECOND persisted
            # (src,salt)-partitioned copy of the edge table (~doubles the
            # edge-cache footprint), so operators must be able to attribute
            # the extra blocks and opt out deliberately
            logging.getLogger(__name__).warning(
                "linkgraph auto-salting engaged: |E|=%d, max_deg=%d (%.1fx the "
                "%d-partition share %d) -> hub_threshold=%d, s=%d buckets; a "
                "second salted edge cache will be built (set "
                "LINKGRAPH_AUTO_SALT=0 to opt out)",
                e, max_deg, max_deg / share, p, share, share, s,
            )
            return self.enable_salting(hub_threshold=share, s=s)
        return None

    def expand(
        self, msgs: DataFrame, est_rows: int | None = None,
        edges: DataFrame | None = None,
    ) -> DataFrame:
        """The frontier-expand join (J1): edges ⋈ msgs on src, with the
        physical strategy picked by estimated message-table size:

        * small (`fits_broadcast(msgs, est_rows)`): broadcast msgs —
          map-side join, the edge table never shuffles;
        * large + salting enabled (manually or via maybe_auto_salt's skew
          sketch): salted shuffle join (J2) so hub sources spread over S
          reducers;
        * large otherwise: plain shuffle join.  Inside `fixpoint` AQE is
          off, so hub skew there is the salted join's job; outside a loop
          AQE's skew join splits hot partitions.

        msgs must carry a `src` column; every other column passes through.

        edges: optional pre-filtered replacement edge table (same schema,
        same src-partitioning — e.g. the K3 bottom-up open-destination
        semi-join).  The salted path is bypassed for overrides (the filter
        only fires on late dense levels where the frontier is small).
        """
        e = edges if edges is not None else self.edges
        if est_rows is not None and fits_broadcast(msgs, est_rows):
            return e.join(F.broadcast(msgs), "src")
        if edges is None:
            if self._salted is None:
                self.maybe_auto_salt()
            if self._salted is not None:
                return self._salted.join_frontier(msgs)
        return e.join(msgs, "src")

    def degrees(self) -> DataFrame:
        """Out-degree per vertex (== degree for symmetric graphs); cached —
        reused by direction switching, source batching, GTEPS accounting."""
        if self._degrees is None:
            self._degrees = (
                self.edges.groupBy("src")
                .agg(F.count("*").alias("deg"))
                .withColumnRenamed("src", "vid")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        return self._degrees

    def num_vertices(self) -> int:
        """|V|.  On a symmetric table that is the (cached) degree-table row
        count; on a directed table sink-only vertices have no out-edges, so
        the count must come from vertices() — PageRank's 1/n, (1-d)/n and
        dangling/n terms all divide by THIS n, and counting only src-side
        vertices would make ranks sum past 1 exactly when sinks exist."""
        if self._num_vertices is None:
            if self.symmetric:
                self._num_vertices = self.degrees().count()
            else:
                self._num_vertices = self.vertices().count()
        return self._num_vertices

    def num_edges(self) -> int:
        """Directed edge count (2x undirected)."""
        if self._num_edges is None:
            self._num_edges = self.edges.count()
        return self._num_edges

    def max_vid(self) -> int:
        """Largest vertex id — sizes vid-indexed bitmaps (K3 side-channel).
        Relabeled graphs have max_vid = |V|-1; raw-id graphs may be sparse,
        so the bitmap sizing must use this, never num_vertices.  One
        aggregate over the cached edge table, cached thereafter."""
        if self._max_vid is None:
            self._max_vid = int(
                self.edges.agg(
                    F.max(F.greatest(F.col("src"), F.col("dst"))).alias("m")
                ).first()["m"]
            )
        return self._max_vid

    def top_degree_vids(self, k: int) -> list[int]:
        rows = (
            self.degrees()
            .orderBy(F.col("deg").desc(), F.col("vid").asc())
            .limit(k)
            .collect()
        )
        return [r["vid"] for r in rows]

    def unpersist(self):
        try:
            self.edges.unpersist()
        except Exception:
            pass
        if self._degrees is not None:
            self._degrees.unpersist()
        if self._vertices is not None:
            self._vertices.unpersist()
        if self._vertex_dict is not None:
            try:
                self._vertex_dict.unpersist()
            except Exception:
                pass
        if self._salted is not None:
            try:
                self._salted.unpersist()
            except Exception:
                pass
        if self._store:
            # FS-API cleanup (not shutil): the store may live on HDFS/S3
            try:
                from linkgraph.checkpoint import _HadoopFS

                fs = _HadoopFS(self.spark, self._store)
                if fs.exists(self._store):
                    fs.delete(self._store)
            except Exception:
                pass  # session already stopped — temp roots are reaped anyway
            self._store = None
