"""Physical-plan audits: the optimizations the engine claims must be
visible in .explain output — broadcast dispatch in expand, column pruning
keeping `text` out of graph paths, parquet filter pushdown, and
whole-stage codegen on the relational kernel path."""

import pytest
from pyspark.sql import functions as F

from linkgraph.fixtures import edges_df
from linkgraph.graph import LinkGraph


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def small_graph(spark):
    return LinkGraph.from_undirected(
        edges_df(spark, [(i, (i + 1) % 50) for i in range(50)]), persist=False
    )


def test_expand_broadcasts_small_messages(small_graph):
    msgs = small_graph.vertices().select(F.col("vid").alias("src"), F.lit(1.0).alias("w"))
    plan = _plan(small_graph.expand(msgs, est_rows=50))
    assert "BroadcastHashJoin" in plan


def test_expand_shuffles_when_broadcast_disabled(spark, small_graph):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        msgs = small_graph.vertices().select(
            F.col("vid").alias("src"), F.lit(1.0).alias("w")
        )
        plan = _plan(small_graph.expand(msgs, est_rows=10**9))
        assert "BroadcastHashJoin" not in plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_fits_broadcast_boundary(spark):
    """The one broadcast gate: rows · (16 + 12 · columns) bytes strictly
    under the session threshold; -1 and 0 turn broadcasts off, and a
    size-suffixed threshold reads as its byte count."""
    from linkgraph.graph import fits_broadcast

    df = spark.range(1).select(*[F.col("id").alias(c) for c in "abcd"])  # 64 B a row
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for spelled in ("32m", "33554432b"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", spelled)
            assert fits_broadcast(df, (32 << 20) // 64 - 1)
            assert not fits_broadcast(df, (32 << 20) // 64)
        for off in ("-1", "0"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", off)
            assert not fits_broadcast(df, 0)
            assert not fits_broadcast(df, 1)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_text_column_pruned_from_graph_path(spark, tmp_path):
    """The heavy `text` column must never reach the scan of a derivation
    that only needs keys (Catalyst column pruning — preserves per-turn
    text bytes by never touching them)."""
    from linkgraph.fixtures import make_transcripts
    from linkgraph.schemas import TRANSCRIPTS
    from linkgraph.sources.derive import shared_key_conv_edges

    path = str(tmp_path / "tr")
    spark.createDataFrame(make_transcripts(30), schema=TRANSCRIPTS).write.parquet(path)
    tr = spark.read.parquet(path)
    plan = _plan(shared_key_conv_edges(tr, key="tool"))
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "text" not in scan
    assert "conv_id" in scan


def test_filter_pushdown_reaches_scan(spark, tmp_path):
    from linkgraph.fixtures import make_transcripts
    from linkgraph.schemas import TRANSCRIPTS

    path = str(tmp_path / "tr2")
    spark.createDataFrame(make_transcripts(30), schema=TRANSCRIPTS).write.parquet(path)
    df = spark.read.parquet(path).where(F.col("conv_id") == "c00000001")
    plan = _plan(df)
    assert "PushedFilters" in plan
    idx = plan.index("PushedFilters")
    assert "conv_id" in plan[idx : idx + 200]


def test_relational_kernel_is_codegen(small_graph):
    """The bit_or ANP aggregation path must stay inside WholeStageCodegen
    (no Python, no interpreted expressions in the hot loop)."""
    msgs = small_graph.vertices().select(
        F.col("vid").alias("src"), *[F.lit(1).cast("long").alias(f"v{i}") for i in range(8)]
    )
    agg = (
        small_graph.expand(msgs, est_rows=50)
        .groupBy("dst")
        .agg(*[F.bit_or(f"v{i}").alias(f"a{i}") for i in range(8)])
    )
    agg.collect()  # AQE: codegen markers appear only in the FINAL plan
    # formatted-mode explain marks codegen stages with a '*' prefix
    # ("* HashAggregate (n)"); the literal WholeStageCodegen node name only
    # appears in simple mode
    plan = _plan(agg)
    assert "* HashAggregate" in plan
    assert "isFinalPlan=true" in plan


def test_relabel_join_byte_gated(spark):
    """S2 relabel dictionary join: broadcast only under the byte gate —
    over threshold the plan must NOT contain a broadcast of the |V|-row
    dict (the round-2 unconditional F.broadcast scale-killer)."""
    from linkgraph.graph import relabel_pairs

    pairs = spark.createDataFrame(
        [(f"c{i}", f"c{i+1}") for i in range(200)], "a string, b string"
    )
    names = spark.createDataFrame(
        [(f"c{i}", i) for i in range(201)], "name string, vid long"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny threshold: 201 * 40B estimate exceeds 1KB -> no broadcast hint,
        # and the physical dict (~KBs of strings) exceeds it for Catalyst too
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1k")
        plan = _plan(relabel_pairs(pairs, names, "a", "b", n_vertices=201))
        assert "BroadcastExchange" not in plan
        # generous threshold: the gate broadcasts the dict (map-side relabel)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "32m")
        plan = _plan(relabel_pairs(pairs, names, "a", "b", n_vertices=201))
        assert "BroadcastExchange" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_from_undirected_canonical_skips_distinct(spark):
    """distinct=False on a canonical a<b pair set: same edge table, one
    fewer exchange (no redundant |E| dedup shuffle in the build path)."""
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3)], "src long, dst long"
    )
    g_dedup = LinkGraph.from_undirected(pairs, persist=False)
    g_fast = LinkGraph.from_undirected(pairs, distinct=False, persist=False)
    a = sorted(map(tuple, g_dedup.edges.collect()))
    b = sorted(map(tuple, g_fast.edges.collect()))
    assert a == b
    # the dedup'd plan has an extra aggregate for distinct; the fast one must not
    assert "HashAggregate" not in _plan(g_fast.edges)


def test_lpa_vote_argmax_single_aggregate(spark, small_graph):
    """LPA winner selection is one hash aggregate on dst — no window
    sort exchange per round (round-2 weak #5)."""
    from pyspark.sql import functions as F

    votes = small_graph.edges.groupBy("dst", F.col("src").alias("l")).agg(
        F.count("*").alias("n")
    )
    winner = votes.groupBy("dst").agg(
        F.min(F.struct((-F.col("n")).alias("nn"), F.col("l"))).alias("m")
    ).select("dst", F.col("m.l").alias("new_label"))
    plan = _plan(winner)
    assert "Window" not in plan


def _simple_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def _shuffles(df) -> int:
    """Shuffle-exchange count in the physical plan (broadcasts excluded)."""
    p = _simple_plan(df)
    return sum(
        1 for ln in p.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    )


def test_sessionize_single_shuffle(spark):
    """Sessionize = ONE exchange on user_id: both windows share one sort and
    the session aggregate reuses the same partitioning."""
    import datetime as dt

    from linkgraph.operators.events import sessionize

    ev = spark.createDataFrame(
        [(i, i % 7, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), 1.0)
         for i in range(100)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = sessionize(ev, gap_seconds=600)
    assert _shuffles(out) == 1
    plan = _simple_plan(out)
    assert plan.count("Sort") <= 2  # one physical sort (tree+detail dupes guarded)


def test_asof_join_single_shuffle(spark):
    """As-of join = union + ONE exchange on the key + one window; never a
    range join / cross product."""
    import datetime as dt

    from linkgraph.operators.events import asof_join

    ev = spark.createDataFrame(
        [(i, i % 7, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), 1.0)
         for i in range(100)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    left = ev.where(F.col("event_id") % 2 == 0)
    right = ev.where(F.col("event_id") % 2 == 1)
    out = asof_join(left, right, on="user_id", ts_col="ts",
                    right_cols=["event_id", "value"], tiebreak="event_id")
    assert _shuffles(out) == 1
    p = _simple_plan(out)
    assert "Join" not in p  # no join operator at all: union + window


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed+sorted on the same key join with zero shuffle
    Exchange and zero Sort — the write-once co-location contract."""
    from linkgraph.tableio import write_bucketed

    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    write_bucketed(a, "bk_a", "k", 8, path=str(tmp_path / "bk_a"))
    write_bucketed(b, "bk_b", "k", 8, path=str(tmp_path / "bk_b"))
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_smj = spark.conf.get("spark.sql.join.preferSortMergeJoin", "true")
    old_bts = spark.conf.get(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    # sortBy metadata only reaches outputOrdering behind this flag (safe
    # here: write_bucketed guarantees one file per bucket)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        ta, tb = spark.table("bk_a"), spark.table("bk_b")
        joined = ta.join(tb, "k")
        assert _shuffles(joined) == 0
        p = _simple_plan(joined)
        assert "SortMergeJoin" in p
        assert "Sort " not in p.replace("SortMergeJoin", "SMJ")  # sort-free
        # and the result is right
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.join.preferSortMergeJoin", old_smj)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", old_bts)
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_betweenness_expand_est_rows_measured(spark, monkeypatch):
    """betweenness must feed the MEASURED per-level frontier count into
    expand(est_rows=...) — a hardcoded |roots|·64 estimate force-broadcasts
    dense middle levels (Θ(|roots|·|V|) rows at scale → executor OOM).
    Spy on expand: every est_rows must equal an actual per-level (root,vid)
    count from a Python BFS oracle, and with the broadcast threshold set
    below the smallest level's byte estimate no expand plan may broadcast."""
    import collections

    from linkgraph.algos.betweenness import betweenness

    pairs = [(i, (i + 1) % 40) for i in range(40)] + [(0, i) for i in range(2, 20)]
    g = LinkGraph.from_undirected(edges_df(spark, pairs), persist=False)
    roots = [0, 1, 5, 25]

    adj = collections.defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    level_sizes = collections.Counter()
    for s in roots:
        dist = {s: 0}
        q = collections.deque([s])
        level_sizes[0] += 1
        while q:
            v = q.popleft()
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    level_sizes[dist[w]] += 1
                    q.append(w)
    expected = set(level_sizes.values())
    # regression guard: the old hardcoded estimate must be impossible here
    assert len(roots) * 64 not in expected

    calls = []
    orig = LinkGraph.expand

    def spy(self, msgs, est_rows=None, edges=None):
        out = orig(self, msgs, est_rows=est_rows, edges=edges)
        calls.append((est_rows, _plan(out)))
        return out

    monkeypatch.setattr(LinkGraph, "expand", spy)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64b")
    try:
        betweenness(g, roots, max_levels=30, scale=False).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    assert calls
    for est, plan in calls:
        assert est in expected, f"expand got unmeasured est_rows={est}"
        # measured frontier exceeds the (tiny) threshold → must shuffle
        assert "BroadcastHashJoin" not in plan


def test_bucketed_graph_roundtrip_zero_edge_exchange(spark, tmp_path):
    """store_bucketed → from_bucketed is the cross-job amortization path:
    the reloaded graph's expand join must shuffle ONLY the message side
    (one Exchange; the bucketed scan reports HashPartitioning(src)), and
    PageRank over the reloaded graph must equal PageRank over the original
    bit for bit."""
    from linkgraph.algos.pagerank import pagerank

    pairs = [(i, (i + 3) % 60) for i in range(60)] + [(i, (i + 7) % 60) for i in range(60)]
    g = LinkGraph.from_undirected(edges_df(spark, pairs), num_partitions=8)
    g.store_bucketed("bk_edges", buckets=8, path=str(tmp_path / "bk_edges"))

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        g2 = LinkGraph.from_bucketed(spark, "bk_edges", persist=False)
        msgs = g2.vertices().select(F.col("vid").alias("src"), F.lit(1.0).alias("w"))
        joined = g2.expand(msgs, est_rows=10**9)
        # message side shuffles to the bucket layout; edge side must not
        assert _shuffles(joined) == 1
        plan = _simple_plan(joined)
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)

    try:
        g3 = LinkGraph.from_bucketed(spark, "bk_edges")
        pr_a = {r["vid"]: r["pr"] for r in pagerank(g, max_iter=5, tol=0.0).collect()}
        pr_b = {r["vid"]: r["pr"] for r in pagerank(g3, max_iter=5, tol=0.0).collect()}
        assert pr_a == pr_b
        g3.unpersist()
        # catalog-lost recovery: drop the identifier (what a new local
        # session sees), re-register over the surviving bucketed files
        spark.sql("DROP TABLE bk_edges")
        g4 = LinkGraph.from_bucketed(
            spark, "bk_edges", path=str(tmp_path / "bk_edges"), buckets=8
        )
        pr_c = {r["vid"]: r["pr"] for r in pagerank(g4, max_iter=5, tol=0.0).collect()}
        assert pr_c == pr_a
        g4.unpersist()
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_edges")


def test_chunk_plan_zero_exchange(spark):
    """chunk_plan is a pure projection + generated-sequence explode —
    no Exchange may appear anywhere in its plan."""
    from linkgraph.textops.packing import chunk_plan

    docs = spark.createDataFrame(
        [(i, "tok " * 20) for i in range(10)], "doc_id long, text string"
    )
    plan = _plan(chunk_plan(docs, window=8, stride=6))
    assert "Exchange" not in plan


def test_activity_profile_single_exchange(spark):
    """activity_profile is one logical aggregate over one scan: the
    COUNT(DISTINCT) lowers to the standard two-phase distinct aggregate
    — exactly two exchanges ((user, type), then user), no window, no
    join, and nothing else adds a shuffle."""
    from datetime import datetime

    from linkgraph.operators.events import activity_profile

    ev = spark.createDataFrame(
        [(i, datetime(2026, 1, 1), i % 3, "a", 1.0) for i in range(10)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    plan = _plan(activity_profile(ev))
    assert plan.count("Exchange (") == 2  # distinct-agg pair, nothing more
    assert "Window" not in plan and "Join" not in plan


def test_shared_ngram_span_enumeration_is_codegen(spark):
    """span enumeration (sequence+slice+concat_ws transform) must stay
    JVM-side — no Python evaluation node anywhere; the explode appears
    as a Generate over the codegen'd transform expression."""
    from linkgraph.textops.dedup import shared_ngram_spans

    docs = spark.createDataFrame(
        [(i, "a b c d e f g") for i in range(4)], "doc_id long, text string"
    )
    plan = _plan(shared_ngram_spans(docs, k=3, df_cap=10))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate (" in plan  # JVM explode of the generated span array


def test_epoch_shuffle_no_global_sort(spark):
    """The permutation ranks inside hash buckets: the plan must carry NO
    single-partition exchange (the naive Window.orderBy(h) global sort)."""
    from linkgraph.operators.sampling import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    out = epoch_shuffle(df, "doc_id", seed=1, buckets=16)
    plan = _simple_plan(out)
    assert "SinglePartition" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_returned_items_topk_is_take_ordered(spark):
    """Q10's top-20 must be a distributed TakeOrderedAndProject heap, not
    a row_number over an unpartitioned Window (one task sorts every
    per-customer aggregate at scale)."""
    from linkgraph.entry_queries import q_returned_items

    df = q_returned_items(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def _window_specs_all_partitioned(plan: str) -> bool:
    specs = plan.split("windowspecdefinition(")[1:]
    return bool(specs) and all(s.lstrip().startswith("pid") for s in specs)


def test_zorder_report_two_phase_matches_ntile(spark):
    """zorder_layout_report's two-phase rank+offset file assignment must
    (a) carry no unpartitioned Window and (b) reproduce the naive global
    ntile bit for bit."""
    from pyspark.sql import Window

    from linkgraph.operators.layout import (
        quantize,
        zorder_key,
        zorder_layout_report,
    )

    rows = [(i, (i * 37) % 101, (i * 53) % 97) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    out = zorder_layout_report(df, "a", "b", files=16)
    plan = _plan(out)
    assert _window_specs_all_partitioned(plan)

    # naive reference: global ntile over the full (z, x, y) order
    bounds = df.agg(
        F.min("a").alias("xmn"), F.max("a").alias("xmx"),
        F.min("b").alias("ymn"), F.max("b").alias("ymx"),
    ).first()
    keyed = df.select(
        F.col("a").alias("x"), F.col("b").alias("y"),
        zorder_key(
            quantize("a", bounds["xmn"], bounds["xmx"]),
            quantize("b", bounds["ymn"], bounds["ymx"]),
        ).alias("z"),
    )
    w = Window.orderBy("z", "x", "y")
    ref = (
        keyed.withColumn("file_id", F.ntile(16).over(w))
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("x").alias("min_x"), F.max("x").alias("max_x"),
            F.min("y").alias("min_y"), F.max("y").alias("max_y"),
        )
        .select(
            F.col("file_id").cast("long").alias("file_id"),
            "n_rows", "min_x", "max_x", "min_y", "max_y",
        )
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, ref.collect()))


def test_heaps_fit_two_phase_matches_global_window(spark):
    """heaps_fit's two-phase prefix sum must carry no unpartitioned
    Window and agree with the naive global cumulative window."""
    from pyspark.sql import Window

    from linkgraph.textops.textstats import TOKEN_RE, heaps_fit

    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 40}" for j in range(1 + i % 9)))
        for i in range(120)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = heaps_fit(docs)
    plan = _plan(out)
    assert _window_specs_all_partitioned(plan)

    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
        ).alias("term"),
    )
    per_doc = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nt"))
    new_vocab = (
        toks.groupBy("term").agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("nv"))
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    chk = (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(new_vocab, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("nt", F.lit(0)).alias("nt"),
            F.coalesce("nv", F.lit(0)).alias("nv"),
        )
        .select(F.sum("nt").over(w).alias("ct"), F.sum("nv").over(w).alias("cv"))
        .where((F.col("ct") > 0) & (F.col("cv") > 0))
    )
    pts = chk.select(
        "ct", "cv",
        F.log(F.col("ct").cast("double")).alias("x"),
        F.log(F.col("cv").cast("double")).alias("y"),
    )
    n = F.count(F.lit(1)).cast("double")
    ref = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("ct").cast("long").alias("total_tokens"),
        F.max("cv").cast("long").alias("vocab"),
        F.round(
            (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
            / (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")),
            6,
        ).alias("heaps_beta"),
    )
    assert out.collect() == ref.collect()
