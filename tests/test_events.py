"""Event-stream operators (sessionize / funnel / as-of join) and near-dup
clustering vs brute-force python oracles."""

import collections
import datetime as dt

from pyspark.sql import functions as F

from linkgraph.operators.events import asof_join, funnel_steps, sessionize

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(minutes, micros=0):
    return T0 + dt.timedelta(minutes=minutes, microseconds=micros)


EVENTS = [
    # user 1: two sessions (gap 120 min > 60-min threshold between e3/e4)
    (1, 1, _ts(0), "signup", 1.0),
    (2, 1, _ts(10), "view", 2.5),
    (3, 1, _ts(20), "click", 0.5),
    (4, 1, _ts(140), "purchase", 9.0),
    # user 2: click BEFORE signup (funnel must not count it), single session
    (5, 2, _ts(0), "click", 1.0),
    (6, 2, _ts(5), "signup", 1.0),
    (7, 2, _ts(15), "view", 3.0),
    # user 3: exact-gap boundary (gap == threshold is SAME session)
    (8, 3, _ts(0), "view", 1.0),
    (9, 3, _ts(60), "purchase", 2.0),
    # user 4: simultaneous view and purchase (strict as-of must exclude)
    (10, 4, _ts(0), "view", 7.0),
    (11, 4, _ts(30), "purchase", 4.0),
    (12, 4, _ts(30), "view", 8.0),
]

SCHEMA = "event_id long, user_id long, ts timestamp, event_type string, value double"


def _df(spark):
    return spark.createDataFrame(EVENTS, SCHEMA)


def test_sessionize_vs_bruteforce(spark):
    got = {
        (r["user_id"], r["session_start"]): (
            r["n_events"], r["duration_s"], round(r["total_value"], 6))
        for r in sessionize(_df(spark), gap_seconds=3600).collect()
    }
    # brute force
    by_user = collections.defaultdict(list)
    for eid, uid, ts, et, v in EVENTS:
        by_user[uid].append((ts, eid, v))
    exp = {}
    for uid, rows in by_user.items():
        rows.sort()
        sess = [[rows[0]]]
        for prev, cur in zip(rows, rows[1:]):
            if int(cur[0].timestamp()) - int(prev[0].timestamp()) > 3600:
                sess.append([])
            sess[-1].append(cur)
        for s in sess:
            start = s[0][0].strftime("%Y-%m-%d %H:%M:%S")
            dur = int(s[-1][0].timestamp()) - int(s[0][0].timestamp())
            exp[(uid, start)] = (len(s), dur, round(sum(r[2] for r in s), 6))
    assert got == exp
    # user 3's boundary gap (== threshold) stays one session
    assert got[(3, "2024-01-01 00:00:00")][0] == 2


def test_funnel_steps_strict_order(spark):
    got = {
        r["user_id"]: r["steps_completed"]
        for r in funnel_steps(_df(spark), ["signup", "click", "purchase"]).collect()
    }
    # user 1 completes all 3 in order; user 2's click precedes signup → 1;
    # user 3 never signs up → 0; user 4 never signs up → 0
    assert got == {1: 3, 2: 1, 3: 0, 4: 0}


def test_asof_join_strict_and_inclusive(spark):
    ev = _df(spark)
    purch = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value")
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value")

    strict = {
        r["event_id"]: (r["event_id_asof"], r["value_asof"])
        for r in asof_join(purch, views, on="user_id", ts_col="ts",
                           right_cols=["event_id", "value"],
                           strict=True, tiebreak="event_id").collect()
    }
    # user 1: purchase e4 sees view e2; user 3: e9 sees e8;
    # user 4: e11 must NOT see the simultaneous view e12 → sees e10
    assert strict == {4: (2, 2.5), 9: (8, 1.0), 11: (10, 7.0)}

    incl = {
        r["event_id"]: r["event_id_asof"]
        for r in asof_join(purch, views, on="user_id", ts_col="ts",
                           right_cols=["event_id", "value"],
                           strict=False, tiebreak="event_id").collect()
    }
    # non-strict: the simultaneous view e12 IS visible to e11
    assert incl[11] == 12 and incl[4] == 2 and incl[9] == 8


def test_asof_join_no_prior_right_row(spark):
    ev = _df(spark)
    # user 2 has a purchase? no — craft: purchases for user 2 at t=1min,
    # views only later: as-of columns must be NULL
    purch = ev.where(F.col("event_id") == 5).select(
        "event_id", "user_id", "ts", "value")  # click@t0 as fake left
    views = ev.where(
        (F.col("user_id") == 2) & (F.col("event_type") == "view")
    ).select("event_id", "user_id", "ts", "value")
    rows = asof_join(purch, views, on="user_id", ts_col="ts",
                     right_cols=["event_id", "value"],
                     strict=True, tiebreak="event_id").collect()
    assert len(rows) == 1 and rows[0]["event_id_asof"] is None
    assert rows[0]["ts_asof"] is None


def test_near_duplicate_clusters(spark):
    from linkgraph.textops.dedup import near_duplicate_clusters

    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),   # near-dup of 1
        (3, "alpha beta gamma delta theta iota"),    # near-dup of 1/2
        (4, "one two three four five six"),
        (5, "one two three four five seven"),        # near-dup of 4
        (6, "completely unrelated text here now"),   # singleton
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = near_duplicate_clusters(df, threshold=0.5, num_hashes=32, bands=16)
    got = {r["doc_id"]: (r["cluster"], r["csize"]) for r in out.collect()}
    out.unpersist()
    assert got == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        4: (4, 2), 5: (4, 2),
        6: (6, 1),
    }


def test_near_duplicate_clusters_releases_cc_checkpoint(spark, monkeypatch):
    """The CC result near_duplicate_clusters reads is a local checkpoint,
    which DataFrame.unpersist() does not free: its RDD must be gone from
    the persistent RDDs once the clusters are returned."""
    import linkgraph.algos.components as components_module
    from linkgraph.textops.dedup import near_duplicate_clusters

    cc_rdds = []

    def recording(graph, *args, **kwargs):
        comp = connected_components(graph, *args, **kwargs)
        leaf = comp._jdf.queryExecution().analyzed().collectLeaves().head()
        cc_rdds.append(leaf.rdd().id())
        return comp

    connected_components = components_module.connected_components
    monkeypatch.setattr(components_module, "connected_components", recording)
    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "one two three four five six"),
        (4, "one two three four five seven"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = near_duplicate_clusters(df, threshold=0.5, num_hashes=32, bands=16)
    assert out.count() == 4
    out.unpersist()
    persistent = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert len(cc_rdds) == 1
    assert cc_rdds[0] not in persistent


def test_asof_join_null_payload_no_splice(spark):
    # the LATEST right row has a NULL payload field: the output must carry
    # that row's fields atomically, not splice the older row's value in
    purch = spark.createDataFrame(
        [(100, 1, _ts(60), 9.0)], SCHEMA.replace("event_type string, ", "")
    ).select("event_id", "user_id", "ts", "value")
    views = spark.createDataFrame(
        [(10, 1, _ts(0), 5.0), (11, 1, _ts(30), None)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    rows = asof_join(purch, views, on="user_id", ts_col="ts",
                     right_cols=["event_id", "value"],
                     strict=True, tiebreak="event_id").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["event_id_asof"] == 11          # latest right row wins...
    assert r["value_asof"] is None           # ...with ITS value, not row 10's
