"""activity_profile / transition_entropy vs exact pure-Python oracles."""

import collections
import math
from datetime import datetime, timedelta

import pytest

EVENTS = []  # (event_id, ts, user_id, event_type, value)
_t0 = datetime(2026, 1, 1)
for i, (u, et, dt_s, v) in enumerate(
    [
        (1, "a", 0, 1.0),
        (1, "b", 10, 2.5),
        (1, "a", 70, 0.25),
        (1, "c", 100, 1.0),
        (2, "a", 0, 4.0),      # single-event user -> NULL mean_gap
        (3, "b", 5, 1.5),
        (3, "b", 6, 1.5),
        (3, "a", 300, 2.0),
    ]
):
    EVENTS.append((i, _t0 + timedelta(seconds=dt_s), u, et, v))


@pytest.fixture(scope="module")
def events(spark):
    return spark.createDataFrame(
        EVENTS, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_activity_profile_exact(events):
    from linkgraph.operators.events import activity_profile

    got = {
        r.user_id: (r.n_events, r.n_types, r.span_s, r.mean_gap_s, r.total_value)
        for r in activity_profile(events).collect()
    }
    by_user = collections.defaultdict(list)
    for _, ts, u, et, v in EVENTS:
        by_user[u].append((ts, et, v))
    want = {}
    for u, rows in by_user.items():
        eps = [int(ts.timestamp()) for ts, _, _ in rows]
        span = max(eps) - min(eps)
        n = len(rows)
        want[u] = (
            n,
            len({et for _, et, _ in rows}),
            span,
            round(span / (n - 1), 6) if n > 1 else None,
            round(sum(v for _, _, v in rows), 6),
        )
    assert got == want


def test_transition_entropy_exact(events):
    from linkgraph.operators.events import transition_entropy

    by_user = collections.defaultdict(list)
    for eid, ts, u, et, _ in EVENTS:
        by_user[u].append((ts, eid, et))
    trans = collections.Counter()
    for rows in by_user.values():
        rows.sort()
        for (_, _, a), (_, _, b) in zip(rows, rows[1:]):
            trans[(a, b)] += 1
    out = collections.defaultdict(list)
    for (a, _), c in trans.items():
        out[a].append(c)
    want = {}
    for a, cnts in out.items():
        n = sum(cnts)
        h = math.log(n) - sum(c * math.log(c) for c in cnts) / n
        want[a] = (n, len(cnts), round(h, 6))
    got = {
        r.src_type: (r.n_out, r.n_dst, r.entropy)
        for r in transition_entropy(events).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][:2] == want[k][:2]
        assert abs(got[k][2] - want[k][2]) <= 1e-6
    # user 3's "b"->"b" self-transition is deterministic only if entropy
    # for a single-destination state is exactly 0
    assert got["b"][2] >= 0.0


def test_value_outliers_exact(spark):
    import statistics

    from linkgraph.operators.events import value_outliers

    rows = []
    t0 = datetime(2026, 2, 1)
    # user 7: 20 tame values + one wild spike; user 8: constant (std 0);
    # user 9: single event
    for i in range(20):
        rows.append((100 + i, t0 + timedelta(seconds=i), 7, "a", 10.0 + (i % 3)))
    rows.append((199, t0 + timedelta(seconds=60), 7, "a", 500.0))
    for i in range(5):
        rows.append((200 + i, t0 + timedelta(seconds=i), 8, "a", 2.0))
    rows.append((300, t0, 9, "a", 1.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {
        r.user_id: (r.n_events, r.mean_v, r.std_v, r.n_outliers)
        for r in value_outliers(df).collect()
    }
    vals7 = [10.0 + (i % 3) for i in range(20)] + [500.0]
    m7, s7 = statistics.mean(vals7), statistics.stdev(vals7)
    n_out7 = sum(1 for v in vals7 if round(abs(v - m7) / s7, 6) > 3.0)
    assert got[7] == (21, round(m7, 6), round(s7, 6), n_out7)
    assert n_out7 == 1
    assert got[8] == (5, 2.0, 0.0, 0)      # zero variance: no outliers
    assert got[9][0] == 1 and got[9][3] == 0 and got[9][2] is None


def test_value_outliers_unhinted_join(spark, events):
    """The per-user moments table has no size bound, so value_outliers
    leaves its join to the planner: with broadcasts off in the session no
    BroadcastHashJoin runs."""
    from linkgraph.operators.events import value_outliers

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = value_outliers(events)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in plan, plan


def test_square_count_exact(spark):
    from linkgraph.algos.triangles import square_count
    from linkgraph.fixtures import edges_df
    from linkgraph.graph import LinkGraph

    # K4 contains 3 distinct 4-cycles; a 4-cycle alone contains 1;
    # a triangle contains 0
    k4 = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    c4 = [(10, 11), (11, 12), (12, 13), (13, 10)]
    tri = [(20, 21), (21, 22), (20, 22)]
    g = LinkGraph.from_undirected(edges_df(spark, k4 + c4 + tri), num_partitions=2)
    assert square_count(g).collect()[0].n_squares == 4


def test_graphlet_census_exact(spark):
    from linkgraph.algos.triangles import graphlet_census
    from linkgraph.fixtures import edges_df
    from linkgraph.graph import LinkGraph

    # K4: wedges 12, triangles 4, stars3 4, paths3 12 (4!/2 orderings)
    k4 = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    g = LinkGraph.from_undirected(edges_df(spark, k4), num_partitions=2)
    row = graphlet_census(g).collect()[0]
    assert (row.wedges, row.triangles, row.stars3, row.paths3) == (12, 4, 4, 12)

    # C4: wedges 4, triangles 0, stars3 0, paths3 4
    c4 = [(10, 11), (11, 12), (12, 13), (13, 10)]
    g2 = LinkGraph.from_undirected(edges_df(spark, c4), num_partitions=2)
    row = graphlet_census(g2).collect()[0]
    assert (row.wedges, row.triangles, row.stars3, row.paths3) == (4, 0, 0, 4)


def test_event_trigrams_exact(spark):
    from linkgraph.operators.events import event_trigrams

    rows = []
    t0 = datetime(2026, 3, 1)
    seq = {
        1: ["a", "b", "c", "a", "b", "c"],   # (a,b,c)x2, (b,c,a), (c,a,b)
        2: ["a", "b", "c"],
        3: ["x", "y"],                        # too short for a trigram
    }
    eid = 0
    for u, types in seq.items():
        for i, et in enumerate(types):
            rows.append((eid, t0 + timedelta(seconds=i), u, et, 1.0))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {
        (r.t1, r.t2, r.t3): r.cnt for r in event_trigrams(df, topk=None).collect()
    }
    assert got == {
        ("a", "b", "c"): 3,
        ("b", "c", "a"): 1,
        ("c", "a", "b"): 1,
    }
    top = event_trigrams(df, topk=1).collect()
    assert [(top[0].t1, top[0].t2, top[0].t3, top[0].cnt)] == [("a", "b", "c", 3)]


def test_rfm_segments_exact(spark):
    from datetime import date

    from linkgraph.operators.events import rfm_segments

    rows = []
    oid = 0
    # 8 customers with controlled recency/frequency/monetary spreads
    for ck in range(8):
        for j in range(ck + 1):  # frequency 1..8
            rows.append(
                (oid, ck, date(2026, 1, 1 + ck), 100.0 * (ck + 1))
            )
            oid += 1
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate date, o_totalprice double"
    )
    got = {
        r.custkey: (
            r.recency_days, r.frequency, r.monetary,
            r.r_bucket, r.f_bucket, r.m_bucket,
        )
        for r in rfm_segments(df).collect()
    }
    import statistics

    rec = {ck: 7 - ck for ck in range(8)}
    fq = {ck: ck + 1 for ck in range(8)}
    mo = {ck: round(100.0 * (ck + 1) * (ck + 1), 2) for ck in range(8)}

    def qs(vals):
        xs = sorted(vals)
        return [statistics.quantiles(xs, n=4, method="inclusive")[i] for i in range(3)]

    def bucket(x, q):
        return 1 + (x > q[0]) + (x > q[1]) + (x > q[2])

    rq, fqq, mq = qs(rec.values()), qs(fq.values()), qs(mo.values())
    for ck in range(8):
        assert got[ck] == (
            rec[ck], fq[ck], mo[ck],
            bucket(rec[ck], rq), bucket(fq[ck], fqq), bucket(mo[ck], mq),
        ), ck


def test_session_histogram_exact(spark):
    from linkgraph.operators.events import session_histogram

    rows, eid = [], 0
    t0 = datetime(2026, 4, 1)
    # user 1: sessions of 3 and 1 events (gap 100s); user 2: one of 2
    for s_off, n in [(0, 3), (10_000, 1)]:
        for i in range(n):
            rows.append((eid, t0 + timedelta(seconds=s_off + i), 1, "a", 1.0))
            eid += 1
    for i in range(2):
        rows.append((eid, t0 + timedelta(seconds=i), 2, "a", 1.0))
        eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {
        r.n_events: r.n_sessions
        for r in session_histogram(df, gap_seconds=100).collect()
    }
    assert got == {3: 1, 1: 1, 2: 1}


def test_chi_square_exact(spark):
    from linkgraph.operators.events import chi_square_contingency

    rows = (
        [("hi", "ok")] * 30 + [("hi", "bad")] * 10
        + [("lo", "ok")] * 10 + [("lo", "bad")] * 30
    )
    df = spark.createDataFrame(rows, "o_orderpriority string, o_orderstatus string")
    out = {
        (r.a, r.b): (r.observed, r.expected, r.contrib)
        for r in chi_square_contingency(df, "o_orderpriority", "o_orderstatus").collect()
    }
    # margins 40/40 and 40/40 over N=80 -> expected 20 each cell
    for cell, (o, e, c) in out.items():
        assert e == 20.0
        assert c == round((o - 20.0) ** 2 / 20.0, 6)
    chi2 = sum(c for _, _, c in out.values())
    assert abs(chi2 - 20.0) <= 1e-6  # 4 cells x (10^2/20) = 20


def test_char_entropy_exact(spark):
    import collections
    import math

    from linkgraph.textops.textstats import char_entropy

    texts = ["aaaa", "abcd", "aabb", ""]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_chars, r.entropy) for r in char_entropy(docs).collect()
    }
    for i, t in enumerate(texts):
        if not t:
            assert i not in got
            continue
        cnt = collections.Counter(t)
        n = len(t)
        h = math.log(n) - sum(c * math.log(c) for c in cnt.values()) / n
        assert got[i][0] == n and abs(got[i][1] - round(h, 6)) <= 1e-6
    assert got[0][1] == 0.0                      # constant text
    assert got[1][1] > got[2][1] > got[0][1]     # diversity orders entropy


def test_daily_active_exact(spark):
    from linkgraph.operators.events import daily_active

    rows = [
        (0, datetime(2026, 5, 1, 9), 1, "a", 1.0),
        (1, datetime(2026, 5, 1, 10), 1, "a", 1.0),
        (2, datetime(2026, 5, 1, 11), 2, "a", 1.0),
        (3, datetime(2026, 5, 2, 9), 2, "a", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {r.day: (r.n_events, r.n_users) for r in daily_active(df).collect()}
    assert got == {"2026-05-01": (3, 2), "2026-05-02": (1, 1)}


def test_retention_cohorts_exact(spark):
    from linkgraph.operators.events import retention_cohorts

    rows = [
        (0, datetime(2026, 6, 1), 1, "a", 1.0),
        (1, datetime(2026, 6, 2), 1, "a", 1.0),   # user 1 retained day 1
        (2, datetime(2026, 6, 1), 2, "a", 1.0),   # user 2 day-0 only
        (3, datetime(2026, 6, 2), 3, "a", 1.0),   # user 3 cohort of day 2
        (4, datetime(2026, 6, 4), 3, "a", 1.0),   # retained day 2
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {
        (r.cohort_day, r.day_offset): r.n_users
        for r in retention_cohorts(df).collect()
    }
    assert got == {
        ("2026-06-01", 0): 2,
        ("2026-06-01", 1): 1,
        ("2026-06-02", 0): 1,
        ("2026-06-02", 2): 1,
    }


def test_ctfidf_topk_characteristic_terms(spark):
    from linkgraph.textops.textstats import ctfidf_topk

    rows = [
        (0, "spark shuffle join spark spark", "eng"),
        (1, "spark agg scan", "eng"),
        (2, "pasta garlic olive pasta", "food"),
        (3, "pasta basil", "food"),
        (4, "the the the", "noise"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {}
    for r in ctfidf_topk(docs, group_col="source", k=2).collect():
        got.setdefault(r.source, []).append(r.term)
    assert got["eng"][0] == "spark" and got["food"][0] == "pasta"
    # group-exclusive terms outrank shared ones; "the" is noise-only here
    assert "the" not in got["eng"] and "the" not in got["food"]


def test_hourly_profile_exact(spark):
    from linkgraph.operators.events import hourly_profile

    rows = [
        (0, datetime(2026, 7, 1, 9, 5), 1, "a", 1.0),
        (1, datetime(2026, 7, 1, 9, 55), 2, "a", 1.0),
        (2, datetime(2026, 7, 2, 9, 10), 1, "a", 1.0),
        (3, datetime(2026, 7, 1, 23, 0), 1, "a", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {r.hour: (r.n_events, r.n_users) for r in hourly_profile(df).collect()}
    assert got == {9: (3, 2), 23: (1, 1)}


def test_value_ab_exact(spark):
    import math
    import statistics

    from linkgraph.operators.events import value_ab_test

    base = [10.0, 12.0, 11.0, 13.0]
    lift = [14.0, 15.0, 16.0, 17.0, 18.0]
    rows, eid = [], 0
    for v in base:
        rows.append((eid, datetime(2026, 7, 1), 1, "view", v)); eid += 1
    for v in lift:
        rows.append((eid, datetime(2026, 7, 1), 2, "buy", v)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {r.event_type: (r.n, r.mean_v, r.z) for r in value_ab_test(df, "view").collect()}
    m0, v0 = statistics.mean(base), statistics.variance(base)
    m1, v1 = statistics.mean(lift), statistics.variance(lift)
    z = (m1 - m0) / math.sqrt(v1 / len(lift) + v0 / len(base))
    assert set(got) == {"buy"}
    assert got["buy"] == (len(lift), round(m1, 6), round(z, 6))
    assert got["buy"][2] > 2  # real lift is significant


def test_corpus_composition_exact(spark):
    from linkgraph.textops.textstats import corpus_composition

    rows = [
        (0, "one two three", "en", "a"),
        (1, "four five", "en", "a"),
        (2, "sechs sieben acht", "de", "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    got = {
        (r.lang, r.source): (r.n_docs, r.n_tokens, r.doc_share, r.token_share)
        for r in corpus_composition(docs).collect()
    }
    assert got[("en", "a")] == (2, 5, round(2 / 3, 6), round(5 / 8, 6))
    assert got[("de", "b")] == (1, 3, round(1 / 3, 6), round(3 / 8, 6))


def test_entry_exit_matrix_bounce_and_share(spark):
    import pytest as _pt

    from linkgraph.operators.events import entry_exit_matrix

    d = lambda h, m=0: datetime(2026, 1, 1, h, m)
    rows = [
        # user 1, session 1: view -> click (entry view, exit click)
        (0, d(0), 1, "view"), (1, d(0, 30), 1, "click"),
        # user 1, session 2 (after >2h gap with gap=3600): lone error = bounce
        (2, d(5), 1, "error"),
        # user 2, one session: view -> view -> purchase
        (3, d(1), 2, "view"), (4, d(1, 20), 2, "view"), (5, d(1, 40), 2, "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {(r.entry_type, r.exit_type): r
           for r in entry_exit_matrix(ev, gap_seconds=3600).collect()}
    assert got[("view", "click")].n_sessions == 1
    assert got[("view", "click")].n_bounce == 0
    assert got[("error", "error")].n_bounce == 1
    assert got[("error", "error")].bounce_rate == _pt.approx(1.0)
    assert got[("view", "purchase")].n_sessions == 1
    assert sum(r.share for r in got.values()) == _pt.approx(1.0, abs=1e-5)
