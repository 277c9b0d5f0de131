"""Round-5 wave 4: SCD2 change intervals, induced SimRank, greedy coverage."""

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------- scd2 intervals
def test_change_intervals_islands_and_closing(spark):
    from linkgraph.operators.scd import change_intervals

    log = spark.createDataFrame(
        [
            # key 1: A A B A  -> three runs (A x2, B x1, A x1)
            (1, "A", 10, 100),
            (1, "A", 20, 101),
            (1, "B", 30, 102),
            (1, "A", 40, 103),
            # key 2: single run
            (2, "X", 5, 104),
        ],
        "k long, v string, ts long, id long",
    )
    rows = {
        (r["k"], r["valid_from"]): r
        for r in change_intervals(log, "k", "v", "ts", "id").collect()
    }
    assert len(rows) == 4
    r1 = rows[(1, 10)]
    assert (r1["v"], r1["n_events"], r1["valid_to"]) == ("A", 2, 30)
    r2 = rows[(1, 30)]
    assert (r2["v"], r2["n_events"], r2["valid_to"]) == ("B", 1, 40)
    r3 = rows[(1, 40)]
    assert (r3["v"], r3["n_events"], r3["valid_to"]) == ("A", 1, None)
    r4 = rows[(2, 5)]
    assert (r4["v"], r4["n_events"], r4["valid_to"]) == ("X", 1, None)


def test_change_intervals_timestamp_tie_uses_tiebreak(spark):
    from linkgraph.operators.scd import change_intervals

    # same ts: order by id decides A(id=1) then B(id=2) -> two runs
    log = spark.createDataFrame(
        [(1, "A", 10, 1), (1, "B", 10, 2)], "k long, v string, ts long, id long"
    )
    out = change_intervals(log, "k", "v", "ts", "id").collect()
    assert len(out) == 2
    by_v = {r["v"]: r for r in out}
    assert by_v["A"]["valid_to"] == 10 and by_v["B"]["valid_to"] is None


# ------------------------------------------------------------------- simrank
@pytest.fixture(scope="module")
def sq_edges(spark):
    # 4-cycle 0-1-2-3-0: opposite corners share both neighbors
    pairs = [(0, 1), (1, 2), (2, 3), (3, 0)]
    sym = pairs + [(b, a) for a, b in pairs]
    return spark.createDataFrame(sym, "src long, dst long")


def test_simrank_square_opposite_corners(spark, sq_edges):
    from linkgraph.algos.simrank import simrank_topk

    out = simrank_topk(sq_edges, k_vertices=4, c=0.8, iters=2, topk=10).collect()
    s = {(r["a"], r["b"]): r["s"] for r in out}
    # iter1: s(0,2) = 0.8/4 * (s0(1,1)+s0(3,3)) = 0.4
    # iter2: s(0,2) = 0.8/4 * (1 + 1 + 0.4 + 0.4) = 0.56
    assert s[(0, 2)] == pytest.approx(0.56)
    assert s[(1, 3)] == pytest.approx(0.56)
    # the 4-cycle is bipartite: odd-distance pairs never co-meet, so the
    # sparse-pair encoding correctly omits them (similarity 0)
    assert (0, 1) not in s and (2, 3) not in s
    assert all(0 < v <= 1 for v in s.values())


def test_simrank_scores_sorted_and_deduped(spark, sq_edges):
    from linkgraph.algos.simrank import simrank_topk

    rows = simrank_topk(sq_edges, k_vertices=4, iters=2, topk=10).collect()
    pairs = [(r["a"], r["b"]) for r in rows]
    assert len(pairs) == len(set(pairs))
    scores = [r["s"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(a < b for a, b in pairs)


def test_simrank_round_reads_materialized_working_set(spark, monkeypatch):
    """The restricted edges are checkpointed once before the loop: a
    round's executed plan scans them, and never re-derives the top-K
    working set (an ordered limit over the degree table) from the raw
    edges."""
    import linkgraph.algos.simrank as simrank

    pairs = [(a, b) for a in range(12) for b in range(a + 1, 12) if (a * b) % 3 != 1]
    edges = spark.createDataFrame(pairs + [(b, a) for a, b in pairs], "src long, dst long")
    plans = []
    fixpoint = simrank.fixpoint

    def traced(seed, step, *args, **kwargs):
        def planned_step(state, metrics):
            out = step(state, metrics)
            plans.append(out._jdf.queryExecution().executedPlan().toString())
            return out

        return fixpoint(seed, planned_step, *args, **kwargs)

    monkeypatch.setattr(simrank, "fixpoint", traced)
    assert simrank.simrank_topk(edges, k_vertices=8, iters=2).count() > 0
    assert len(plans) == 2
    assert not any("TakeOrderedAndProject" in plan for plan in plans), plans[0]


# ---------------------------------------------------------- greedy doc cover
def test_greedy_doc_cover_marginal_gains(spark):
    from linkgraph.textops.coverage import greedy_doc_cover

    docs = spark.createDataFrame(
        [
            # doc 1: 4 distinct trigrams (6 words)
            (1, "a b c d e f"),
            # doc 2: subset of doc 1's grams plus one new (overlap a b c / b c d)
            (2, "a b c d z"),
            # doc 3: disjoint, 2 grams
            (3, "p q r s"),
        ],
        "doc_id long, text string",
    )
    rows = greedy_doc_cover(docs, k=3, n=3).collect()
    # doc1 covers {abc,bcd,cde,def}; then doc3's {pqr,qrs} beats doc2's
    # remaining {cdz}; doc2 contributes its one uncovered gram last
    assert [(r["rank"], r["doc_id"], r["gain"]) for r in rows] == [
        (1, 1, 4),
        (2, 3, 2),
        (3, 2, 1),
    ]


def test_greedy_doc_cover_early_stop_and_validation(spark):
    from linkgraph.textops.coverage import greedy_doc_cover

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
    )
    rows = greedy_doc_cover(docs, k=5, n=3).collect()
    # one gram total: first pick covers everything, loop stops early
    assert len(rows) == 1 and rows[0]["doc_id"] == 1 and rows[0]["gain"] == 1
    with pytest.raises(ValueError):
        greedy_doc_cover(docs, k=0)


def test_greedy_doc_cover_gain_is_monotone_nonincreasing(spark, sf0001):
    from linkgraph.textops.coverage import greedy_doc_cover

    docs = spark.read.parquet(f"{sf0001}/documents.parquet").limit(60)
    rows = greedy_doc_cover(docs, k=4, n=3).collect()
    gains = [r["gain"] for r in rows]
    assert gains == sorted(gains, reverse=True)
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
