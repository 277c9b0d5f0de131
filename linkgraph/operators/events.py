"""Event-stream relational operators: sessionization, funnel analysis,
as-of join (SURVEY.md §2.5 window family — the event-analytics surface a
link-graph pipeline needs around its graphs).

All three are single-shuffle plans: one exchange on the entity key, then
pure window/aggregate work inside each partition — no self-joins, no
per-row Python.  Timestamp arithmetic is done on per-event FLOORED epoch
seconds (`unix_timestamp` semantics) so engine-portable oracles agree:
`floor(a)-floor(b)` and `floor(a-b)` differ on sub-second tails, so both
sides floor FIRST, and absolute epochs never appear in output (session
timezone offsets cancel in differences; rendered times use date_format
strings like the rest of the query surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from linkgraph.iterate import checkpoint, fixpoint, release


def sessionize(
    events: DataFrame,
    gap_seconds: int = 28800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Gap-based sessions: a new session starts when the inter-event gap
    within a user exceeds `gap_seconds`.  Returns one row per session:
    (user_id, session_start, n_events, duration_s, total_value).

    Plan: one exchange on user_col, then two windows over the SAME
    (user, ts, id) sort — Spark plans them in a single WindowExec pair on
    one sort, no second shuffle — then a partial+final aggregate on
    (user, session_no).  Scales as |events| with no join; the classic
    sessionize-by-self-join is quadratic per user and never needed.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    ep = F.unix_timestamp(F.col(ts_col))
    flagged = events.select(
        F.col(user_col),
        F.col(ts_col),
        F.col(id_col),
        F.col(value_col),
        F.when(ep - F.lag(ep).over(w) > gap_seconds, 1)
        .otherwise(0)
        .alias("_new"),
    )
    sess = flagged.withColumn(
        "_sno", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy(user_col, "_sno").agg(
        F.date_format(F.min(ts_col), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max(F.unix_timestamp(F.col(ts_col))) - F.min(F.unix_timestamp(F.col(ts_col))))
        .cast("long")
        .alias("duration_s"),
        F.round(F.sum(value_col), 6).alias("total_value"),
    ).select(user_col, "session_start", "n_events", "duration_s", "total_value")


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel: per user, how many of `steps` were completed in
    order, each step strictly after the previous step's first completion.
    Returns (user_id, steps_completed).

    Plan: one aggregate per step over the events table, each producing a
    |users|-row table joined back broadcast-style — step k's minimum
    qualifying timestamp needs step k-1's, so the chain is inherently
    sequential, but every intermediate is user-cardinality (broadcastable
    at any events:users ratio worth analyzing).  Strict `>` on raw
    timestamps — no epoch conversion, so sub-second ordering is exact.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    users = events.select(F.col(user_col)).distinct()
    reached = users.withColumn("_t0", F.lit(None).cast("timestamp"))
    prev_ts = "_t0"
    for k, step in enumerate(steps, start=1):
        cur = f"_t{k}"
        cond = F.col(type_col) == step
        if k == 1:
            tk = events.where(cond).groupBy(user_col).agg(F.min(ts_col).alias(cur))
            reached = reached.join(tk, user_col, "left")
        else:
            ev = events.where(cond).select(
                F.col(user_col).alias("_u"), F.col(ts_col).alias("_ts")
            )
            tk = (
                reached.where(F.col(prev_ts).isNotNull())
                .select(user_col, prev_ts)
                .join(ev, F.col(user_col) == F.col("_u"))
                .where(F.col("_ts") > F.col(prev_ts))
                .groupBy(user_col)
                .agg(F.min("_ts").alias(cur))
            )
            reached = reached.join(tk, user_col, "left")
        prev_ts = cur
    completed = sum(
        F.when(F.col(f"_t{k}").isNotNull(), 1).otherwise(0)
        for k in range(1, len(steps) + 1)
    )
    return reached.select(
        F.col(user_col).cast("long").alias(user_col),
        completed.cast("int").alias("steps_completed"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str = "ts",
    right_cols: list[str] | None = None,
    strict: bool = True,
    tiebreak: str | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """As-of join: for each left row, attach the LATEST right row with
    right.ts < left.ts (strict) or <= (strict=False), matched on `on`.

    Plan: the union-tag trick — tag both sides, union, ONE exchange on
    `on`, one window sort on (ts, tag[, tiebreak]), running
    last(ignorenulls) of the right-side payload, filter back to left
    rows.  This is O(|L|+|R|) with a single shuffle; the naive
    range-join + groupBy-max is a partial cross product per key and dies
    on exactly the hot keys that matter.  Strictness is encoded in the
    tag sort order: strict ⟹ left sorts BEFORE right at equal ts, so a
    simultaneous right row is invisible to it.

    `tiebreak` (a column present in both inputs) makes equal-(ts, tag)
    ordering deterministic; without it, ties among right rows at the
    same timestamp pick an arbitrary one.

    The payload travels as ONE struct column picked by a single
    last(ignorenulls) — per-column lasts would splice fields from
    DIFFERENT right rows whenever a payload column is NULL in the latest
    row but set in an older one (the struct is non-null for every right
    row even when all its fields are NULL, so the latest right ROW
    always wins atomically).
    """
    right_cols = right_cols or [c for c in right.columns if c not in (on, ts_col)]
    lt, rt = (0, 1) if strict else (1, 0)
    order = [ts_col, "_tag"] + ([tiebreak] if tiebreak else [])
    common = [on, ts_col] + ([tiebreak] if tiebreak else [])
    lkeep = [c for c in left.columns if c not in common and c != "_tag"]
    payload = F.struct(
        *[F.col(c).alias(c) for c in right_cols],
        F.col(ts_col).alias("__ts"),
    )
    # shared-schema union: left rows carry their own columns and a null
    # payload struct; right rows carry the payload and null left columns
    l_part = left.select(
        *[F.col(c) for c in common],
        F.lit(lt).alias("_tag"),
        *[F.col(c) for c in lkeep],
    )
    both = l_part.withColumn(
        "_p", F.lit(None).cast(right.select(payload.alias("_p")).schema["_p"].dataType)
    ).unionByName(right.select(
        *[F.col(c) for c in common],
        F.lit(rt).alias("_tag"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lkeep],
        payload.alias("_p"),
    ))
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    picked = both.withColumn("_pp", F.last("_p", ignorenulls=True).over(w))
    return picked.where(F.col("_tag") == lt).select(
        *[F.col(c) for c in common if c != "_tag"],
        *[F.col(c) for c in lkeep],
        *[F.col("_pp")[c].alias(f"{c}{suffix}") for c in right_cols],
        F.col("_pp")["__ts"].alias(f"{ts_col}{suffix}"),
    )


def activity_profile(events: DataFrame, round_to: int = 6) -> DataFrame:
    """Per-user behavioral profile over the event stream: one row
    (user_id, n_events, n_types, span_s, mean_gap_s, total_value) — the
    transcript-analytics summary table a conversation corpus ships next
    to its link graph (who is active, how bursty, how diverse).

    ONE logical aggregate over a single scan: span and gap statistics
    come from MIN/MAX epoch + the count — mean_gap = span / (n−1) — so
    no window, no self-join, no per-event lag column.  The COUNT
    (DISTINCT event_type) lowers to Spark's standard two-phase distinct
    aggregate (two exchanges: (user, type) then user — plan-tested);
    everything else rides those same exchanges.  Epochs are integer seconds
    (floor(epoch)), divisions are single IEEE ops + round ⟹ engine-
    portable.  Single-event users get NULL mean_gap (no gap exists).
    """
    ep = F.floor(F.unix_timestamp(F.col("ts"))).cast("long")
    span = F.max(ep) - F.min(ep)
    n = F.count(F.lit(1))
    return events.groupBy("user_id").agg(
        n.cast("long").alias("n_events"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        span.cast("long").alias("span_s"),
        F.round(span / F.when(n > 1, (n - F.lit(1)).cast("double")), round_to).alias(
            "mean_gap_s"
        ),
        F.round(F.sum("value"), round_to).alias("total_value"),
    )


def transition_entropy(events: DataFrame, round_to: int = 6) -> DataFrame:
    """Per-source-state Markov statistics of the event-type transition
    matrix: (src_type, n_out, n_dst, entropy) where entropy is the
    Shannon entropy (nats) of P(next_type | src_type) under the stable
    (ts, event_id) per-user ordering — how predictable each dialogue
    state's continuation is.

    Built on the same one-window transition derivation as
    `sources.derive.events_adjacency`, then ONE aggregate per source
    state using the algebraic form

        H = ln(n_out) − (Σ_d cnt_d · ln cnt_d) / n_out

    — counts are exact integers, the LN sum is absorbed by one division
    + round (same portability argument as the unigram LM score).
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    trans = (
        events.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("src_type"),
            F.col("next_type").alias("dst_type"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    n_out = F.sum("cnt")
    return trans.groupBy("src_type").agg(
        n_out.cast("long").alias("n_out"),
        F.count(F.lit(1)).cast("long").alias("n_dst"),
        F.round(
            F.log(n_out.cast("double"))
            - F.sum(F.col("cnt") * F.log(F.col("cnt"))) / n_out,
            round_to,
        ).alias("entropy"),
    )


def value_outliers(events: DataFrame, z_cut: float = 3.0, round_to: int = 6) -> DataFrame:
    """Per-user value anomaly summary: (user_id, n_events, mean_v, std_v,
    n_outliers) where an outlier is an event with rounded |z| > z_cut
    under the user's own sample mean/stddev — the abuse/spam first-pass
    every event pipeline runs.

    Two aggregates over one (user-keyed) shuffle: moments first, then an
    outlier count against the joined per-user moments (one row a user, no
    size bound, so AQE picks that join from runtime sizes).  The
    z-score is ROUNDED before the threshold comparison, so the kept set
    is engine-portable (the same convention as containment_pairs);
    single-event users have no stddev → n_outliers 0, std_v NULL.
    """
    mom = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.avg("value").alias("mean_raw"),
        F.stddev_samp("value").alias("std_raw"),
    )
    z = F.round(
        F.abs(F.col("value") - F.col("mean_raw")) / F.col("std_raw"), round_to
    )
    flags = (
        events.join(mom, "user_id")
        .where(F.col("std_raw") > 0)
        .groupBy("user_id")
        .agg(F.sum(F.when(z > z_cut, 1).otherwise(0)).alias("n_outliers"))
    )
    return (
        mom.join(flags, "user_id", "left")
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            "n_events",
            F.round("mean_raw", round_to).alias("mean_v"),
            F.round("std_raw", round_to).alias("std_v"),
            F.coalesce(F.col("n_outliers"), F.lit(0)).cast("long").alias("n_outliers"),
        )
    )


def event_trigrams(events: DataFrame, topk: int | None = 20) -> DataFrame:
    """Top ordered event-type trigrams: (t1, t2, t3, cnt) counting
    consecutive type triples under the stable (ts, event_id) per-user
    ordering — the length-3 step up from the turn-adjacency transition
    matrix (dialogue-act patterns: which three-step flows dominate?).

    One window sort (two LEADs ride the same WindowExec), one count
    aggregate; all-integer, deterministic (cnt DESC, t1, t2, t3) top-k.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    tri = (
        events.withColumn("t2", F.lead("event_type", 1).over(w))
        .withColumn("t3", F.lead("event_type", 2).over(w))
        .where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .groupBy(
            F.col("event_type").alias("t1"), "t2", "t3"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    if topk is not None:
        tri = tri.orderBy(
            F.col("cnt").desc(),
            F.col("t1").asc(),
            F.col("t2").asc(),
            F.col("t3").asc(),
        ).limit(topk)
    return tri


def rfm_segments(orders: DataFrame, round_to: int = 6) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation over
    an orders table: per customer the three raw metrics and their
    quartile buckets (1–4, ascending in the metric's value),

        bucket(x) = 1 + [x > q25] + [x > q50] + [x > q75]

    with quartiles computed over the per-customer metric distribution —
    the classic CRM / cohort segmentation query.

    Engine-portability: recency is an INTEGER day difference from the
    corpus-max order date; monetary is rounded to 2 decimals BEFORE both
    the quartile computation and the comparisons (order totals carry 2
    decimals, so per-customer float-sum ulp noise vanishes and both
    engines bucket identical values against identical interpolated
    thresholds — percentile/quantile_cont agree, the q_quantiles
    precedent).  One aggregate per customer, one 1-row threshold
    aggregate broadcast back; no global sort, no NTILE single-partition
    window.
    """
    per = orders.groupBy(F.col("o_custkey").cast("long").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    gmax = orders.agg(F.max("o_orderdate").alias("gmax"))
    per = per.crossJoin(F.broadcast(gmax)).select(
        "custkey",
        F.datediff("gmax", "last_order").cast("long").alias("recency_days"),
        "frequency",
        "monetary",
    )
    th = per.agg(
        *[
            F.expr(f"percentile({c}, {q})").alias(f"{c[0]}q{int(q * 100)}")
            for c in ("recency_days", "frequency", "monetary")
            for q in (0.25, 0.5, 0.75)
        ]
    )

    def bucket(col, pfx):
        return (
            F.lit(1)
            + (F.col(col) > F.col(f"{pfx}q25")).cast("int")
            + (F.col(col) > F.col(f"{pfx}q50")).cast("int")
            + (F.col(col) > F.col(f"{pfx}q75")).cast("int")
        ).cast("long")

    return per.crossJoin(F.broadcast(th)).select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        bucket("recency_days", "r").alias("r_bucket"),
        bucket("frequency", "f").alias("f_bucket"),
        bucket("monetary", "m").alias("m_bucket"),
    )


def session_histogram(events: DataFrame, gap_seconds: int = 28800) -> DataFrame:
    """Session-length distribution: (n_events, n_sessions) — how many
    sessions contain exactly k events, the shape report behind retention
    and engagement dashboards (a heavy singleton bucket means the gap is
    tuned wrong or the product has no session depth).  One rollup over
    the single-shuffle `sessionize` plan; all-integer.
    """
    return (
        sessionize(events, gap_seconds=gap_seconds)
        .groupBy(F.col("n_events").cast("long").alias("n_events"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )


def chi_square_contingency(
    df: DataFrame, col_a: str, col_b: str, round_to: int = 6
) -> DataFrame:
    """Pearson chi-square contingency decomposition of two categorical
    columns: per (a, b) cell (a, b, observed, expected, contrib) with
    expected = row_total·col_total/N and contrib = (o−e)²/e — the
    independence test behind "does order priority depend on status?" /
    "does event type depend on user cohort?" checks; Σ contrib is the
    chi-square statistic.

    Exact integer counts feed one closed-form float expression per cell
    (round-6); the margins are two ≤|levels|-row aggregates broadcast
    back.  Cells with zero observed count are emitted when both margins
    are positive (they carry expected mass), via the margin cross join.
    """
    obs = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count(F.lit(1)).alias("o"))
    ra = obs.groupBy("a").agg(F.sum("o").alias("ta"))
    cb = obs.groupBy("b").agg(F.sum("o").alias("tb"))
    n = obs.agg(F.sum("o").alias("n"))
    grid = ra.crossJoin(cb).crossJoin(F.broadcast(n))
    e = F.col("ta") * F.col("tb") / F.col("n").cast("double")
    return (
        grid.join(obs, ["a", "b"], "left")
        .select(
            "a",
            "b",
            F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("observed"),
            F.round(e, round_to).alias("expected"),
            F.round(
                (F.coalesce(F.col("o"), F.lit(0)) - e) * (F.coalesce(F.col("o"), F.lit(0)) - e) / e,
                round_to,
            ).alias("contrib"),
        )
    )


def daily_active(events: DataFrame) -> DataFrame:
    """Daily activity rollup: (day, n_events, n_users) — the DAU series
    every event pipeline charts first.  One aggregate on the date
    truncation; the distinct-user count lowers to Spark's two-phase
    distinct aggregate (the activity_profile note).  All-integer.
    """
    # day as an ISO string: engines disagree on DATE's dataframe dtype
    # (DuckDB hands back datetime64), so the portable form is the string
    return (
        events.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Retention triangle: (cohort_day, day_offset, n_users) counting,
    for each first-seen cohort, how many of its users are active again
    `day_offset` days later — THE retention report.  Two aggregates:
    first-activity day per user (one shuffle), then a distinct-user
    count per (cohort, offset) over the events joined back to their
    user's cohort.  Days are integer offsets and ISO-string cohort days
    (the daily_active portability lesson); all-integer counts.
    """
    first = events.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("c0"))
    joined = events.join(first, "user_id").select(
        "user_id",
        F.date_format("c0", "yyyy-MM-dd").alias("cohort_day"),
        F.datediff(F.to_date("ts"), F.col("c0")).cast("long").alias("day_offset"),
    )
    return joined.groupBy("cohort_day", "day_offset").agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )


def hourly_profile(events: DataFrame) -> DataFrame:
    """Time-of-day seasonality: (hour, n_events, n_users) for hour 0–23
    — the load/engagement shape behind capacity planning and bot
    detection (human traffic has a diurnal curve; scripted traffic is
    flat).  One aggregate on the hour truncation; all-integer.
    """
    return events.groupBy(F.hour("ts").cast("long").alias("hour")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


def value_ab_test(
    events: DataFrame, baseline_type: str, round_to: int = 6
) -> DataFrame:
    """Two-sample Welch z readout of `value` for every event type against
    a baseline type: (event_type, n, mean_v, z) with

        z = (m − m₀) / sqrt(s²/n + s₀²/n₀)

    — the experiment-dashboard number ("does this event type move the
    metric vs baseline?").  Per-type moments are ONE aggregate; the
    baseline row broadcasts; z is a closed-form expression of exact
    per-type sums (round-6; sample variances via Spark/DuckDB's shared
    n−1 convention).  The baseline row itself is omitted (z ≡ 0).
    """
    mom = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    base = mom.where(F.col("event_type") == baseline_type).select(
        F.col("n").alias("n0"), F.col("m").alias("m0"), F.col("v").alias("v0")
    )
    return (
        mom.where(F.col("event_type") != baseline_type)
        .crossJoin(F.broadcast(base))
        .select(
            "event_type",
            "n",
            F.round("m", round_to).alias("mean_v"),
            F.round(
                (F.col("m") - F.col("m0"))
                / F.sqrt(F.col("v") / F.col("n") + F.col("v0") / F.col("n0")),
                round_to,
            ).alias("z"),
        )
    )


def transition_latency(events: DataFrame, round_to: int = 6) -> DataFrame:
    """Per-transition dwell-time dashboard: (src_type, dst_type, n,
    mean_gap_s, max_gap_s) — how long each dialogue state sits before
    continuing into each next state, under the stable (ts, event_id)
    per-user ordering.  The latency companion to `transition_entropy`
    (same one-window derivation): entropy says WHERE a state goes,
    this says HOW LONG it takes to go there — the agent/tool response-
    time table a transcript pipeline ships next to its transition
    matrix.

    One window + ONE aggregate.  Gaps are exact integer differences of
    FLOORED epoch seconds (the module-wide portability convention), so
    n, max and the gap sum are engine-exact; the mean is one division
    + round.  At corpus scale this is a single user-keyed shuffle for
    the window and one (src,dst)-keyed aggregate over ≤|types|² groups
    — the transition table stays tiny no matter how large the stream.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    ep = F.floor(F.unix_timestamp(F.col("ts"))).cast("long")
    trans = events.select(
        F.col("event_type").alias("src_type"),
        F.lead("event_type").over(w).alias("dst_type"),
        (F.lead(ep).over(w) - ep).alias("gap_s"),
    ).where(F.col("dst_type").isNotNull())
    return trans.groupBy("src_type", "dst_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum("gap_s") / F.count(F.lit(1)).cast("double"), round_to
        ).alias("mean_gap_s"),
        F.max("gap_s").cast("long").alias("max_gap_s"),
    )


def decayed_activity(
    events: DataFrame, half_life_s: int = 86_400, round_to: int = 6
) -> DataFrame:
    """Exponential time-decayed activity score per user: (user_id,
    n_events, decayed_score) with

        score = Σ value · 2^(−(T − ts) / half_life)

    anchored at T = the corpus max timestamp — the deterministic batch
    form of the "trending now" ranking (a streaming variant would decay
    against the watermark).  ONE scan + one broadcast 1-row anchor
    cross-join + one hash aggregate; the anchor difference T − ts is an
    integer-second delta, so the score is timezone-shift-invariant and
    engine-portable (2^x = exp(x·ln2) in double on both engines; the
    sum is rounded).
    """
    anchor = events.agg(F.max(F.unix_timestamp("ts")).alias("_t_max"))
    ep = F.unix_timestamp("ts")
    return (
        events.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(
                F.sum(
                    F.col("value")
                    * F.pow(
                        F.lit(2.0),
                        -(F.col("_t_max") - ep).cast("double") / half_life_s,
                    )
                ),
                round_to,
            ).alias("decayed_score"),
        )
    )


def event_stationary(
    events: DataFrame, iters: int = 20, round_to: int = 6
) -> DataFrame:
    """Stationary distribution of the event-type Markov chain:
    (event_type, pi) after `iters` fixed power iterations of π' = πP
    from the uniform vector, where P(dst|src) comes from per-user
    adjacent transitions under the stable (ts, event_id) order — "which
    dialogue states does behavior concentrate in".

    The chain lives on the EVENT-TYPE vocabulary (a handful of states),
    so after the one corpus-scale transition count every iteration is a
    broadcast-sized join + aggregate; sink states (no observed
    out-transition) get an explicit self-loop so probability mass is
    conserved and the fixed-iteration result is well-defined whether or
    not the chain mixed.  Fixed iteration count (not a convergence
    test) keeps engine parity exact: the DuckDB oracle unrolls the same
    recursion.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    trans = (
        events.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("src"), F.col("next_type").alias("dst")
        )
        .agg(F.count("*").alias("cnt"))
    )
    states = events.select(F.col("event_type").alias("src")).distinct()
    out_tot = trans.groupBy("src").agg(F.sum("cnt").alias("tot"))
    p = trans.join(out_tot, "src").select(
        "src", "dst", (F.col("cnt") / F.col("tot")).alias("frac")
    )
    sinks = states.join(p.select("src").distinct(), "src", "left_anti")
    p = checkpoint(
        p.unionByName(
            sinks.select("src", F.col("src").alias("dst"), F.lit(1.0).alias("frac"))
        )
    )
    n_states = states.count()

    def step(pi: DataFrame, _m: dict) -> DataFrame:
        return (
            pi.join(p, pi["event_type"] == p["src"])
            .groupBy(F.col("dst").alias("event_type"))
            .agg(F.sum(F.col("pi") * F.col("frac")).alias("pi"))
        )

    pi, _, _ = fixpoint(
        states.select(
            F.col("src").alias("event_type"), F.lit(1.0 / n_states).alias("pi")
        ),
        step,
        lambda st, _: {"rows": st.count()},
        lambda m, _: False,
        iters,
    )
    release(p)
    return pi.select("event_type", F.round("pi", round_to).alias("pi"))


def cuped_ab_test(
    events: DataFrame, salt: str = "cuped", round_to: int = 6
) -> DataFrame:
    """CUPED-adjusted A/B readout [Deng et al., WSDM'13]: (grp, n_users,
    mean_post, mean_adj, theta) for a deterministic 50/50 hash split of
    users, where the post-period metric is variance-reduced by the
    pre-period covariate:

        adj_u = post_u − θ·(pre_u − mean(pre)),   θ = cov(pre,post)/var(pre)

    pre/post = each user's value sum before/after the corpus midpoint
    timestamp (an integer-second anchor, so engine/timezone-portable).
    ONE corpus scan builds per-user (pre, post); θ and mean(pre) are a
    1-row broadcast; group means are a vocabulary-sized aggregate.  The
    split reuses `sampling.hash_split`'s portable md5 bucket family, so
    assignment is reproducible in any engine.
    """
    from linkgraph.textops.dedup import portable_hash60

    ep = F.unix_timestamp("ts")
    bounds = events.agg(
        F.min(ep).alias("mn"), F.max(ep).alias("mx")
    ).select(F.floor((F.col("mn") + F.col("mx")) / 2).cast("long").alias("tmid"))
    per_user = (
        events.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(ep < F.col("tmid"), F.col("value"))), F.lit(0.0)
            ).alias("pre"),
            F.coalesce(
                F.sum(F.when(ep >= F.col("tmid"), F.col("value"))), F.lit(0.0)
            ).alias("post"),
        )
    )
    stats = per_user.agg(
        (F.covar_pop("pre", "post") / F.var_pop("pre")).alias("theta"),
        F.avg("pre").alias("mean_pre"),
    )
    grp = F.when(
        F.pmod(
            portable_hash60(
                F.concat(F.col("user_id").cast("string"), F.lit("#" + salt))
            ),
            F.lit(2),
        )
        == 0,
        "A",
    ).otherwise("B")
    return (
        per_user.crossJoin(F.broadcast(stats))
        .select(
            grp.alias("grp"),
            "post",
            (
                F.col("post")
                - F.col("theta") * (F.col("pre") - F.col("mean_pre"))
            ).alias("adj"),
            "theta",
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(F.avg("post"), round_to).alias("mean_post"),
            F.round(F.avg("adj"), round_to).alias("mean_adj"),
            F.round(F.first("theta"), round_to).alias("theta"),
        )
    )


def burstiness(events: DataFrame, round_to: int = 6) -> DataFrame:
    """Inter-arrival burstiness per event type: (event_type, n_gaps,
    mean_gap_s, cv, burstiness) where gaps are between consecutive
    SAME-TYPE events of the SAME user under the stable (ts, event_id)
    order, cv = σ/μ (sample σ), and burstiness is the Goh-Barabási
    B = (σ−μ)/(σ+μ) — −1 periodic, 0 Poisson, →1 bursty.  One window
    over (user, type) + one aggregate; gaps are integer-second
    differences, hence timezone-shift-invariant."""
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    ep = F.unix_timestamp("ts")
    gaps = (
        events.withColumn("gap_s", ep - F.lag(ep).over(w))
        .where(F.col("gap_s").isNotNull())
        .select("event_type", "gap_s")
    )
    mu = F.avg("gap_s")
    sd = F.stddev_samp(F.col("gap_s").cast("double"))
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.round(mu, round_to).alias("mean_gap_s"),
        F.round(sd / mu, round_to).alias("cv"),
        F.round((sd - mu) / (sd + mu), round_to).alias("burstiness"),
    )


def mad_outliers(events: DataFrame, cut: float = 3.0, round_to: int = 6) -> DataFrame:
    """Robust per-type value anomalies via median/MAD (the estimator
    `value_outliers`' mean/σ version breaks on heavy tails): (event_type,
    n_events, median_v, mad_v, n_outliers) with an outlier |v − median|
    > cut·MAD.  Two exact-percentile aggregates (group cardinality =
    events per type — swap in approx_percentile at 100 TB, same plan
    shape) + one broadcast join back; MAD = 0 groups report outliers
    against the strict > 0 bound."""
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type",
        "n_events",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("ad"),
    )
    mad = dev.groupBy("event_type", "n_events", "med").agg(
        F.expr("percentile(ad, 0.5)").alias("mad")
    )
    flagged = dev.join(
        F.broadcast(mad.select("event_type", "mad")), "event_type"
    ).select(
        "event_type",
        (F.col("ad") > cut * F.col("mad")).cast("int").alias("is_out"),
    )
    out = flagged.groupBy("event_type").agg(
        F.sum("is_out").cast("long").alias("n_outliers")
    )
    return mad.join(out, "event_type").select(
        "event_type",
        "n_events",
        F.round("med", round_to).alias("median_v"),
        F.round("mad", round_to).alias("mad_v"),
        "n_outliers",
    )


def peak_hour_load(
    events: DataFrame, window_s: int = 3600
) -> DataFrame:
    """Per-user PEAK rolling-hour load: the largest number of events any
    sliding `window_s`-second interval ending at one of the user's
    events contains, plus when it happened — the RANGE-interval frame
    analytic (RANGE BETWEEN W PRECEDING AND CURRENT ROW over epoch
    seconds), the time-valued sibling of moving_stats' ROWS frame.
    Returns (user_id, peak_n, peak_ep) with peak_ep the epoch second of
    the densest window's closing event (epoch, not a rendered string —
    timezone-proof across engines); ties break to the earliest closing
    second.

    The RANGE frame runs inside each user's partition (one shuffle on
    user_id, no global window), so the plan is a partitioned window +
    one argmax aggregate — frame width never materializes more than the
    in-window rows per user.  Events sharing a second share a frame and
    hence a count, so the tie-break on the second is total."""
    ep = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ep)
        .rangeBetween(-(window_s - 1), 0)
    )
    rolled = events.select(
        "user_id",
        ep.alias("ep"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
    )
    pick = Window.partitionBy("user_id").orderBy(
        F.col("n_1h").desc(), F.col("ep").asc()
    )
    return (
        rolled.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("n_1h").alias("peak_n"),
            F.col("ep").cast("long").alias("peak_ep"),
        )
    )


def cohort_ltv(orders: DataFrame, round_to: int = 6) -> DataFrame:
    """Customer-cohort lifetime value: customers grouped by FIRST-order
    month, revenue accumulated by month offset — the monetary sibling
    of retention_cohorts (users-retained) on the order stream.  Returns
    (cohort_month, month_offset, n_customers, revenue, cum_revenue_per_cust)
    where the running total divides by the cohort's FIXED size, the LTV
    curve every growth report draws.

    Two shuffles (first-order rollup on custkey, cohort-cell rollup) +
    one per-cohort ordered window over ≤ #months² cells.  Money rides
    integer cents (exact), month offset is integer month arithmetic."""
    first = orders.groupBy("o_custkey").agg(
        F.min(F.trunc(F.to_date("o_orderdate"), "month")).alias("m0")
    )
    sized = first.groupBy("m0").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_customers")
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cells = (
        orders.join(first, "o_custkey")
        .groupBy(
            F.date_format("m0", "yyyy-MM").alias("cohort_month"),
            (
                (F.year(F.to_date("o_orderdate")) - F.year("m0")) * 12
                + (F.month(F.to_date("o_orderdate")) - F.month("m0"))
            ).cast("long").alias("month_offset"),
        )
        .agg(F.sum(cents).alias("rev_c"))
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.join(
            sized.select(
                F.date_format("m0", "yyyy-MM").alias("cohort_month"), "n_customers"
            ),
            "cohort_month",
        )
        .select(
            "cohort_month",
            "month_offset",
            "n_customers",
            F.round(F.col("rev_c") / 100.0, round_to).alias("revenue"),
            F.round(
                F.sum("rev_c").over(w) / 100.0 / F.col("n_customers"), round_to
            ).alias("cum_revenue_per_cust"),
        )
    )


def did_estimate(
    events: DataFrame, salt: str = "did", round_to: int = 6
) -> DataFrame:
    """Difference-in-differences readout [Card-Krueger '94 form] over
    the corpus-midpoint panel: per-user pre/post value sums
    (zero-filled, same panel construction as cuped_ab_test), a
    deterministic 50/50 md5 user split as treat/control, and

        did = (post_T − pre_T) − (post_C − pre_C)

    in ONE single-row conditional aggregate over the per-user table.
    With the null hash assignment this is the A/A calibration read (did
    concentrates at 0); a real rollout substitutes its own assignment
    by salting on the rollout key.  Scale shape: one corpus scan → one
    user-keyed shuffle → a 1-row aggregate; the midpoint anchor is a
    broadcast scalar (integer seconds, engine/timezone-portable).
    """
    from linkgraph.textops.dedup import portable_hash60

    ep = F.unix_timestamp("ts")
    bounds = events.agg(F.min(ep).alias("mn"), F.max(ep).alias("mx")).select(
        F.floor((F.col("mn") + F.col("mx")) / 2).cast("long").alias("tmid")
    )
    per_user = (
        events.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(ep < F.col("tmid"), F.col("value"))), F.lit(0.0)
            ).alias("pre"),
            F.coalesce(
                F.sum(F.when(ep >= F.col("tmid"), F.col("value"))), F.lit(0.0)
            ).alias("post"),
        )
    )
    is_t = (
        F.pmod(
            portable_hash60(
                F.concat(F.col("user_id").cast("string"), F.lit("#" + salt))
            ),
            F.lit(2),
        )
        == 0
    )
    pre_t = F.avg(F.when(is_t, F.col("pre")))
    post_t = F.avg(F.when(is_t, F.col("post")))
    pre_c = F.avg(F.when(~is_t, F.col("pre")))
    post_c = F.avg(F.when(~is_t, F.col("post")))
    return per_user.agg(
        F.sum(F.when(is_t, 1).otherwise(0)).cast("long").alias("n_treat"),
        F.sum(F.when(~is_t, 1).otherwise(0)).cast("long").alias("n_ctrl"),
        F.round(pre_t, round_to).alias("pre_treat"),
        F.round(post_t, round_to).alias("post_treat"),
        F.round(pre_c, round_to).alias("pre_ctrl"),
        F.round(post_c, round_to).alias("post_ctrl"),
        F.round((post_t - pre_t) - (post_c - pre_c), round_to).alias("did"),
    )


def retention_lift(
    events: DataFrame, n_buckets: int = 10, round_to: int = 6
) -> DataFrame:
    """Decile lift / calibration curve: does pre-period activity predict
    post-period retention?  Per-user score = pre-period value sum
    (zero-filled, ROUNDED before bucketing so cross-engine last-ulp sum
    noise cannot flip a user across a cut), label = 1 iff the user has
    ANY post-period event; the corpus-midpoint anchor is the cuped_ab
    convention.  Users land in score buckets cut at exact percentiles
    — ONE percentile aggregate broadcast back, never a global
    sort/row_number (the no-partition window that would single-partition
    the corpus); bucket 1 = top scores.  Returns per bucket:
    (bucket, n_users, n_retained, retain_rate, cum_lift) where cum_lift
    is the cumulative top-b-bucket retention over the overall rate —
    the model-eval readout every targeting pipeline charts.  The cell
    table is ≤n_buckets rows, so the ordered cumulative window is
    bounded regardless of corpus size.
    """
    ep = F.unix_timestamp("ts")
    bounds = events.agg(F.min(ep).alias("mn"), F.max(ep).alias("mx")).select(
        F.floor((F.col("mn") + F.col("mx")) / 2).cast("long").alias("tmid")
    )
    per_user = (
        events.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.round(
                F.coalesce(
                    F.sum(F.when(ep < F.col("tmid"), F.col("value"))), F.lit(0.0)
                ),
                round_to,
            ).alias("score"),
            F.max(F.when(ep >= F.col("tmid"), 1).otherwise(0)).alias("label"),
        )
    )
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = per_user.agg(
        F.expr(
            "percentile(score, array({}))".format(",".join(str(q) for q in qs))
        ).alias("cs")
    )
    above = sum(
        (F.col("score") > F.col("cs").getItem(i)).cast("int")
        for i in range(len(qs))
    )
    cells = (
        per_user.crossJoin(F.broadcast(cuts))
        .select((F.lit(n_buckets) - above).alias("bucket"), "label")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("label").cast("long").alias("n_retained"),
        )
    )
    w_all = Window.partitionBy()
    w_cum = Window.partitionBy().orderBy("bucket")
    return cells.select(
        "bucket",
        "n_users",
        "n_retained",
        F.round(F.col("n_retained") / F.col("n_users"), round_to).alias(
            "retain_rate"
        ),
        F.round(
            (F.sum("n_retained").over(w_cum) / F.sum("n_users").over(w_cum))
            / (F.sum("n_retained").over(w_all) / F.sum("n_users").over(w_all)),
            round_to,
        ).alias("cum_lift"),
    )


def covariate_balance(
    events: DataFrame, salt: str = "did", round_to: int = 6
) -> DataFrame:
    """Covariate-balance audit for a hash A/B split: per pre-period
    covariate, the standardized mean difference between arms

        smd = (mean_T − mean_C) / sqrt((var_T + var_C) / 2)

    — the experiment-health check run BEFORE reading any effect (|smd|
    > 0.1 is the conventional imbalance flag).  Covariates are per-user
    pre-period aggregates (value sum, event count, active days) on the
    corpus-midpoint panel; the split reuses the portable-md5 family, so
    pairing it with did_estimate/cuped_ab_test audits exactly the
    assignment those read.  ONE user-keyed shuffle; the rest is a 1-row
    conditional aggregate unpivoted through a literal struct explode
    (the data_profile shape).  Variances are population variances of
    identical per-user doubles, flag compares the ROUNDED |smd|.
    """
    from linkgraph.textops.dedup import portable_hash60

    ep = F.unix_timestamp("ts")
    bounds = events.agg(F.min(ep).alias("mn"), F.max(ep).alias("mx")).select(
        F.floor((F.col("mn") + F.col("mx")) / 2).cast("long").alias("tmid")
    )
    pre = F.col("__ep") < F.col("tmid")
    per_user = (
        events.crossJoin(F.broadcast(bounds))
        .withColumn("__ep", ep)
        .groupBy("user_id")
        .agg(
            F.coalesce(F.sum(F.when(pre, F.col("value"))), F.lit(0.0)).alias(
                "pre_value"
            ),
            F.sum(F.when(pre, 1).otherwise(0)).cast("double").alias("pre_events"),
            F.countDistinct(
                F.when(pre, F.to_date("ts"))
            ).cast("double").alias("pre_days"),
        )
    )
    is_t = (
        F.pmod(
            portable_hash60(
                F.concat(F.col("user_id").cast("string"), F.lit("#" + salt))
            ),
            F.lit(2),
        )
        == 0
    )
    aggs = []
    for c in ("pre_value", "pre_events", "pre_days"):
        aggs += [
            F.avg(F.when(is_t, F.col(c))).alias(f"{c}__mt"),
            F.avg(F.when(~is_t, F.col(c))).alias(f"{c}__mc"),
            F.var_pop(F.when(is_t, F.col(c))).alias(f"{c}__vt"),
            F.var_pop(F.when(~is_t, F.col(c))).alias(f"{c}__vc"),
        ]
    row = per_user.agg(*aggs)
    packed = []
    for c in ("pre_value", "pre_events", "pre_days"):
        diff = F.col(f"{c}__mt") - F.col(f"{c}__mc")
        den = F.sqrt((F.col(f"{c}__vt") + F.col(f"{c}__vc")) / 2.0)
        # zero pooled variance (constant covariate): smd 0 when the
        # means agree, NULL (undefined/infinite) when they differ —
        # ANSI mode would otherwise raise divide-by-zero
        smd = (
            F.when(den > 0, diff / den)
            .when(F.round(diff, round_to) == 0.0, F.lit(0.0))
            .otherwise(F.lit(None).cast("double"))
        )
        packed.append(
            F.struct(
                F.lit(c).alias("covariate"),
                F.round(F.col(f"{c}__mt"), round_to).alias("mean_treat"),
                F.round(F.col(f"{c}__mc"), round_to).alias("mean_ctrl"),
                F.round(smd, round_to).alias("smd"),
                F.when(smd.isNull(), 1)
                .otherwise((F.abs(F.round(smd, round_to)) > 0.1).cast("int"))
                .cast("int")
                .alias("imbalanced"),
            )
        )
    return (
        row.select(F.explode(F.array(*packed)).alias("p"))
        .select("p.*")
        .orderBy("covariate")
    )


# Poisson(1) CDF thresholds for the deterministic bootstrap draw; shared
# verbatim with the SQL oracle so both engines parse identical doubles
POISSON1_CDF = (
    "0.36787944117144233",
    "0.73575888234288467",
    "0.91969860292860584",
    "0.98101184312384626",
    "0.99634015317265634",
    "0.99940581518241833",
    "0.99991675885071196",
)
_H60_SPAN = 1152921504606846976  # 2^60


def poisson_bootstrap_mean(
    events: DataFrame, b: int = 100, salt: str = "boot", round_to: int = 6
) -> DataFrame:
    """Poisson bootstrap [Chamandy et al., Google 2012] for the mean
    per-user value sum: each of `b` replicates reweights every user by
    an independent Poisson(1) draw — the resampling scheme that needs
    NO global coordination, which is why it is the uncertainty method
    for massive data (a multinomial bootstrap would need the total row
    count inside the draw).  Returns one row:
    (n_users, n_reps, est, boot_se, ci_lo, ci_hi) with the percentile
    2.5/97.5 interval.

    Determinism: the draw is md5(user#replicate#salt) mapped through
    the Poisson(1) CDF thresholds above (shared verbatim with the
    oracle), so every engine resamples identically — bootstrap
    without a random number generator.  Plan: ONE user rollup shuffle,
    the replicate explode runs over the per-user table only (|U|·b
    rows, never raw events), replicate means are a b-row aggregate and
    the CI is an exact percentile over b values.
    """
    from linkgraph.textops.dedup import portable_hash60

    per_user = events.groupBy("user_id").agg(F.sum("value").alias("x"))
    reps = per_user.crossJoin(
        events.sparkSession.range(int(b)).select(F.col("id").alias("rep"))
    )
    u = (
        portable_hash60(
            F.concat(
                F.col("user_id").cast("string"),
                F.lit("#"),
                F.col("rep").cast("string"),
                F.lit("#" + salt),
            )
        )
        / F.lit(float(_H60_SPAN))
    )
    w = F.lit(7)
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(float(POISSON1_CDF[k])), k).otherwise(w)
    cells = (
        reps.select("rep", (w.cast("double") * F.col("x")).alias("wx"),
                    w.cast("double").alias("w"))
        .groupBy("rep")
        .agg(F.sum("wx").alias("sx"), F.sum("w").alias("sw"))
        .where(F.col("sw") > 0)
        .select((F.col("sx") / F.col("sw")).alias("m"))
    )
    stats = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_reps"),
        F.round(F.stddev_samp("m"), round_to).alias("boot_se"),
        F.round(F.expr("percentile(m, 0.025)"), round_to).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), round_to).alias("ci_hi"),
    )
    est = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.avg("x"), round_to).alias("est"),
    )
    return est.crossJoin(F.broadcast(stats)).select(
        "n_users", "n_reps", "est", "boot_se", "ci_lo", "ci_hi"
    )


def entry_exit_matrix(
    events: DataFrame, gap_seconds: int = 28800, round_to: int = 6
) -> DataFrame:
    """Session entry/exit matrix + bounce rate — the landing/exit-page
    report of product analytics: sessions by the standard gap rule
    (sessionize's windows), each classified by its FIRST and LAST event
    type, rolled up to (entry_type, exit_type) cells with
    (n_sessions, n_bounce, bounce_rate, share).  A bounce is a
    single-event session.

    Plan: ONE exchange on user, the session flag + cumsum + first/last
    row_number windows all run inside user partitions on (ts, event_id)
    total order (the desc window re-sorts within the partition, no new
    shuffle), one session rollup, then a ≤|types|² cell table where the
    global share window is bounded by the type vocabulary, not the
    corpus.  First/last via rank-conditional MAX, not argmin over
    structs — the portable form both engines agree on.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_timestamp("ts")
    f = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(ep - F.lag(ep).over(w) > gap_seconds, 1).otherwise(0).alias("nw"),
    )
    s = f.withColumn(
        "sno", F.sum("nw").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    ws = Window.partitionBy("user_id", "sno")
    marked = s.select(
        "user_id",
        "sno",
        "event_type",
        F.row_number()
        .over(ws.orderBy(F.col("ts").asc(), F.col("event_id").asc()))
        .alias("rf"),
        F.row_number()
        .over(ws.orderBy(F.col("ts").desc(), F.col("event_id").desc()))
        .alias("rl"),
    )
    sess = marked.groupBy("user_id", "sno").agg(
        F.max(F.when(F.col("rf") == 1, F.col("event_type"))).alias("entry_type"),
        F.max(F.when(F.col("rl") == 1, F.col("event_type"))).alias("exit_type"),
        F.count(F.lit(1)).alias("n_ev"),
    )
    cells = sess.groupBy("entry_type", "exit_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("n_ev") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounce"),
    )
    wall = Window.partitionBy()
    return cells.select(
        "entry_type",
        "exit_type",
        "n_sessions",
        "n_bounce",
        F.round(F.col("n_bounce") / F.col("n_sessions"), round_to).alias(
            "bounce_rate"
        ),
        F.round(
            F.col("n_sessions") / F.sum("n_sessions").over(wall), round_to
        ).alias("share"),
    )
