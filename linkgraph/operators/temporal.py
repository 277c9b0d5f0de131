"""Temporal graphs: banded interval self-join + time-respecting reachability.

Two operators a transcript/event link graph needs that the static kernels
cannot express:

`temporal_contact_edges` — derive (src, dst, t) contact edges: two users
touch when they emit the SAME event_type within `window_s` seconds; the
contact happens at the LATER of the two timestamps (information can flow
only once both sides have acted).  This is a genuine RANGE join
(|ts_a − ts_b| ≤ W), executed as a BANDED equi-join, never a cross
product: each event lands in time bucket floor(epoch/W); any pair within
W spans bucket distance ≤ 1, so replicating ONE side into buckets
{b−1, b, b+1} and equi-joining on (event_type, bucket) finds every
qualifying pair exactly once (the probe row has a single bucket value,
and the three replica keys are distinct — no dedup join needed, just the
exact |Δ| ≤ W filter after the match).  Shuffle keys are
(event_type, bucket): time-local, so a 100 TB event log joins in
O(|E| · density-per-bucket) instead of O(|E|²) — the classic bucketed
interval-join plan Spark's own range-join hint implements for Delta.

`earliest_arrival` — time-respecting single/multi-source reachability
[Holme & Saramäki, Temporal Networks, Phys. Rep. 2012]: a path must use
contacts with non-decreasing times; arrival(v) is the earliest moment v
can have heard from any source (sources start at t = −∞, i.e. every
contact is usable).  Static reachability OVERSTATES temporal
reachability — u→v at 09:00 and v→w at 08:00 gives u→w statically but
not temporally — which is exactly why a propagation/influence question
over transcripts needs this operator and not connected components.

Delta-relaxation shape (the SSSP frontier pattern, `algos/sssp.py`):
per round, only vertices whose arrival IMPROVED last round re-send
(arrivals are monotone non-increasing and a smaller arrival only ever
ADMITS more edges, so contributions from unchanged vertices are already
final); one join frontier⋈edges on src + one MIN-per-dst aggregate per
round; state is (vid, arr, improved) — O(|V|) longs, one
`linkgraph.iterate.fixpoint` iteration a round (one fused job, lineage cut
every round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.iterate import fixpoint


def temporal_contact_edges(
    events: DataFrame, window_s: int = 600
) -> DataFrame:
    """(src, dst, t) directed both ways for every pair of distinct users
    with same-event_type events within window_s seconds; t = the later
    event's epoch second (floored to integer seconds — engine-portable).
    Distinct contact times only: repeated contacts collapse."""
    if window_s <= 0:
        raise ValueError(f"window_s must be positive: {window_s}")
    ev = events.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("k"),
        F.floor(F.unix_timestamp("ts")).cast("long").alias("e"),
    )
    b = F.floor(F.col("e") / F.lit(window_s))
    # replicate the left side into the 3 buckets a partner could occupy
    left = ev.select(
        "u", "k", "e", F.explode(F.array(b - 1, b, b + 1)).alias("bkt")
    )
    right = ev.select(
        F.col("u").alias("u2"),
        F.col("k"),
        F.col("e").alias("e2"),
        b.alias("bkt"),
    )
    # join KEYS are (k, bkt) — both in the equi-key so the shuffle hashes
    # on (event_type, bucket), not bucket alone (bucket-only keys would
    # collide every event type of a time slice onto one reducer)
    pairs = (
        left.join(right, ["k", "bkt"])
        .where(
            (F.col("u") < F.col("u2"))
            & (F.abs(F.col("e") - F.col("e2")) <= window_s)
        )
        .select(
            F.col("u").alias("a"),
            F.col("u2").alias("b"),
            F.greatest("e", "e2").alias("t"),
        )
        .distinct()
    )
    fwd = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"), "t")
    rev = pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"), "t")
    return fwd.unionByName(rev)


def earliest_arrival(
    tedges: DataFrame, sources: DataFrame, rounds: int = 8
) -> DataFrame:
    """Earliest time-respecting arrival from any source.

    tedges: (src, dst, t);  sources: one column `vid`.
    Returns (vid, arrival) for every temporally reachable vertex;
    sources report their earliest inbound contact too (or stay at the
    sentinel −1 if none) — arrival means "earliest moment v has heard
    from a source", with sources known at t = −∞ (arrival −1 < all real
    epochs, so every outbound contact is usable).

    Runs exactly `rounds` relaxation rounds (or stops early at the
    fixpoint, after which further rounds are identity — the same
    fixed-budget contract the LPA/MIS oracles use)."""
    e = tedges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col("t").cast("long").alias("t"),
    ).repartition("src")
    e = e.persist()

    def step(state: DataFrame, _m: dict) -> DataFrame:
        cand = (
            e.join(state.where(F.col("improved")).select(F.col("vid").alias("src"), "arr"), "src")
            .where(F.col("t") >= F.col("arr"))
            .groupBy("dst")
            .agg(F.min("t").alias("cand"))
        )
        return (
            state.alias("s")
            .join(cand.alias("c"), F.col("s.vid") == F.col("c.dst"), "full_outer")
            .select(
                F.coalesce(F.col("s.vid"), F.col("c.dst")).alias("vid"),
                F.least(F.col("s.arr"), F.col("c.cand")).alias("arr"),
                (F.col("s.arr").isNull() | (F.col("c.cand") < F.col("s.arr"))).alias(
                    "improved"
                ),
            )
        )

    def frontier(state: DataFrame, _m: dict | None = None) -> dict:
        return {"improved": state.where(F.col("improved")).count()}

    arr, _, _ = fixpoint(
        sources.select(F.col("vid").cast("long").alias("vid"))
        .distinct()
        .select("vid", F.lit(-1).cast("long").alias("arr"), F.lit(True).alias("improved")),
        step,
        frontier,
        lambda m, _: m["improved"] == 0,
        rounds,
        seed_metrics=frontier,
    )
    e.unpersist()
    return arr.select(
        F.col("vid").cast("long").alias("vid"),
        F.col("arr").cast("long").alias("arrival"),
    )
