"""Spectral bisection via a deflated power iteration on the shifted
Laplacian — the classic relaxation of minimum balanced cut [Fiedler '73;
Pothen-Simon-Liou '90].

M = d_max·I − L = (d_max − deg)·I + A is positive semidefinite with the
same eigenvectors as L in reverse order: the all-ones vector is M's top
eigenvector, and the SECOND one is the Fiedler vector whose signs give
the bisection.  Power-iterating a mean-CENTERED vector finds it
directly: <1, Mx> = <M1, x> = d_max·<1, x> = 0, so orthogonality to the
all-ones direction is preserved in exact arithmetic.  In FLOAT it is
not, and the residue amplifies by d_max/(d_max−λ₂) per round — on a
near-clique that ratio is ~n, and a 1e-17 seed reaches order one within
8 rounds (measured: the sf0.01 user graph is a 150-clique and one-time
centering diverged engines by 0.09).  So the iteration RE-CENTERS every
round: subtracting the mean is idempotent in exact math and annihilates
the drift each step, leaving ~1e-14 cumulative error — well under the
1e-6 contract rounding.  An eigensolver this is not; it is the sign
structure a partitioning pass needs.

Deterministic-everything: the start vector is the portable md5 hash of
the vertex id mapped to [0,1) then centered, so the iteration — and
hence the sign convention — reproduces bit-for-bit-at-1e-6 across
engines and retries.  Deferred normalization (the eigen.py trick) keeps
the per-round work ONE expand + one join: magnitudes grow ~(2·d_max)^R,
far inside double range for practical R, and a single max-|x| divide at
the end rescales.

Scale: per round, one frontier-expand join (byte-gated broadcast /
salted / shuffle via LinkGraph.expand) + one join against the cached
degree table — identical plan shape to PageRank without the dangling
redistribution.  Disconnected graphs converge toward component
indicators instead; the sign split is then a (coarser but valid) cut,
and still deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.iterate import fixpoint


def _h01(key):
    """Portable md5 → [0, 1) (the repo-wide engine-identical family)."""
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    return (h % 1_000_000) / 1_000_000.0


def fiedler_partition(
    graph: LinkGraph, rounds: int = 8, round_to: int = 6
) -> DataFrame:
    """Returns (vid, fiedler, side): the normalized (max-|x| = 1)
    iterated vector and its sign split, side = 1 where the ROUNDED
    value is >= 0 (rounding first keeps the boundary engine-stable)."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    deg = graph.degrees()  # (vid, deg), cached
    dmax = float(deg.agg(F.max("deg")).collect()[0][0])
    n = graph.num_vertices()
    h = _h01(F.concat(F.col("vid").cast("string"), F.lit("#fiedler")))
    hv = deg.select("vid", "deg", h.alias("hv"))
    mean = hv.agg(F.avg("hv").alias("mu"))

    def step(state: DataFrame, _metrics: dict) -> DataFrame:
        msgs = state.select(F.col("vid").alias("src"), F.col("x").alias("m"))
        acc = graph.expand(msgs, est_rows=n).groupBy("dst").agg(F.sum("m").alias("acc"))
        raw = (
            state.alias("st")
            .join(acc.alias("cb"), F.col("st.vid") == F.col("cb.dst"), "left")
            .select(
                F.col("st.vid").alias("vid"),
                F.col("st.deg").alias("deg"),
                (
                    (F.lit(dmax) - F.col("st.deg")) * F.col("st.x")
                    + F.coalesce(F.col("cb.acc"), F.lit(0.0))
                ).alias("xr"),
            )
        )
        mu = raw.agg(F.avg("xr").alias("mu"))
        return raw.crossJoin(F.broadcast(mu)).select(
            "vid", "deg", (F.col("xr") - F.col("mu")).alias("x")
        )

    state, _, _ = fixpoint(
        hv.crossJoin(F.broadcast(mean)).select(
            "vid", "deg", (F.col("hv") - F.col("mu")).alias("x")
        ),
        step,
        lambda st, _: {"rows": st.count()},
        lambda m, _: False,
        rounds,
    )
    mx = state.agg(F.max(F.abs(F.col("x"))).alias("mx"))
    scaled = F.round(
        F.col("x") / F.when(F.col("mx") > 0, F.col("mx")), round_to
    )
    return state.crossJoin(F.broadcast(mx)).select(
        "vid",
        scaled.alias("fiedler"),
        (scaled >= 0).cast("long").alias("side"),
    )
