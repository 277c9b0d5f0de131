"""Full-graph ANF: Flajolet–Martin probabilistic-counter neighborhood
function over ALL vertices — the scale path the per-sample
`msbfs.neighborhood_function` (exact over ≤512 sources) cannot give.

[ANF: Palmer/Gibbons/Faloutsos KDD'02].  Every vertex carries k FM
bitmaps (one int64 limb each; bit p set with probability 2^-(p+1) via the
trailing-zero count of a per-(vertex, lane) hash).  One propagation round
is EXACTLY the MS-BFS ANP shape (K1/A1): frontier-expand equi-join on src
+ per-limb `bit_or` aggregation on dst + merge-OR into state — sketch
union is free under bit_or, which is why the estimator distributes.  After
round h the sketch at v summarizes {u : d(v,u) ≤ h}, so

    N(h) = Σ_v |ball(v,h)| ≈ Σ_v 2^(mean_j R_j(v)) / 0.77351,

R_j = position of the lowest ZERO bit of limb j (computed branch-free as
`bit_count(m ^ (m+1)) - 1`, pure codegen).  Standard error ~0.78/√k.

Per-round cost: one |E|-row shuffle + one |V|-row state merge — identical
to a PageRank round with k int64 columns of payload; state is k·8 bytes a
vertex (10^9 vertices × k=64 → 512 GB spread across the cluster, the
regime where the exact 512-lane batch would need 10^9 × |V| bits).  The
per-round estimate folds into ONE extra tiny aggregate: a groupBy on the
integer S = Σ_j R_j (≤ 64k distinct values, map-side combined) whose
≤64k-row histogram is a bounded driver collect; nf is then evaluated
driver-side in deterministic order.  Convergence (no limb changed — also
read off the same histogram action) stops the distributed loop early and
the curve is emitted flat to max_h, matching the fixed-depth oracle.

hash_mode="portable" uses the md5-based 60-bit hash family
(`textops.dedup.portable_hash60` — identical in DuckDB, giving the driver
query a bit-exact all-pairs recursive-CTE oracle at fixture scale);
"fast" swaps in xxhash64 for production (same plan, 64-bit lanes).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.iterate import fixpoint, release

_FM_PHI = 0.77351  # Flajolet–Martin bias correction


def _fm_init_limb(j: int, hash_mode: str):
    """Initial FM limb for lane j: 1 << trailing_zeros(hash(vid, j)).

    portable: 60-bit md5 hash (DuckDB-reproducible); trailing zeros ≤ 59
    so the shift never reaches the sign bit.  fast: xxhash64 (any 64-bit
    pattern; trailing-zero math is sign-agnostic).  hash == 0 maps to the
    top position so the lane stays well-defined.
    """
    key = f"concat(cast(vid as string), '#anf#{j}')"
    if hash_mode == "portable":
        h, top = f"cast(conv(substring(md5({key}), 1, 15), 16, 10) as bigint)", 59
    else:
        h, top = f"xxhash64({key})", 63
    return F.expr(
        f"shiftleft(1L, case when {h} = 0 then {top} "
        f"else cast(bit_count(({h} & -{h}) - 1L) as int) end)"
    )


def _s_expr(k: int):
    """S = Σ_j R_j with R_j = lowest-zero-bit position of limb j
    (bit_count(m ^ (m+1)) - 1) — integer, so the per-round histogram
    groups exactly and the float estimate is evaluated once, driver-side,
    in a deterministic order both engines reproduce."""
    terms = [
        F.bit_count(F.col(f"m{j}").bitwiseXOR(F.col(f"m{j}") + F.lit(1).cast("long")))
        - F.lit(1)
        for j in range(k)
    ]
    s = terms[0]
    for t in terms[1:]:
        s = s + t
    return s


def _nf_from_hist(hist: list[tuple[int, int]], k: int) -> float:
    """Σ_S cnt·2^(S/k) / φ, summed in sorted-S order (deterministic)."""
    tot = 0.0
    for s, cnt in sorted(hist):
        tot += cnt * math.pow(2.0, s / k)
    return round(tot / _FM_PHI, 3)


def _sketch_round(graph: LinkGraph, k: int):
    """The `fixpoint` step both sketch kernels share: one propagation round
    over a state (vid, m0..m{k-1}, ...): expand every sketch along the
    edges, `bit_or` per destination, OR into the state.  Other state
    columns pass through; `_chg` marks the rows whose sketch grew."""
    n = graph.num_vertices()
    mcols = [f"m{j}" for j in range(k)]

    def step(state: DataFrame, _m: dict) -> DataFrame:
        msgs = state.select(
            F.col("vid").alias("src"), *[F.col(m).alias(f"v{j}") for j, m in enumerate(mcols)]
        )
        agg = (
            graph.expand(msgs, est_rows=n)  # full-|V| frontier: never broadcast
            .groupBy("dst")
            .agg(*[F.bit_or(f"v{j}").alias(f"a{j}") for j in range(k)])
        )
        merged = [F.expr(f"m{j} | coalesce(a{j}, 0L)") for j in range(k)]
        chg = merged[0] != F.col("m0")
        for j in range(1, k):
            chg = chg | (merged[j] != F.col(f"m{j}"))
        rest = [c for c in state.columns if c not in mcols and c not in ("vid", "_chg")]
        return state.join(agg, state["vid"] == agg["dst"], "left").select(
            state["vid"], *[e.alias(m) for e, m in zip(merged, mcols)], *rest,
            chg.alias("_chg"),
        )

    return step


def _sketch_seed(graph: LinkGraph, k: int, hash_mode: str) -> DataFrame:
    return graph.vertices().select(
        "vid", *[_fm_init_limb(j, hash_mode).alias(f"m{j}") for j in range(k)]
    )


def anf_full(
    graph: LinkGraph,
    k: int = 8,
    max_h: int = 8,
    hash_mode: str = "portable",
) -> DataFrame:
    """(h, nf) for h = 0..max_h: the estimated neighborhood function
    N(h) = |{(u,v) : d(u,v) ≤ h}| over ALL vertices.

    The distributed loop stops as soon as no sketch changes (the curve is
    then exact-flat and emitted without further rounds up to max_h, so the
    output shape is depth-deterministic and oracle-comparable).
    """
    if k < 1:
        raise ValueError("anf_full needs k >= 1 sketch lanes")

    def histogram(state: DataFrame, m: dict | None = None) -> dict:
        """The round's one action: the S histogram (and the changed-row
        count) of the new state, folded into the curve."""
        agg = [F.count("*").alias("c")]
        if m is not None:
            agg.append(F.sum(F.col("_chg").cast("long")).alias("ch"))
        rows = state.groupBy(_s_expr(k).alias("S")).agg(*agg).collect()
        nf = _nf_from_hist([(int(r["S"]), int(r["c"])) for r in rows], k)
        curve = (m["curve"] if m is not None else []) + [nf]
        changed = sum(int(r["ch"]) for r in rows) if m is not None else None
        return {"curve": curve, "changed": changed}

    state, m, _ = fixpoint(
        _sketch_seed(graph, k, hash_mode),
        _sketch_round(graph, k),
        histogram,
        lambda m, _: m["changed"] == 0,
        max_h,
        seed_metrics=histogram,
    )
    release(state)
    # converged early: the neighborhood function is flat from here on
    curve = m["curve"] + [m["curve"][-1]] * (max_h + 1 - len(m["curve"]))
    return graph.spark.createDataFrame(list(enumerate(curve)), "h int, nf double")


def effective_diameter_from_curve(curve: list[tuple[int, float]], q: float = 0.9) -> float:
    """Smallest h (linearly interpolated) with N(h) ≥ q·N(max) — the
    standard estimator, evaluated on an anf_full curve."""
    if not curve:
        return 0.0
    hs = [h for h, _ in sorted(curve)]
    nfs = [v for _, v in sorted(curve)]
    target = q * nfs[-1]
    for i, v in enumerate(nfs):
        if v >= target:
            if i == 0:
                return float(hs[0])
            lo, hi = nfs[i - 1], v
            return float(hs[i - 1] + (target - lo) / max(hi - lo, 1e-12))
    return float(hs[-1])


def _pow2_s_over_k(s: str, k: int, dialect: str) -> str:
    """2^(s/k) as an exactly cross-engine-reproducible SQL expression.

    `pow(2.0, s/k)` is NOT guaranteed bit-identical between the JVM
    (Math.pow, 1-ulp spec) and DuckDB (libm), and the driver's value hash
    compares floats after round(9) — a 1-ulp divergence sitting on a
    rounding boundary would flake.  Instead decompose exactly:

        2^(s/k) = C[s % k] * 2^(s div k),   C[i] = 2^(i/k)

    The k constants ship as 17-significant-digit STRING literals cast to
    double (strtod is correctly rounded in both engines → identical bits),
    the power of two is an exact bigint shift, and double multiplication
    is IEEE-exact-rounded everywhere — so both engines produce the SAME
    double, bit for bit, before any rounding.
    """
    branches = " ".join(
        f"WHEN {i} THEN CAST('{2.0 ** (i / k)!r}' AS DOUBLE)" for i in range(k)
    )
    if dialect == "spark":
        shift = f"shiftleft(1L, cast(({s}) div {k} as int))"
    else:
        shift = f"(CAST(1 AS BIGINT) << CAST(({s}) // {k} AS INT))"
    return f"((CASE (({s}) % {k}) {branches} END) * CAST({shift} AS DOUBLE))"


def harmonic_projection_sql(k: int, max_h: int, dialect: str) -> str:
    """hc = round(Σ_h (2^(s_h/k) − 2^(s_{h−1}/k))/h / φ, 6) as one
    fixed-order expression (left-assoc sum, h ascending) over integer
    columns s0..s{max_h} — the SAME text shape in Spark and DuckDB modulo
    shift syntax, so the per-vertex floats agree bit-for-bit (see
    `_pow2_s_over_k`)."""
    terms = " + ".join(
        f"({_pow2_s_over_k(f's{h}', k, dialect)}"
        f" - {_pow2_s_over_k(f's{h - 1}', k, dialect)}) / {h}"
        for h in range(1, max_h + 1)
    )
    return f"round(({terms}) / CAST('{_FM_PHI}' AS DOUBLE), 6)"


def hyperball_harmonic(
    graph: LinkGraph,
    k: int = 8,
    max_h: int = 8,
    hash_mode: str = "portable",
) -> DataFrame:
    """(vid, hc): estimated harmonic centrality for EVERY vertex,
    hc(v) = Σ_{h≥1} (|ball(v,h)| − |ball(v,h−1)|)/h, with ball sizes from
    the same FM sketch lanes as anf_full — the HyperBall algorithm
    [Boldi & Vigna, "In-Core Computation of Geometric Centralities with
    HyperBall", WAW 2013], which is how harmonic centrality is computed on
    billion-vertex graphs (the exact MS-BFS batch covers ≤512 sources per
    pass; this covers ALL sources in max_h rounds).  On a symmetric
    LinkGraph balls are symmetric; for digraph semantics feed the
    transpose graph (in-balls), as HyperBall does.

    Distributed shape: identical per-round cost to anf_full (one |E|
    shuffle + one |V| merge).  The per-round integer S = Σ_j R_j is
    appended to the state as a COLUMN (s0..s{max_h}), so the float
    estimate arithmetic happens ONCE, in the final projection, as a
    fixed-order cross-engine-exact expression (`harmonic_projection_sql`)
    — the per-vertex output stays distributed end to end (no driver
    collect of |V| rows).  Ball growth is monotone under bit_or, so the
    estimate differences are nonnegative by construction.
    """
    if k < 1:
        raise ValueError("hyperball_harmonic needs k >= 1 sketch lanes")
    sketch_round = _sketch_round(graph, k)

    def step(state: DataFrame, m: dict) -> DataFrame:
        return sketch_round(state, m).withColumn(f"s{m['h'] + 1}", _s_expr(k))

    state, _, _ = fixpoint(
        _sketch_seed(graph, k, hash_mode).withColumn("s0", _s_expr(k)),
        step,
        lambda st, m: {"h": m["h"] + 1, "rows": st.count()},
        lambda m, _: False,
        max_h,
        seed_metrics=lambda _: {"h": 0},
    )
    return state.select(
        F.col("vid").cast("long").alias("vid"),
        F.expr(harmonic_projection_sql(k, max_h, "spark")).alias("hc"),
    )


def diameter_double_sweep(
    graph, max_levels: int = 16, start: int | None = None
):
    """Double-sweep diameter lower bound [Magnien, Latapy & Habib 2009
    public technique]: BFS from a start vertex, take its FARTHEST vertex
    (max dist, min-vid tie-break), BFS again from there — the second
    sweep's eccentricity is the classic near-tight diameter lower bound
    at the cost of exactly TWO single-source traversals (the exact
    diameter needs |V| of them; the ANF sketch gives the distribution,
    this gives the certified bound).

    Returns one row (start_vid, far_vid, diameter_lb).  On a
    disconnected graph the bound covers the start vertex's component.
    Both sweeps ride the MS-BFS kernel (single lane); the two farthest-
    vertex picks are bounded one-row driver actions, the deterministic
    tie-break making the whole query engine-portable.
    """
    from pyspark.sql import functions as F

    from linkgraph.algos.msbfs import msbfs

    if start is None:
        start = int(graph.vertices().agg(F.min("vid")).first()[0])

    def _sweep(src: int):
        res = msbfs(graph, [int(src)], emit_distances=True, max_levels=max_levels)
        return res.distances_df

    d1 = _sweep(start)
    far = (
        d1.orderBy(F.col("dist").desc(), F.col("vid").asc())
        .select("vid", "dist")
        .first()
    )
    d2 = _sweep(int(far["vid"]))
    far2 = (
        d2.orderBy(F.col("dist").desc(), F.col("vid").asc())
        .select("vid", "dist")
        .first()
    )
    spark = graph.spark
    return spark.createDataFrame(
        [(int(start), int(far["vid"]), int(far2["dist"]))],
        "start_vid long, far_vid long, diameter_lb long",
    )
