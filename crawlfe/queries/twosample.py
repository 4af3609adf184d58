"""Feature-eng pack #129 (r4): multivariate two-sample shift tests —
did the user population drift between the first and second half of
the month?  Samples: per-user integer feature vectors (n_events,
n_purchases, active_days) computed on days 1-15 (X) vs 16+ (Y).

Engine-portability discipline: pairwise kernel/distance values are
QUANTIZED to integers (1e12 for kernels, 1e6 for distances) before
summing, so the O(n^2) reductions are exact BIGINT sums in both
engines — immune to hash-agg association order at any scale.

* ``mmd_shift`` — squared Maximum Mean Discrepancy with an RBF
  kernel, bandwidth = mean pairwise squared distance over the
  pooled sample (an exact integer moment).
* ``energy_distance`` — Szekely's energy distance 2 E|X-Y| -
  E|X-X'| - E|Y-Y'| on the same pairs.
* ``ks_proj_max`` — max Kolmogorov-Smirnov statistic over three
  fixed integer projections (1,0,0), (1,1,1), (3,-1,2): projected
  values stay integers, so the ECDF gap is exact.

Scale shape: the pair grids are bounded by the per-half user panel
(broadcast join); at production scale the panel would be sampled
first — the quantized-sum discipline is what survives the scale-up.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_TS_KQ = 1_000_000_000_000  # kernel quantization
_TS_DQ = 1_000_000  # distance quantization
_TS_PROJ = ((1, 0, 0), (1, 1, 1), (3, -1, 2))


def _halves(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.dayofmonth(F.col("ts").cast("timestamp")).alias("day"),
        (F.col("event_type") == "purchase").alias("buy"),
    )

    def feats(cond, tag):
        return (
            e.where(cond)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("f1"),
                F.sum(F.col("buy").cast("bigint"))
                .cast("bigint")
                .alias("f2"),
                F.countDistinct("day").cast("bigint").alias("f3"),
            )
            .select(
                F.col("user_id").alias(f"{tag}_id"), "f1", "f2", "f3"
            )
        )

    return feats(F.col("day") <= 15, "x"), feats(
        F.col("day") > 15, "y"
    )


def _sq(a, b, f):
    return (F.col(f"{a}.{f}") - F.col(f"{b}.{f}")) * (
        F.col(f"{a}.{f}") - F.col(f"{b}.{f}")
    )


def _pairs3(x, y):
    """(xx, yy, xy) pair DataFrames with integer sq distance d2."""
    xa, xb = x.alias("a"), x.select(
        F.col("x_id").alias("y_id"), "f1", "f2", "f3"
    ).alias("b")
    ya, yb = y.alias("a"), y.alias("b")

    def with_d2(a, b, cond):
        d2 = sum(_sq("a", "b", f) for f in ("f1", "f2", "f3"))
        return a.join(b, cond).select(
            d2.cast("bigint").alias("d2")
        )

    xx = with_d2(xa, xb, F.col("a.x_id") < F.col("b.y_id"))
    yy = with_d2(
        ya,
        y.select(
            F.col("y_id").alias("z_id"), "f1", "f2", "f3"
        ).alias("b"),
        F.col("a.y_id") < F.col("b.z_id"),
    )
    xy = with_d2(
        x.alias("a"), y.alias("b"), F.lit(True)
    )
    return xx, yy, xy


def q_mmd_shift(spark, sf_dir):
    """RBF-KERNEL MMD^2 between the half-month user panels; kernel
    values quantized to 1e-12 before exact integer summation.

    The bandwidth (mean pairwise squared distance over the pooled
    sample) is computed from CLOSED-FORM MOMENTS, never by
    materializing pairs:  Σ_{i<j}|x_i-x_j|² = Σ_f (n·S2_f - S1_f²)
    and  Σ_{i,j}|x_i-y_j|² = Σ_f (n_y·S2x_f + n_x·S2y_f - 2 S1x_f
    S1y_f) — six exact integer sums per side.  The r4 variant
    localCheckpoint'ed the full pooled pair grid (3.4e8 rows at the
    10x tier, a 7.9 GiB cache that thrashed to 442 s); moments make
    the bandwidth pass O(n), and each kernel grid is then consumed
    exactly once, streaming, never cached.  The kernel sums remain
    O(n²) BY DEFINITION (exact MMD evaluates every pair); the
    documented production path for the statistic at scale is sampling
    the panel first."""
    x, y = _halves(spark, sf_dir)
    x = x.localCheckpoint(eager=True)
    y = y.localCheckpoint(eager=True)
    xx, yy, xy = _pairs3(x, y)

    def moments(p, tag):
        dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
        return p.agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias(f"n_{tag}"),
            *[
                dec(F.sum(F.col(f))).alias(f"s1_{f}_{tag}")
                for f in ("f1", "f2", "f3")
            ],
            *[
                dec(F.sum(F.col(f) * F.col(f))).alias(f"s2_{f}_{tag}")
                for f in ("f1", "f2", "f3")
            ],
        )

    mx = moments(x, "x")
    my = moments(y, "y")
    m = mx.crossJoin(my)
    sum_within = sum(
        F.col(f"n_{t}") * F.col(f"s2_{f}_{t}")
        - F.col(f"s1_{f}_{t}") * F.col(f"s1_{f}_{t}")
        for t in ("x", "y")
        for f in ("f1", "f2", "f3")
    )
    sum_cross = sum(
        F.col("n_y") * F.col(f"s2_{f}_x")
        + F.col("n_x") * F.col(f"s2_{f}_y")
        - 2 * F.col(f"s1_{f}_x") * F.col(f"s1_{f}_y")
        for f in ("f1", "f2", "f3")
    )
    n_pairs = (
        F.col("n_x") * (F.col("n_x") - 1) / 2
        + F.col("n_y") * (F.col("n_y") - 1) / 2
        + F.col("n_x") * F.col("n_y")
    )
    sig = m.select(
        (
            (sum_within + sum_cross).cast("double")
            / n_pairs.cast("double")
        ).alias("s2")
    )

    def kmean(p, name):
        j = p.crossJoin(F.broadcast(sig))
        k = F.round(
            F.exp(
                -F.col("d2").cast("double") / (2 * F.col("s2"))
            )
            * _TS_KQ
        ).cast("bigint")
        # DECIMAL(38,0) accumulator (r5): quantized kernels reach 1e12
        # per pair, so a BIGINT sum overflows past ~9e6 pairs (hit at
        # the 10x tier's 1.1e8-pair grid). DuckDB's sum(BIGINT) widens
        # to HUGEINT natively; Spark must widen explicitly. Same exact
        # integer sum, 1e38 headroom.
        return j.agg(
            (
                F.sum(k.cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1))
                / _TS_KQ
            ).alias(name)
        )

    mxx = kmean(xx, "kxx")
    myy = kmean(yy, "kyy")
    mxy = kmean(xy, "kxy")
    return (
        mxx.crossJoin(myy)
        .crossJoin(mxy)
        .select(
            F.round("kxx", 6).alias("mean_kxx"),
            F.round("kyy", 6).alias("mean_kyy"),
            F.round("kxy", 6).alias("mean_kxy"),
            F.round(
                F.col("kxx") + F.col("kyy") - 2 * F.col("kxy"), 6
            ).alias("mmd2"),
        )
    )


def q_energy_distance(spark, sf_dir):
    """SZEKELY ENERGY DISTANCE 2E|X-Y| - E|X-X'| - E|Y-Y'| with
    micro-quantized integer distance sums."""
    x, y = _halves(spark, sf_dir)
    x = x.localCheckpoint(eager=True)
    y = y.localCheckpoint(eager=True)
    xx, yy, xy = _pairs3(x, y)

    def dmean(p, name):
        d = F.round(
            F.sqrt(F.col("d2").cast("double")) * _TS_DQ
        ).cast("bigint")
        # DECIMAL(38,0) accumulator: same overflow headroom fix as
        # mmd_shift's kernel sum (quantized distances reach ~1e11 per
        # pair; BIGINT saturates past ~9e7 pairs)
        return p.agg(
            (
                F.sum(d.cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1))
                / _TS_DQ
            ).alias(name)
        )

    mxx = dmean(xx, "dxx")
    myy = dmean(yy, "dyy")
    mxy = dmean(xy, "dxy")
    return (
        mxx.crossJoin(myy)
        .crossJoin(mxy)
        .select(
            F.round("dxx", 6).alias("mean_dxx"),
            F.round("dyy", 6).alias("mean_dyy"),
            F.round("dxy", 6).alias("mean_dxy"),
            F.round(
                2 * F.col("dxy") - F.col("dxx") - F.col("dyy"), 6
            ).alias("energy_dist"),
        )
    )


def q_ks_proj_max(spark, sf_dir):
    """MAX PROJECTED KS over three fixed integer directions; exact
    integer projections, exact ECDF gaps."""
    x, y = _halves(spark, sf_dir)
    rows = []
    for i, (w1, w2, w3) in enumerate(_TS_PROJ, 1):
        proj = (
            w1 * F.col("f1") + w2 * F.col("f2") + w3 * F.col("f3")
        ).cast("bigint")
        px = x.select(
            proj.alias("v"), F.lit(1).alias("isx")
        )
        py = y.select(proj.alias("v"), F.lit(0).alias("isx"))
        u = px.unionByName(py)
        cnts = u.agg(
            F.sum("isx").cast("double").alias("nx"),
            F.sum(1 - F.col("isx")).cast("double").alias("ny"),
        )
        wv = Window.orderBy("v").rangeBetween(
            Window.unboundedPreceding, 0
        )
        ks = (
            u.crossJoin(F.broadcast(cnts))
            .select(
                (
                    F.sum("isx").over(wv) / F.col("nx")
                    - F.sum(1 - F.col("isx")).over(wv)
                    / F.col("ny")
                ).alias("gap")
            )
            .agg(F.max(F.abs("gap")).alias("ks"))
        )
        rows.append(
            ks.select(
                F.lit(f"p{i}").alias("proj"),
                F.lit(f"({w1},{w2},{w3})").alias("direction"),
                F.round("ks", 6).alias("ks"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    wall = Window.partitionBy()
    return out.select(
        "proj",
        "direction",
        "ks",
        F.round(F.max("ks").over(wall), 6).alias("ks_max"),
    ).orderBy("proj")
