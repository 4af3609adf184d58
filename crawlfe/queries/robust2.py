"""Feature-eng pack #112 (r4): robust scale and shape — the
breakdown-resistant counterparts of stddev (huber_mean, mad_outliers
and trimmed_stats cover location; these cover scale and normality),
all on the exact daily-cents series (t = day, x_t = total cents).

* ``qn_sn_scale`` — Rousseeuw & Croux (1993) Qn and Sn estimators:
  Qn = 2.2219 x the k-th order statistic (k = C(h,2), h = n//2+1)
  of the C(n,2) pairwise gaps; Sn = 1.1926 x med_i med_{j!=i}
  |x_i - x_j| (simple interpolated medians).  Both have 50%
  breakdown vs MAD's implicit symmetry assumption.
* ``biweight_midvar`` — Tukey biweight midvariance (c = 9): the
  efficiency-retaining robust variance, with the median/MAD it is
  built from.
* ``dagostino_k2`` — D'Agostino-Pearson omnibus normality test:
  Z1(skewness) via D'Agostino (1970), Z2(kurtosis) via
  Anscombe-Glynn (1983) with the sign-safe cbrt, K2 = Z1^2 + Z2^2
  ~ chi2_2 — the moments-based complement of ``jarque_bera``.

Scale shape: the daily fold is one partial-aggregable hash agg; the
O(days^2) pair grids and order statistics run on ~30 rows.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_QN_D = 2.2219
_SN_C = 1.1926
_BW_C = 9.0


def _daily(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        F.dayofmonth(F.col("ts").cast("timestamp")).cast("bigint").alias(
            "day"
        ),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    return e.groupBy("day").agg(
        F.sum("cents").cast("bigint").alias("x")
    )


def q_qn_sn_scale(spark, sf_dir):
    """QN AND SN robust scale on the daily series: pairwise-gap
    order statistic (Qn) and med-of-med gaps (Sn), with the plain
    stddev for contrast."""
    d = _daily(spark, sf_dir).localCheckpoint(eager=True)
    a = d.select(F.col("day").alias("i"), F.col("x").alias("xi"))
    b = d.select(F.col("day").alias("j"), F.col("x").alias("xj"))
    pairs = a.join(F.broadcast(b), F.col("i") < F.col("j")).select(
        "i", "j", F.abs(F.col("xi") - F.col("xj")).alias("g")
    )
    # Qn: k-th order statistic of gaps, k = C(h, 2), h = n//2 + 1
    stats = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wq = Window.orderBy("g", "i", "j")
    ranked = pairs.select(
        "g", F.row_number().over(wq).cast("bigint").alias("r")
    )
    qn = (
        ranked.crossJoin(F.broadcast(stats))
        .where(
            F.col("r")
            == (
                (F.floor(F.col("n") / 2) + 1)
                * F.floor(F.col("n") / 2)
                / 2
            ).cast("bigint")
        )
        .select(
            "n", (F.lit(_QN_D) * F.col("g")).alias("qn")
        )
    )
    # Sn: outer median over i of inner medians of gaps to j != i
    allp = pairs.select("i", "j", "g").unionByName(
        pairs.select(
            F.col("j").alias("i"), F.col("i").alias("j"), "g"
        )
    )
    wi = Window.partitionBy("i").orderBy("g", "j")
    inner = (
        allp.select(
            "i",
            "g",
            (F.row_number().over(wi) - 1).cast("double").alias("r"),
            (F.count(F.lit(1)).over(Window.partitionBy("i")) - 1)
            .cast("double")
            .alias("m"),
        )
        .where(
            (F.col("r") == F.floor(F.col("m") * 0.5))
            | (F.col("r") == F.ceil(F.col("m") * 0.5))
        )
        .groupBy("i")
        .agg(F.avg("g").alias("imed"))
    )
    wo = Window.orderBy("imed", "i")
    outer = (
        inner.select(
            "imed",
            (F.row_number().over(wo) - 1).cast("double").alias("r"),
            (
                F.count(F.lit(1)).over(Window.partitionBy()) - 1
            )
            .cast("double")
            .alias("m"),
        )
        .where(
            (F.col("r") == F.floor(F.col("m") * 0.5))
            | (F.col("r") == F.ceil(F.col("m") * 0.5))
        )
        .agg((F.lit(_SN_C) * F.avg("imed")).alias("sn"))
    )
    sd = d.agg(F.stddev_samp(F.col("x").cast("double")).alias("sd"))
    return (
        qn.crossJoin(outer)
        .crossJoin(sd)
        .select(
            "n",
            F.round("qn", 4).alias("qn"),
            F.round("sn", 4).alias("sn"),
            F.round("sd", 4).alias("stddev"),
        )
    )


def q_biweight_midvar(spark, sf_dir):
    """TUKEY BIWEIGHT MIDVARIANCE (c=9) on the daily series, with
    the median and MAD it is built from."""
    d = _daily(spark, sf_dir).localCheckpoint(eager=True)

    def med_of(df, col, out):
        wr = Window.orderBy(col, "day")
        r = df.select(
            "day",
            F.col(col).cast("double").alias("_v"),
            (F.row_number().over(wr) - 1).cast("double").alias("r"),
            (F.count(F.lit(1)).over(Window.partitionBy()) - 1)
            .cast("double")
            .alias("m"),
        )
        return r.where(
            (F.col("r") == F.floor(F.col("m") * 0.5))
            | (F.col("r") == F.ceil(F.col("m") * 0.5))
        ).agg(F.avg("_v").alias(out))

    med = med_of(d, "x", "med")
    dev = d.crossJoin(F.broadcast(med)).select(
        "day",
        "x",
        "med",
        F.abs(F.col("x") - F.col("med")).alias("ad"),
    )
    mad = med_of(
        dev.select("day", F.col("ad").alias("x")), "x", "mad"
    )
    u = dev.crossJoin(F.broadcast(mad)).select(
        "day",
        "x",
        "med",
        "mad",
        (
            (F.col("x") - F.col("med"))
            / (F.lit(_BW_C) * F.col("mad"))
        ).alias("u"),
    )
    kept = u.where(F.abs(F.col("u")) < 1)
    # day-ordered running sums -> the double folds sequentially in
    # BOTH engines (hash-agg association order is engine-dependent
    # and would make bwmv hash-fragile)
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wlast = Window.orderBy(F.desc("day"))
    m = (
        kept.select(
            "day",
            "med",
            "mad",
            F.sum(
                (F.col("x") - F.col("med"))
                * (F.col("x") - F.col("med"))
                * F.pow(1 - F.col("u") * F.col("u"), F.lit(4.0))
            )
            .over(wcum)
            .alias("_num"),
            F.sum(
                (1 - F.col("u") * F.col("u"))
                * (1 - 5 * F.col("u") * F.col("u"))
            )
            .over(wcum)
            .alias("_den"),
            F.row_number().over(wlast).alias("_rd"),
        )
        .where(F.col("_rd") == 1)
        .crossJoin(
            F.broadcast(
                d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            )
        )
    )
    bw = F.col("n") * F.col("_num") / (
        F.col("_den") * F.col("_den")
    )
    return m.select(
        "n",
        F.round("med", 4).alias("median"),
        F.round("mad", 4).alias("mad"),
        F.round(bw, 4).alias("bwmv"),
        F.round(F.sqrt(bw), 4).alias("bw_scale"),
    )


def q_dagostino_k2(spark, sf_dir):
    """D'AGOSTINO-PEARSON K2 omnibus normality test on the daily
    series: Z1 (skewness), Z2 (kurtosis, sign-safe cbrt), K2 =
    Z1^2 + Z2^2."""
    d = _daily(spark, sf_dir)
    m = d.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg(F.col("x").cast("double")).alias("m1"),
        F.avg(F.pow(F.col("x").cast("double"), F.lit(2.0))).alias(
            "r2"
        ),
        F.avg(F.pow(F.col("x").cast("double"), F.lit(3.0))).alias(
            "r3"
        ),
        F.avg(F.pow(F.col("x").cast("double"), F.lit(4.0))).alias(
            "r4"
        ),
    )
    n = F.col("n")
    m1 = F.col("m1")
    m2 = F.col("r2") - m1 * m1
    m3 = F.col("r3") - 3 * m1 * F.col("r2") + 2 * m1 * m1 * m1
    m4 = (
        F.col("r4")
        - 4 * m1 * F.col("r3")
        + 6 * m1 * m1 * F.col("r2")
        - 3 * m1 * m1 * m1 * m1
    )
    g1 = m3 / F.pow(m2, F.lit(1.5))
    g2 = m4 / (m2 * m2)
    # Z1: D'Agostino (1970)
    y = g1 * F.sqrt((n + 1) * (n + 3) / (6 * (n - 2)))
    b2 = (
        3
        * (n * n + 27 * n - 70)
        * (n + 1)
        * (n + 3)
        / ((n - 2) * (n + 5) * (n + 7) * (n + 9))
    )
    w2 = -1 + F.sqrt(2 * (b2 - 1))
    delta = 1 / F.sqrt(F.log(F.sqrt(w2)))
    alpha = F.sqrt(2 / (w2 - 1))
    z1 = delta * F.log(
        y / alpha + F.sqrt(F.pow(y / alpha, F.lit(2.0)) + 1)
    )
    # Z2: Anscombe-Glynn (1983)
    eg2 = 3 * (n - 1) / (n + 1)
    vg2 = (
        24
        * n
        * (n - 2)
        * (n - 3)
        / ((n + 1) * (n + 1) * (n + 3) * (n + 5))
    )
    xs = (g2 - eg2) / F.sqrt(vg2)
    sb1 = (
        6
        * (n * n - 5 * n + 2)
        / ((n + 7) * (n + 9))
        * F.sqrt(
            6 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3))
        )
    )
    aa = 6 + 8 / sb1 * (
        2 / sb1 + F.sqrt(1 + 4 / (sb1 * sb1))
    )
    z2 = (
        (1 - 2 / (9 * aa))
        - F.cbrt(
            (1 - 2 / aa)
            / (1 + xs * F.sqrt(2 / (aa - 4)))
        )
    ) / F.sqrt(2 / (9 * aa))
    return m.select(
        n.cast("bigint").alias("n"),
        F.round(g1, 6).alias("skew_g1"),
        F.round(g2, 6).alias("kurt_g2"),
        F.round(z1, 6).alias("z1"),
        F.round(z2, 6).alias("z2"),
        F.round(z1 * z1 + z2 * z2, 6).alias("k2"),
    )
