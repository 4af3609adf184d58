"""Feature-eng pack #89 (r4): rank concordance, robust two-sample
testing, and overdispersion estimation.

* ``kendall_w`` — Kendall's coefficient of concordance (Kendall &
  Babington Smith 1939) with the tie correction, across three
  deterministic hash-perturbed "quality scorers" of every document:
  using DOUBLED average ranks (2*avg_rank = 2*rank + ties - 1) every
  quantity — rank sums, deviations from the exact mean m(n+1), the
  deviation sum of squares S4 = 4S, and the tie terms sum(t^3 - t) —
  stays an exact BIGINT; W = 3*S4 / (m^2 (n^3 - n) - m*T) needs one
  final double division.  The chi-square approximation m(n-1)W rides
  along.
* ``yuen_test`` — Yuen (1974) trimmed-mean two-sample t: purchase vs
  click value-cents with 10% trimming per side; trim boundaries come
  from exact rank windows (event_id tie-break so the trim set is
  deterministic), winsorized variances from exact BIGINT cent sums.
  The robust replacement for Welch's t when tails are heavy.
* ``beta_binomial_mom`` — beta method-of-moments fit over per-source
  long-doc rates: rates fixed-pointed to e6, mean/variance as exact
  integer sums, alpha/beta and the implied intraclass rho
  = 1/(alpha+beta+1) closed-form doubles — the standard
  overdispersion readout before shrinking per-source quality rates.

Scale shape: one hash agg to O(docs) ranks / O(groups) moments; the
rank windows run per-rater (3 partitions of n rows); nothing
quadratic.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_KW_RATERS = 3
_KW_NOISE = 21  # rater noise: (md5 % 21) - 10 added to n_chars
_YUEN_TRIM_PCT = 10  # percent trimmed per side


def q_kendall_w(spark, sf_dir):
    """KENDALL'S W with ties, all-integer: three scorers rank every
    doc by n_chars + hash noise; doubled average ranks keep the rank
    sums, the exact mean m(n+1), S4 = sum dev^2 and the tie correction
    integral; W = 3*S4 / (m^2(n^3-n) - m*T)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    r = d.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(1), F.lit(_KW_RATERS))).alias("r"),
    )
    noise = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("kw"),
                        F.col("r").cast("string"),
                        F.lit(":"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("bigint")
        % _KW_NOISE
        - (_KW_NOISE - 1) // 2
    ).cast("bigint")
    s = r.select(
        "doc_id", "r", (F.col("n_chars") + noise).alias("score")
    )
    wr = Window.partitionBy("r").orderBy("score")
    wt = Window.partitionBy("r", "score")
    ranked = s.select(
        "doc_id",
        "r",
        (
            2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1
        )
        .cast("bigint")
        .alias("ar2"),
        F.count(F.lit(1)).over(wt).cast("bigint").alias("tie_n"),
    )
    # tie term: each tie group of size t contributes t^3 - t, counted
    # once per group — divide the per-row t^3-t by t (= t^2 - 1 each)
    ties = ranked.groupBy().agg(
        F.sum(F.col("tie_n") * F.col("tie_n") - 1).cast("bigint").alias(
            "t_sum"
        )
    )
    sums = ranked.groupBy("doc_id").agg(
        F.sum("ar2").cast("bigint").alias("r2")
    )
    n_df = sums.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    s4 = (
        sums.crossJoin(F.broadcast(n_df))
        .select(
            (
                (F.col("r2") - _KW_RATERS * (F.col("n") + 1))
                * (F.col("r2") - _KW_RATERS * (F.col("n") + 1))
            ).alias("dev2"),
            "n",
        )
        .groupBy("n")
        .agg(F.sum("dev2").cast("bigint").alias("s4"))
    )
    j = s4.crossJoin(F.broadcast(ties))
    m = F.lit(_KW_RATERS)
    den = (
        m * m * (F.col("n") * F.col("n") * F.col("n") - F.col("n"))
        - m * F.col("t_sum")
    ).cast("double")
    w = 3 * F.col("s4").cast("double") / den
    return j.select(
        "n",
        F.lit(_KW_RATERS).cast("bigint").alias("m"),
        "s4",
        "t_sum",
        F.round(w, 6).alias("kendall_w"),
        F.round(m * (F.col("n") - 1) * w, 4).alias("chi2_approx"),
    )


def q_yuen_test(spark, sf_dir):
    """YUEN'S TRIMMED t: purchase vs click cents, k = floor(n/10)
    trimmed per side; trimmed means over ranks (k, n-k], winsorized
    second moments by clamping to the exact boundary order statistics;
    t = (tm1 - tm2)/sqrt(d1 + d2), d = s2w (n-1)/(h(h-1)), df by
    Welch-Satterthwaite — all moments exact BIGINT cents."""
    e = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .select(
            "event_type",
            "event_id",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
        )
    )
    wg = Window.partitionBy("event_type").orderBy("c", "event_id")
    r = e.select(
        "event_type",
        "c",
        F.row_number().over(wg).cast("bigint").alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .cast("bigint")
        .alias("n"),
    ).withColumn("k", (F.col("n") / _YUEN_TRIM_PCT).cast("bigint"))
    lo = F.max(
        F.when(F.col("rn") == F.col("k") + 1, F.col("c"))
    )
    hi = F.max(F.when(F.col("rn") == F.col("n") - F.col("k"), F.col("c")))
    bounds = r.groupBy("event_type", "n", "k").agg(
        lo.alias("lo"), hi.alias("hi")
    )
    rw = r.join(F.broadcast(bounds), ["event_type", "n", "k"])
    wv = F.greatest(F.least(F.col("c"), F.col("hi")), F.col("lo"))
    trimmed = F.col("rn").between(F.col("k") + 1, F.col("n") - F.col("k"))
    m = rw.groupBy("event_type", "n", "k").agg(
        F.sum(F.when(trimmed, F.col("c"))).cast("bigint").alias("ts"),
        F.sum(wv).cast("bigint").alias("ws"),
        F.sum(wv * wv).cast("bigint").alias("ws2"),
    )
    h = F.col("n") - 2 * F.col("k")
    tmean = F.col("ts").cast("double") / h
    s2w = (
        F.col("ws2").cast("double")
        - F.col("ws").cast("double") * F.col("ws") / F.col("n")
    ) / (F.col("n") - 1)
    dterm = s2w * (F.col("n") - 1) / (h * (h - 1)).cast("double")
    per = m.select(
        "event_type",
        "n",
        "k",
        F.round(tmean, 6).alias("tmean"),
        dterm.alias("d"),
    )
    a = per.where(F.col("event_type") == "purchase").select(
        F.col("n").alias("n1"), F.col("k").alias("k1"),
        F.col("tmean").alias("tm1"), F.col("d").alias("d1"),
    )
    b = per.where(F.col("event_type") == "click").select(
        F.col("n").alias("n2"), F.col("k").alias("k2"),
        F.col("tmean").alias("tm2"), F.col("d").alias("d2"),
    )
    j = a.crossJoin(F.broadcast(b))
    t = (F.col("tm1") - F.col("tm2")) / F.sqrt(F.col("d1") + F.col("d2"))
    h1 = F.col("n1") - 2 * F.col("k1")
    h2 = F.col("n2") - 2 * F.col("k2")
    df = (
        (F.col("d1") + F.col("d2")) * (F.col("d1") + F.col("d2"))
        / (
            F.col("d1") * F.col("d1") / (h1 - 1)
            + F.col("d2") * F.col("d2") / (h2 - 1)
        )
    )
    return j.select(
        "n1",
        "n2",
        "tm1",
        "tm2",
        F.round(t, 6).alias("yuen_t"),
        F.round(df, 4).alias("df"),
    )


def q_beta_binomial_mom(spark, sf_dir):
    """BETA MOM over per-source long-doc rates: rates p_i fixed-
    pointed to e6; mean and variance from exact BIGINT sums
    (v = (k*sum p^2 - (sum p)^2) / k^2 / (k-1) in e12 units);
    alpha = m(m(1-m)/v - 1), beta = (1-m)(m(1-m)/v - 1),
    rho = 1/(alpha+beta+1) — the shrinkage prior + ICC readout."""
    d = _t(spark, sf_dir, "documents")
    per = (
        d.select(
            "source",
            (F.col("n_chars") >= 300).cast("bigint").alias("is_long"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("is_long").cast("bigint").alias("n_long"),
        )
        .select(
            F.round(
                F.lit(1e6) * F.col("n_long") / F.col("n_docs")
            )
            .cast("bigint")
            .alias("p_e6")
        )
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("p_e6").cast("bigint").alias("sp"),
        F.sum(F.col("p_e6") * F.col("p_e6")).cast("bigint").alias("sp2"),
    )
    m1 = F.col("sp").cast("double") / (F.col("k") * 1e6)
    v = (
        (F.col("k") * F.col("sp2") - F.col("sp") * F.col("sp")).cast(
            "double"
        )
        / (F.col("k") * F.col("k"))
        / (F.col("k") - 1)
        / 1e12
    )
    core = m1 * (1 - m1) / v - 1
    alpha = m1 * core
    beta = (1 - m1) * core
    return agg.select(
        "k",
        "sp",
        "sp2",
        F.round(m1, 6).alias("mean_rate"),
        F.round(v, 6).alias("var_rate"),
        F.round(alpha, 4).alias("alpha"),
        F.round(beta, 4).alias("beta"),
        F.round(1 / (alpha + beta + 1), 6).alias("rho_icc"),
    )
