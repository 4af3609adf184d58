"""Feature-eng pack #80 (r4): partition-agreement metrics + extreme-
value POT fit.

Corpus pipelines constantly compare two labelings of the same
documents — a model clustering vs a trusted taxonomy, yesterday's
shard assignment vs today's.  Two public agreement metrics over the
lang x source contingency table of ``documents``, plus the missing
third member of the registry's extreme-value family
(``hill_tail`` / ``block_maxima``):

* ``adjusted_rand`` — Adjusted Rand Index (Hubert & Arabie 1985):
  every term is an exact BIGINT pair count comb2(x) = x(x-1)/2 from
  the contingency cells and marginals; doubles appear only in the
  final chance-corrected ratio.
* ``cluster_vmeasure`` — homogeneity / completeness / V-measure
  (Rosenberg & Hirschberg 2007): every entropy is a sum of per-cell
  fixed-point BIGINT terms round(1e6 * n * ln(..)) — order-free exact
  integer addition, the registry's quality_unigram_lm discipline —
  so the statistic is bit-deterministic in both engines.
* ``gpd_fit`` — Generalized Pareto fit to peaks over the exact p90
  threshold by method of moments (Hosking & Wallis 1987): threshold
  from the exact cumulative cents histogram, excess moments as exact
  BIGINT sums, shape xi = (1 - m^2/v)/2 and scale
  sigma = m (1 + m^2/v)/2 as final doubles.

Scale shape: one hash aggregation reduces the fat table to O(cells)
(<= langs x sources) or O(distinct cents) rows; everything after is
arithmetic on the slim relation — map-side partial agg carries the
100 TB case.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t

_GPD_DECILE = 9  # threshold = exact p90 of the cents histogram


def _comb2(c):
    # c(c-1) is always even; shiftright keeps the pair count an exact
    # BIGINT (a double division would lose exactness past 2^53)
    return F.shiftright((c * (c - 1)).cast("bigint"), 1)


def q_adjusted_rand(spark, sf_dir):
    """ADJUSTED RAND INDEX between the lang and source partitions of
    documents: sum_ij comb2(n_ij) over contingency cells, comb2 sums
    over both marginals, expected index under the permutation null,
    ARI = (index - expected) / (max_index - expected).  All pair
    counts exact bigints; one double division at the end."""
    d = _t(spark, sf_dir, "documents").select("lang", "source")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("nij")
    )
    s_cells = cells.agg(
        F.sum(_comb2(F.col("nij"))).cast("bigint").alias("s_nij"),
    )
    s_a = (
        cells.groupBy("lang")
        .agg(F.sum("nij").alias("ai"))
        .agg(F.sum(_comb2(F.col("ai"))).cast("bigint").alias("s_a"))
    )
    s_b = (
        cells.groupBy("source")
        .agg(F.sum("nij").alias("bj"))
        .agg(F.sum(_comb2(F.col("bj"))).cast("bigint").alias("s_b"))
    )
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    j = (
        s_cells.crossJoin(F.broadcast(s_a))
        .crossJoin(F.broadcast(s_b))
        .crossJoin(F.broadcast(n))
    )
    expected = (
        F.col("s_a").cast("double") * F.col("s_b") / _comb2(F.col("n"))
    )
    max_idx = (F.col("s_a") + F.col("s_b")).cast("double") / 2
    return j.select(
        "n",
        "s_nij",
        "s_a",
        "s_b",
        F.round(expected, 6).alias("expected_index"),
        F.round(
            (F.col("s_nij") - expected)
            / F.nullif(max_idx - expected, F.lit(0.0)),
            6,
        ).alias("ari"),
    )


def q_cluster_vmeasure(spark, sf_dir):
    """HOMOGENEITY / COMPLETENESS / V-MEASURE of the source partition
    (clusters K) against lang (classes C): H(C), H(K), H(C|K), H(K|C)
    each as an exact BIGINT sum of per-cell fixed-point terms
    round(1e6 * count * ln(count/denom)) — integer addition is order-
    free, so both engines produce the identical statistic;
    h = 1 - H(C|K)/H(C), c = 1 - H(K|C)/H(K), v = 2hc/(h+c)."""
    d = _t(spark, sf_dir, "documents").select("lang", "source")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("nij")
    )
    a = cells.groupBy("lang").agg(F.sum("nij").cast("bigint").alias("ai"))
    b = cells.groupBy("source").agg(F.sum("nij").cast("bigint").alias("bj"))
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    def _e6(cnt, den):
        return F.round(
            F.lit(1e6) * cnt * F.log(cnt.cast("double") / den)
        ).cast("bigint")

    h_c = (
        a.crossJoin(F.broadcast(n))
        .agg((-F.sum(_e6(F.col("ai"), F.col("n")))).alias("hc_e6"))
    )
    h_k = (
        b.crossJoin(F.broadcast(n))
        .agg((-F.sum(_e6(F.col("bj"), F.col("n")))).alias("hk_e6"))
    )
    h_ck = (
        cells.join(F.broadcast(b), "source")
        .agg((-F.sum(_e6(F.col("nij"), F.col("bj")))).alias("hck_e6"))
    )
    h_kc = (
        cells.join(F.broadcast(a), "lang")
        .agg((-F.sum(_e6(F.col("nij"), F.col("ai")))).alias("hkc_e6"))
    )
    j = (
        h_c.crossJoin(F.broadcast(h_k))
        .crossJoin(F.broadcast(h_ck))
        .crossJoin(F.broadcast(h_kc))
    )
    h = 1 - F.col("hck_e6") / F.col("hc_e6").cast("double")
    c = 1 - F.col("hkc_e6") / F.col("hk_e6").cast("double")
    return j.select(
        "hc_e6",
        "hk_e6",
        "hck_e6",
        "hkc_e6",
        F.round(h, 6).alias("homogeneity"),
        F.round(c, 6).alias("completeness"),
        F.round(2 * h * c / F.nullif(h + c, F.lit(0.0)), 6).alias(
            "v_measure"
        ),
    )


def q_gpd_fit(spark, sf_dir):
    """GENERALIZED PARETO peaks-over-threshold fit (method of
    moments, Hosking & Wallis 1987 — the third member of the EVT
    family next to hill_tail and block_maxima): threshold u = exact
    p90 cents from the cumulative histogram (min cents with
    cum >= ceil(0.9 n)); excesses y = cents - u for cents > u kept as
    exact BIGINT sums S1, S2; m = S1/k, v = (S2 - S1^2/k)/(k-1),
    xi = (1 - m^2/v)/2, sigma_cents = m (1 + m^2/v)/2."""
    e = _t(spark, sf_dir, "events").select(
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents")
    )
    hist = e.groupBy("cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("ct")
    )
    from pyspark.sql import Window

    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    cum = hist.select(
        "cents",
        F.sum("ct").over(w).cast("bigint").alias("cum"),
        F.sum("ct").over(wall).cast("bigint").alias("n"),
    )
    u = cum.where(
        F.expr(f"cum >= ({_GPD_DECILE} * n + 9) div 10")
    ).agg(
        F.min("cents").cast("bigint").alias("u_cents"),
        F.max("n").cast("bigint").alias("n"),
    )
    exc = (
        e.crossJoin(F.broadcast(u))
        .where(F.col("cents") > F.col("u_cents"))
        .select(
            "u_cents",
            "n",
            (F.col("cents") - F.col("u_cents")).alias("y"),
        )
    )
    mom = exc.groupBy("u_cents", "n").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("y").cast("bigint").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("s2"),
    )
    m = F.col("s1") / F.col("k").cast("double")
    v = (F.col("s2") - F.col("s1") * m) / (F.col("k") - 1).cast("double")
    ratio = m * m / v
    return mom.select(
        "n",
        "u_cents",
        "k",
        F.round(m, 6).alias("mean_excess"),
        F.round(v, 6).alias("var_excess"),
        F.round((1 - ratio) / 2, 6).alias("xi"),
        F.round(m * (1 + ratio) / 2, 6).alias("sigma_cents"),
    )
