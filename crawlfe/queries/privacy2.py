"""Feature-eng pack #81 (r4): privacy auditing II — the diversity /
closeness criteria that k-anonymity (pack #65) does not cover.

k-anonymity only bounds GROUP SIZE; a group of 50 rows that all share
one sensitive value still leaks it.  The two successor criteria from
the public literature, over ``documents`` with quasi-identifier
(lang, length bucket) and sensitive attribute ``source``:

* ``l_diversity`` — distinct l-diversity (Machanavajjhala et al. 2007):
  per QI group, the number of DISTINCT sensitive values; a group with
  l < 3 admits attribute disclosure.  Exact countDistinct.
* ``entropy_l_diversity`` — entropy l-diversity (same paper, def 4.1):
  per QI group, H = -sum p ln p over the sensitive distribution must
  exceed ln(L).  Every entropy term is a fixed-point BIGINT
  round(1e6 * c * ln(c/n)) summed with order-free integer addition
  (the registry's quality_unigram_lm discipline), so both engines
  produce the identical statistic before the one final division.
* ``t_closeness`` — t-closeness (Li, Li & Venkatasubramanian 2007)
  with the ordered-attribute Earth Mover's Distance: QI group
  (lang, source) vs the GLOBAL distribution over 10 ordered length
  buckets; EMD = (1/(m-1)) * sum_i |cumdiff_i|.  Every cumulative
  difference is kept as the exact BIGINT numerator
  |cum_c * N - cum_C * n_g| (common denominator n_g * N), so the sum
  is exact and only the final normalization is a double.

Scale shape: every query is one hash aggregation down to O(QI groups)
or O(groups x 10 buckets) rows; the dense bucket grid is built by
exploding a 10-element sequence against the slim group relation, never
against the fat table.  Map-side partial agg carries the 100 TB case.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_LDIV_L = 3  # minimum acceptable diversity
_LDIV_BUCKET = 200  # n_chars bucket width for the QI tuple
_TCLOSE_W = 60  # ordered-attribute bucket width (n_chars // 60, cap 9)
_TCLOSE_M = 10  # number of ordered buckets
_TCLOSE_T = 0.2  # closeness threshold


def _sev():
    return F.least(
        F.lit(_TCLOSE_M - 1), (F.col("n_chars") / _TCLOSE_W).cast("bigint")
    )


def q_l_diversity(spark, sf_dir):
    """DISTINCT L-DIVERSITY audit: for each quasi-identifier group
    (lang, floor(n_chars/200)) count distinct sensitive values
    (source); flag groups with l < 3.  countDistinct over a coarse QI
    is a two-level hash agg — partial-agg shapes, no skew."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(
            "lang",
            (F.col("n_chars") / _LDIV_BUCKET).cast("bigint").alias(
                "len_bucket"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("source").cast("bigint").alias("l_distinct"),
        )
        .select(
            "lang",
            "len_bucket",
            "n",
            "l_distinct",
            (F.col("l_distinct") < _LDIV_L).cast("int").alias("violates_l"),
        )
    )


def q_entropy_l_diversity(spark, sf_dir):
    """ENTROPY L-DIVERSITY audit: per QI group (lang, len bucket),
    H(source) as an exact BIGINT sum of fixed-point terms
    round(1e6 * c * ln(c/n)); entropy-l = exp(H) must reach L=3.
    Two chained hash aggs (cells -> groups), both partial-aggregable."""
    d = _t(spark, sf_dir, "documents")
    cells = d.groupBy(
        "lang",
        (F.col("n_chars") / _LDIV_BUCKET).cast("bigint").alias("len_bucket"),
        "source",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w = Window.partitionBy("lang", "len_bucket")
    cells = cells.withColumn("n", F.sum("c").over(w).cast("bigint"))
    term = F.round(
        F.lit(1e6) * F.col("c") * F.log(F.col("c").cast("double") / F.col("n"))
    ).cast("bigint")
    g = cells.groupBy("lang", "len_bucket", "n").agg(
        (-F.sum(term)).cast("bigint").alias("h_e6_num")
    )
    h = F.col("h_e6_num") / (F.lit(1e6) * F.col("n"))
    return g.select(
        "lang",
        "len_bucket",
        "n",
        "h_e6_num",
        F.round(F.exp(h), 6).alias("entropy_l"),
        (F.exp(h) < _LDIV_L).cast("int").alias("violates_l"),
    )


def q_t_closeness(spark, sf_dir):
    """T-CLOSENESS audit with ordered-attribute EMD: for each QI group
    (lang, source), the Earth Mover's Distance between the group's and
    the global distribution over 10 ordered length buckets,
    EMD = (1/(m-1)) * sum_{i<m-1} |cum_p - cum_q|_i.  Each cumulative
    difference is the exact BIGINT |cum_c * N - cum_C * n_g| over the
    common denominator n_g * N; one double division at the end.  The
    dense bucket grid comes from exploding a 10-element sequence
    against the O(groups) relation — the fat table is reduced first."""
    d = _t(spark, sf_dir, "documents").select(
        "lang", "source", _sev().alias("sev")
    )
    cells = d.groupBy("lang", "source", "sev").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    groups = cells.groupBy("lang", "source").agg(
        F.sum("c").cast("bigint").alias("n_g")
    )
    glob = (
        d.groupBy("sev")
        .agg(F.count(F.lit(1)).cast("bigint").alias("gc"))
        .withColumn(
            "cum_gc",
            F.sum("gc")
            .over(Window.orderBy("sev").rowsBetween(Window.unboundedPreceding, 0))
            .cast("bigint"),
        )
        .withColumn("n_tot", F.sum("gc").over(Window.partitionBy()).cast("bigint"))
        .select("sev", "cum_gc", "n_tot")
    )
    grid = groups.select(
        "lang",
        "source",
        "n_g",
        F.explode(F.sequence(F.lit(0), F.lit(_TCLOSE_M - 1))).alias("sev"),
    ).withColumn("sev", F.col("sev").cast("bigint"))
    filled = (
        grid.join(cells, ["lang", "source", "sev"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)).cast("bigint"))
        .withColumn(
            "cum_c",
            F.sum("c")
            .over(
                Window.partitionBy("lang", "source")
                .orderBy("sev")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            .cast("bigint"),
        )
        .join(F.broadcast(glob), "sev")
    )
    num = F.abs(
        F.col("cum_c") * F.col("n_tot") - F.col("cum_gc") * F.col("n_g")
    ).cast("bigint")
    agg = (
        filled.where(F.col("sev") < _TCLOSE_M - 1)
        .groupBy("lang", "source", "n_g", "n_tot")
        .agg(F.sum(num).cast("bigint").alias("num_sum"))
    )
    emd = F.col("num_sum") / (
        F.lit(float(_TCLOSE_M - 1)) * F.col("n_g") * F.col("n_tot")
    )
    return agg.select(
        "lang",
        "source",
        "n_g",
        "num_sum",
        F.round(emd, 6).alias("emd"),
        (emd > _TCLOSE_T).cast("int").alias("violates_t"),
    )
