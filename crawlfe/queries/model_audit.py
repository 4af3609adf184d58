"""Feature-eng pack #78 (r4): model-audit statistics — calibration
tests + uplift ranking.

A feature platform also has to AUDIT the models its features feed.
Three public, closed-form audits that run entirely as aggregations:

* ``spiegelhalter_z`` — Spiegelhalter's (1986) calibration Z test of
  the week-1-trained bin probabilities against the day-16+ holdout:
  Z = sum((y-p)(1-2p)) / sqrt(sum(p(1-p)(1-2p)^2)).  Per-bin terms
  come from exact BIGINT counts (Laplace-smoothed train probability),
  the fold over the <=10 bin rows is an ORDERED running window so
  both engines accumulate in the same order.
* ``hosmer_lemeshow`` — the fixed-bin Hosmer-Lemeshow goodness-of-fit
  chi2 on the same train/holdout split: per value-bin observed vs
  expected positives, contribution (O-E)^2/(n p (1-p)), running chi2
  ordered by bin.
* ``qini_uplift`` — Qini curve of a week-1-activity targeting score
  under the deterministic even/odd-user arm split: users ranked by
  score into ntile(10) deciles, cumulative treated/control responders
  per decile, qini(k) = Rt(k) - Rc(k) * Nt(k)/Nc(k) plus the per-
  decile uplift gap.  All cumulative counts are exact bigints; the
  only doubles are final ratios.

Scale shape: everything reduces the fat events table with ONE hash
aggregation (per-bin or per-user), then does O(bins)/O(users) window
arithmetic on the slim relation — at 100 TB the heavy input passes
map-side partial aggregation and a 10-row (or n_users-row) relation
is all that ever shuffles.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t
from .classifier_eval import _pc_scored

_MA_BIN_CENTS = 2000
_MA_MAX_BIN = 9
_MA_TRAIN_DAY_MAX = 15
_QINI_TILES = 10


def _ma_binned(spark, sf_dir):
    """(bin, N, P) train / (bin, n, pos) test split of the purchase-
    vs-click scored events at $20 value bins: train days 1-15, test
    days 16+, Laplace-smoothed train probability kept as exact
    (P+1, N+2) integers."""
    base = _pc_scored(spark, sf_dir).select(
        F.least(
            F.lit(_MA_MAX_BIN),
            F.expr(f"cents DIV {_MA_BIN_CENTS}"),
        ).cast("int").alias("bin"),
        "day",
        "pos",
    )
    train = base.where(F.col("day") <= _MA_TRAIN_DAY_MAX).groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train"),
        F.sum("pos").cast("bigint").alias("p_train"),
    )
    test = base.where(F.col("day") > _MA_TRAIN_DAY_MAX).groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum("pos").cast("bigint").alias("obs_pos"),
    )
    return train.join(test, "bin")


def q_spiegelhalter_z(spark, sf_dir):
    """SPIEGELHALTER'S CALIBRATION Z (public test; Spiegelhalter 1986)
    of week-1-15-trained value-bin purchase probabilities on the
    day-16+ holdout.  Per bin b with Laplace train probability
    p = (P+1)/(N+2) and holdout counts (n, pos):
    num_b = (pos - n p)(1 - 2p), den_b = n p (1-p)(1-2p)^2; the
    running Z at each bin is cum_num / sqrt(cum_den) over the bin-
    ordered window (fixed accumulation order in both engines); the
    last row is the test statistic."""
    j = _ma_binned(spark, sf_dir)
    p = (F.col("p_train") + 1).cast("double") / (F.col("n_train") + 2)
    num = (F.col("obs_pos") - F.col("n_test") * p) * (1 - 2 * p)
    den = F.col("n_test") * p * (1 - p) * F.pow(1 - 2 * p, 2)
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    scored = j.select(
        "bin",
        "n_test",
        "obs_pos",
        F.round(p, 6).alias("p_hat"),
        F.sum(num).over(w).alias("cum_num"),
        F.sum(den).over(w).alias("cum_den"),
    )
    return scored.select(
        "bin",
        "n_test",
        "obs_pos",
        "p_hat",
        F.round("cum_num", 6).alias("cum_num"),
        F.round("cum_den", 6).alias("cum_den"),
        F.round(
            F.col("cum_num") / F.nullif(F.sqrt("cum_den"), F.lit(0.0)), 6
        ).alias("z_run"),
    )


def q_hosmer_lemeshow(spark, sf_dir):
    """FIXED-BIN HOSMER-LEMESHOW goodness-of-fit (public test;
    Hosmer & Lemeshow 1980, fixed-cut variant) on the same week-1-15
    train / day-16+ holdout split: per value bin, observed vs
    expected positives under the Laplace train probability and the
    chi2 contribution (O - E)^2 / (n p (1-p)); running chi2 over the
    bin-ordered window — the last row is the HL statistic with
    df = bins - 2."""
    j = _ma_binned(spark, sf_dir)
    p = (F.col("p_train") + 1).cast("double") / (F.col("n_train") + 2)
    exp_pos = F.col("n_test") * p
    contrib = F.pow(F.col("obs_pos") - exp_pos, 2) / (
        F.col("n_test") * p * (1 - p)
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    return j.select(
        "bin",
        "n_test",
        "obs_pos",
        F.round(exp_pos, 6).alias("exp_pos"),
        F.round(contrib, 6).alias("hl_contrib"),
        F.round(F.sum(contrib).over(w), 6).alias("chi2_run"),
    )


def q_qini_uplift(spark, sf_dir):
    """QINI UPLIFT CURVE (public metric; Radcliffe 2007) of a week-1-
    activity targeting score under the registry's deterministic
    even/odd-user arm split: per user, score = week-1 event count,
    outcome = any purchase on day 8+; users ranked score-desc
    (user_id tie-break) into ntile deciles; per decile the CUMULATIVE
    treated/control sizes and responders (exact bigints), the qini
    value Rt - Rc * Nt/Nc, and the uplift gap Rt/Nt - Rc/Nc.
    Control-free prefixes yield NULL in both engines."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.dayofmonth("ts").cast("int").alias("day"),
        "event_type",
    )
    users = e.groupBy("user_id").agg(
        F.sum((F.col("day") <= 7).cast("bigint")).alias("score"),
        F.max(
            ((F.col("event_type") == "purchase") & (F.col("day") >= 8))
            .cast("bigint")
        ).alias("conv"),
    ).where(F.col("score") > 0).select(
        "user_id",
        "score",
        "conv",
        (F.col("user_id") % 2).cast("bigint").alias("treat"),
    )
    dec = users.select(
        F.ntile(_QINI_TILES)
        .over(Window.orderBy(F.desc("score"), F.asc("user_id")))
        .cast("int")
        .alias("decile"),
        "treat",
        "conv",
    ).groupBy("decile").agg(
        F.sum("treat").cast("bigint").alias("nt"),
        F.sum(F.col("treat") * F.col("conv")).cast("bigint").alias("rt"),
        F.sum(1 - F.col("treat")).cast("bigint").alias("nc"),
        F.sum((1 - F.col("treat")) * F.col("conv")).cast("bigint").alias("rc"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = dec.select(
        "decile",
        F.sum("nt").over(w).cast("bigint").alias("cum_nt"),
        F.sum("rt").over(w).cast("bigint").alias("cum_rt"),
        F.sum("nc").over(w).cast("bigint").alias("cum_nc"),
        F.sum("rc").over(w).cast("bigint").alias("cum_rc"),
    )
    nt, rt = F.col("cum_nt").cast("double"), F.col("cum_rt").cast("double")
    nc, rc = F.col("cum_nc").cast("double"), F.col("cum_rc").cast("double")
    return cum.select(
        "decile",
        "cum_nt",
        "cum_rt",
        "cum_nc",
        "cum_rc",
        F.round(rt - rc * nt / F.nullif(nc, F.lit(0.0)), 6).alias("qini"),
        F.round(
            rt / F.nullif(nt, F.lit(0.0)) - rc / F.nullif(nc, F.lit(0.0)), 6
        ).alias("uplift_gap"),
    )
