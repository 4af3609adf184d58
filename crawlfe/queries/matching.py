"""Feature-eng pack #107 (r4): matched observational causal
inference — the matching-based complement of the regression
adjusters already in the registry (diff_in_diff, cuped_adjust,
rd_estimate, iv_wald, event_study).

Panel: per user, pre = mean cents over days 1-15, post = mean cents
over days 16+ (users active in both halves); treated = user_id % 5
== 0 — a deterministic pseudo-treatment, so these are A/A-style
machinery checks exactly like ``logrank_test``'s even/odd arms.

* ``nn_matching_att`` — 1-nearest-neighbor matching (with
  replacement) on the pre-period score, implemented as the engine's
  as-of merge-scan: one global sort of treated+control by score,
  prev/next control via IGNORE-NULLS window scans, nearest side
  wins (ties -> the <= side, the engine's backward-join rule).
  ATT = mean(y_t - y_matched).
* ``rosenbaum_bounds`` — sensitivity of the matched-pair sign test
  to hidden bias: at Gamma in {1, 1.5, 2} the worst-case sign
  probability is Gamma/(1+Gamma); reports the continuity-corrected
  normal z upper bound at each Gamma (z at Gamma=1 is the plain
  sign test).
* ``placebo_did`` — the falsification run: the actual
  diff-in-difference (pre vs post x treated vs control) next to a
  placebo DiD computed entirely inside the pre-period (days 1-8 vs
  9-15), which should be ~0 if the design is sound.

Scale shape: one hash agg to the per-user panel; the match is one
global sort + two linear window scans (no pairwise blowup); the
bounds/DiD are O(1) reductions.

ref: acoss/benchmark/algorithm_template.py::CoverAlgorithm [R] — the
pairwise benchmark stage re-expressed as a sorted merge-scan instead
of an N x N loop.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_TREAT_MOD = 5  # user_id % 5 == 0 -> pseudo-treated
_GAMMAS = (1.0, 1.5, 2.0)
_PLACEBO_SPLIT = 8  # placebo pre = days 1-8, placebo post = 9-15


def _panel(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.dayofmonth(F.col("ts").cast("timestamp")).alias("day"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    p = e.groupBy("user_id").agg(
        F.avg(F.when(F.col("day") <= 15, F.col("cents"))).alias(
            "pre"
        ),
        F.avg(F.when(F.col("day") > 15, F.col("cents"))).alias(
            "post"
        ),
    )
    return p.where(
        F.col("pre").isNotNull() & F.col("post").isNotNull()
    ).select(
        "user_id",
        "pre",
        "post",
        (F.col("user_id") % _TREAT_MOD == 0).alias("treated"),
    )


def _matched(spark, sf_dir):
    """Matched pairs (user_id, y_t, y_c): each treated user joined to
    its nearest control on the pre score via the sorted merge-scan."""
    p = _panel(spark, sf_dir)
    # controls sort before treated at equal score -> distance-0 match
    u = p.select(
        "user_id",
        "pre",
        "post",
        F.col("treated").cast("int").alias("flag"),
    )
    w = Window.orderBy("pre", "flag", "user_id")
    scan = u.select(
        "*",
        F.last(
            F.when(F.col("flag") == 0, F.col("pre")), ignorenulls=True
        )
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("prev_s"),
        F.last(
            F.when(F.col("flag") == 0, F.col("post")),
            ignorenulls=True,
        )
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("prev_y"),
        F.first(
            F.when(F.col("flag") == 0, F.col("pre")), ignorenulls=True
        )
        .over(w.rowsBetween(1, Window.unboundedFollowing))
        .alias("next_s"),
        F.first(
            F.when(F.col("flag") == 0, F.col("post")),
            ignorenulls=True,
        )
        .over(w.rowsBetween(1, Window.unboundedFollowing))
        .alias("next_y"),
    )
    t = scan.where(F.col("flag") == 1)
    use_prev = F.col("prev_s").isNotNull() & (
        F.col("next_s").isNull()
        | (
            (F.col("pre") - F.col("prev_s"))
            <= (F.col("next_s") - F.col("pre"))
        )
    )
    return t.select(
        "user_id",
        F.col("post").alias("y_t"),
        F.when(use_prev, F.col("prev_y"))
        .otherwise(F.col("next_y"))
        .alias("y_c"),
        F.when(use_prev, F.col("prev_s"))
        .otherwise(F.col("next_s"))
        .alias("s_c"),
        F.col("pre").alias("s_t"),
    ).where(F.col("y_c").isNotNull())


def q_nn_matching_att(spark, sf_dir):
    """1-NN MATCHING ATT on the pre-score: mean treated-minus-matched
    post outcome, with the mean absolute score gap as the match-
    quality diagnostic."""
    m = _matched(spark, sf_dir)
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_treated"),
        F.round(F.avg(F.col("y_t") - F.col("y_c")), 4).alias("att"),
        F.round(F.avg(F.abs(F.col("s_t") - F.col("s_c"))), 4).alias(
            "mean_score_gap"
        ),
    )


def q_rosenbaum_bounds(spark, sf_dir):
    """ROSENBAUM BOUNDS on the matched-pair sign test: worst-case
    z upper bound at Gamma in {1, 1.5, 2} (p+ = Gamma/(1+Gamma),
    continuity-corrected normal approximation)."""
    m = _matched(spark, sf_dir).where(F.col("y_t") != F.col("y_c"))
    agg = m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("y_t") > F.col("y_c")).cast("bigint")).alias(
            "t_plus"
        ),
    )
    g = agg.select(
        "n",
        "t_plus",
        F.explode(
            F.array(*[F.lit(x) for x in _GAMMAS])
        ).alias("gamma"),
    )
    pp = F.col("gamma") / (1 + F.col("gamma"))
    z = (
        F.col("t_plus") - 0.5 - F.col("n") * pp
    ) / F.sqrt(F.col("n") * pp * (1 - pp))
    return g.select(
        "gamma",
        "n",
        "t_plus",
        F.round(pp, 6).alias("p_plus"),
        F.round(z, 6).alias("z_bound"),
    ).orderBy("gamma")


def q_placebo_did(spark, sf_dir):
    """PLACEBO DIFF-IN-DIFF: the actual DiD (days 1-15 vs 16+) next
    to a pre-period-only placebo (days 1-8 vs 9-15); a sound design
    shows |placebo| << |actual| or both ~0 under an A/A split."""
    e = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % _TREAT_MOD == 0).alias("treated"),
        F.dayofmonth(F.col("ts").cast("timestamp")).alias("day"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )

    def did(df, post_cond):
        m = df.groupBy("treated").agg(
            F.avg(F.when(post_cond, F.col("cents"))).alias("mpost"),
            F.avg(F.when(~post_cond, F.col("cents"))).alias("mpre"),
        )
        return m.agg(
            F.sum(
                F.when(
                    F.col("treated"),
                    F.col("mpost") - F.col("mpre"),
                ).otherwise(-(F.col("mpost") - F.col("mpre")))
            ).alias("did")
        )

    actual = did(e, F.col("day") > 15).select(
        F.lit("actual").alias("which"), F.round("did", 4).alias("did")
    )
    placebo = did(
        e.where(F.col("day") <= 15), F.col("day") > _PLACEBO_SPLIT
    ).select(
        F.lit("placebo").alias("which"),
        F.round("did", 4).alias("did"),
    )
    return actual.unionByName(placebo).orderBy("which")
