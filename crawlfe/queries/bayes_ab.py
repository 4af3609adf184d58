"""Feature-eng pack #123 (r4): exact Bayesian A/B decision — the
posterior-probability layer the frequentist suite (two_prop_z,
srm_check, tost_equivalence) doesn't cover.

Data: arms = even/odd user_id, conversion = "heavy buyer" (>= 14
purchases, the cross-SF median); posteriors are Beta(1+s, 1+f) per arm.

* ``bayes_ab_prob`` — the EXACT P(pB > pA | data) via the classic
  finite sum h(aA,bA,aB,bB) = sum_{i<aB} B(aA+i, bA+bB) /
  ((bB+i) B(1+i,bB) B(aA,bA)), evaluated WITHOUT lgamma through the
  term recurrence t_i/t_{i-1} = (aA+i-1)/(aA+bA+bB+i-1) *
  (bB+i-1)/i (one ordered log-cumsum), with posterior means
  alongside.
* ``bayes_expected_loss`` — the Bayesian decision quantity
  E[max(p_other - p_chosen, 0)] for each choice (Stucchio's
  closed form: loss(A) = mB h(aA,bA,aB+1,bB) - mA h(aA+1,bA,aB,bB)
  with m = a/(a+b)), the number test-stopping rules threshold on.
* ``dirichlet_shares`` — Dirichlet(1) posterior of event-type
  shares: mean (a_i/A), sd, and MAP, the multinomial sibling.

Scale shape: counts fold in one hash agg; the h sums are O(aB)
generated sequences with ordered cumsums — no pairwise work, no
special functions.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_FE_HEAVY = 14  # heavy-buyer cutoff: >= 14 purchases (cross-SF median)


def _arm_counts(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("bigint"))
            >= _FE_HEAVY
        ).alias("conv")
    )
    return u.agg(
        (
            1
            + F.sum(
                ((F.col("user_id") % 2 == 0) & F.col("conv")).cast(
                    "bigint"
                )
            )
        ).alias("a_a"),
        (
            1
            + F.sum(
                ((F.col("user_id") % 2 == 0) & ~F.col("conv")).cast(
                    "bigint"
                )
            )
        ).alias("b_a"),
        (
            1
            + F.sum(
                ((F.col("user_id") % 2 == 1) & F.col("conv")).cast(
                    "bigint"
                )
            )
        ).alias("a_b"),
        (
            1
            + F.sum(
                ((F.col("user_id") % 2 == 1) & ~F.col("conv")).cast(
                    "bigint"
                )
            )
        ).alias("b_b"),
    )


def _h_df(params, da=0, dbb=0, dc=0, dd=0):
    """P(pB > pA) for Beta(a_a+da, b_a+dbb) vs Beta(a_b+dc, b_b+dd)
    as a 1-row DF with column ``h`` — term recurrence + ordered
    log-cumsum, log t_0 from two explicit ln ranges."""
    p = params.select(
        (F.col("a_a") + da).alias("aa"),
        (F.col("b_a") + dbb).alias("ba"),
        (F.col("a_b") + dc).alias("ab"),
        (F.col("b_b") + dd).alias("bb"),
    )
    # ln t0 = sum_{j=ba}^{ba+bb-1} ln j - sum_{j=aa+ba}^{aa+ba+bb-1} ln j
    lnt0 = p.select(
        "*",
        F.explode(
            F.sequence(F.lit(0), F.col("bb") - 1)
        ).alias("j"),
    ).groupBy("aa", "ba", "ab", "bb").agg(
        F.sum(
            F.log((F.col("ba") + F.col("j")).cast("double"))
            - F.log(
                (F.col("aa") + F.col("ba") + F.col("j")).cast(
                    "double"
                )
            )
        ).alias("lnt0")
    )
    ks = lnt0.select(
        "*",
        F.explode(
            F.sequence(F.lit(0), F.col("ab") - 1)
        ).alias("i"),
    )
    lr = F.when(F.col("i") == 0, F.lit(0.0)).otherwise(
        F.log(
            (F.col("aa") + F.col("i") - 1).cast("double")
            * (F.col("bb") + F.col("i") - 1)
        )
        - F.log(
            (
                F.col("aa")
                + F.col("ba")
                + F.col("bb")
                + F.col("i")
                - 1
            ).cast("double")
            * F.col("i")
        )
    )
    wk = Window.partitionBy("aa").orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lp = ks.select(
        "i", (F.col("lnt0") + F.sum(lr).over(wk)).alias("lp")
    )
    wall = Window.partitionBy()
    shifted = lp.select(
        "i",
        F.exp(F.col("lp") - F.max("lp").over(wall)).alias("w"),
        F.max("lp").over(wall).alias("mx"),
    )
    wcum = Window.orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wlast = Window.orderBy(F.desc("i"))
    return (
        shifted.select(
            F.sum("w").over(wcum).alias("sw"),
            "mx",
            F.row_number().over(wlast).alias("_rd"),
        )
        .where(F.col("_rd") == 1)
        .select(F.exp(F.log("sw") + F.col("mx")).alias("h"))
    )


def q_bayes_ab_prob(spark, sf_dir):
    """EXACT P(pB > pA) under Beta(1+s,1+f) posteriors, with the
    posterior means."""
    params = _arm_counts(spark, sf_dir).localCheckpoint(eager=True)
    h = _h_df(params)
    return params.crossJoin(h).select(
        (F.col("a_a") - 1).cast("bigint").alias("conv_a"),
        (F.col("b_a") - 1).cast("bigint").alias("fail_a"),
        (F.col("a_b") - 1).cast("bigint").alias("conv_b"),
        (F.col("b_b") - 1).cast("bigint").alias("fail_b"),
        F.round(
            F.col("a_a")
            / (F.col("a_a") + F.col("b_a")).cast("double"),
            6,
        ).alias("post_mean_a"),
        F.round(
            F.col("a_b")
            / (F.col("a_b") + F.col("b_b")).cast("double"),
            6,
        ).alias("post_mean_b"),
        F.round("h", 6).alias("p_b_beats_a"),
    )


def q_bayes_expected_loss(spark, sf_dir):
    """BAYESIAN EXPECTED LOSS of each choice: E[max(p_other -
    p_chosen, 0)] via Stucchio's closed form — the stop-test
    threshold quantity."""
    params = _arm_counts(spark, sf_dir).localCheckpoint(eager=True)
    h0 = _h_df(params).select(F.col("h").alias("h0"))
    hb1 = _h_df(params, dc=1).select(F.col("h").alias("hb1"))
    ha1 = _h_df(params, da=1).select(F.col("h").alias("ha1"))
    j = params.crossJoin(h0).crossJoin(hb1).crossJoin(ha1)
    ma = F.col("a_a") / (F.col("a_a") + F.col("b_a")).cast("double")
    mb = F.col("a_b") / (F.col("a_b") + F.col("b_b")).cast("double")
    loss_a = mb * F.col("hb1") - ma * F.col("ha1")
    # loss of choosing B: E[max(pA - pB, 0)] by symmetry
    loss_b = ma * (1 - F.col("ha1")) - mb * (1 - F.col("hb1"))
    return j.select(
        F.round(F.col("h0"), 6).alias("p_b_beats_a"),
        F.round(loss_a, 6).alias("exp_loss_choose_a"),
        F.round(loss_b, 6).alias("exp_loss_choose_b"),
        F.when(loss_a <= loss_b, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("lower_risk_arm"),
    )


def q_dirichlet_shares(spark, sf_dir):
    """DIRICHLET(1) posterior of event-type shares: mean, sd, MAP."""
    e = _t(spark, sf_dir, "events")
    c = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = c.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    j = c.crossJoin(F.broadcast(tot))
    a = (F.col("n") + 1).cast("double")
    a0 = (F.col("nn") + F.col("k")).cast("double")
    mean = a / a0
    sd = F.sqrt(mean * (1 - mean) / (a0 + 1))
    mapv = (a - 1) / (a0 - F.col("k"))
    return j.select(
        "event_type",
        "n",
        F.round(mean, 6).alias("post_mean"),
        F.round(sd, 6).alias("post_sd"),
        F.round(mapv, 6).alias("post_map"),
    ).orderBy("event_type")
