"""Feature-eng pack #79 (r4): off-policy evaluation — IPS / SNIPS,
doubly-robust, and a candidate-policy sweep.

RLHF-style data pipelines evaluate policies OFFLINE from logged
interaction data before anything ships.  The logged bandit feed is
synthesized deterministically from the events table so both engines
see the identical dataset, with an EXACTLY KNOWN logging propensity:

  * round    = one event;
  * context  x = value bin (cents DIV 2500, capped at 4 -> 5 contexts);
  * action   a = md5(event_id) first-8-hex-digits % 3 — a uniform
    random logging policy, propensity exactly 1/3 (the registry's
    cross-engine md5-prefix hash, same as ``dsir_weights``);
  * reward   r = 1 iff ((cents DIV 100) + 13*a) % 10 < 3 + a — an
    integer rule both engines evaluate bit-identically, with action-
    dependent base rates (~30/40/50%) so policies genuinely differ.

Public estimators (Horvitz-Thompson IPS; SNIPS per Swaminathan &
Joachims 2015; doubly-robust per Dudik, Langford & Li 2011):

* ``ips_offpolicy`` — per-context exact match/reward counts for the
  target policy pi(x) = x % 3 with running (cumulative-bigint) IPS
  and SNIPS over the context-ordered window; the last row is the
  global estimate.  IPS = 3 * sum(r * match) / n is an exact integer
  rational — no float accumulation anywhere.
* ``dr_offpolicy`` — doubly robust with a direct-method model Q(x,a)
  = Laplace mean reward per (x,a) trained on days 1-15, evaluated on
  days 16+: per logged (x,a) cell the DM term n * Q(x,pi(x)) plus the
  IPS correction 3 * match * (S - n * Q(x,a)); running DR over the
  (x,a)-ordered window normalized by the exact test count.
* ``policy_sweep`` — SNIPS/IPS for the candidate family
  pi_k(x) = (x + k) % 3, k in 0..2: one broadcast 3-row cross join,
  one hash agg, rank by SNIPS (desc, k tie-break) — the offline
  policy-selection step.

Scale shape: each query is ONE map-side-combinable hash aggregation
of the fat events table down to O(contexts * actions) rows; windows
and joins run on that slim relation only.  The 3-way candidate cross
join multiplies rows before the partial agg but never shuffles fat
payloads (plan-pinned in tests/test_plans.py).
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_OP_ACTIONS = 3
_OP_BIN_CENTS = 2500
_OP_MAX_BIN = 4
_OP_TRAIN_DAY_MAX = 15

# reward rule shared verbatim by both engines (a is the action column)
_OP_REWARD_SQL = "CASE WHEN ((cents DIV 100) + 13 * {a}) % 10 < 3 + {a} THEN 1 ELSE 0 END"


def _op_rounds(spark, sf_dir):
    """The logged bandit feed: (day, x, a, r) per event with uniform
    1/3 logging propensity and the deterministic integer reward."""
    e = _t(spark, sf_dir, "events").select(
        F.dayofmonth("ts").cast("int").alias("day"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        (
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % _OP_ACTIONS
        ).alias("a"),
    )
    return e.select(
        "day",
        F.least(
            F.lit(_OP_MAX_BIN), F.expr(f"cents DIV {_OP_BIN_CENTS}")
        ).cast("bigint").alias("x"),
        "a",
        F.expr(_OP_REWARD_SQL.format(a="a")).cast("bigint").alias("r"),
    )


def q_ips_offpolicy(spark, sf_dir):
    """IPS + SNIPS value of the target policy pi(x) = x % 3 from the
    uniformly-logged feed: per context x, exact bigint counts
    (n rounds, n matched, matched reward), per-context IPS, and
    RUNNING global IPS / SNIPS over the x-ordered window — cumulated
    as exact bigints, divided once per row, so there is no float
    accumulation at all.  Last row = the global estimates."""
    r = _op_rounds(spark, sf_dir)
    per_x = r.withColumn(
        "match", (F.col("a") == F.col("x") % _OP_ACTIONS).cast("bigint")
    ).groupBy("x").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("match").cast("bigint").alias("n_match"),
        F.sum(F.col("match") * F.col("r")).cast("bigint").alias("r_match"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_x.select(
        "x",
        "n",
        "n_match",
        "r_match",
        F.sum("n").over(w).cast("bigint").alias("cn"),
        F.sum("n_match").over(w).cast("bigint").alias("cm"),
        F.sum("r_match").over(w).cast("bigint").alias("cr"),
    )
    return cum.select(
        "x",
        "n",
        "n_match",
        "r_match",
        F.round(
            F.lit(_OP_ACTIONS) * F.col("r_match") / F.col("n").cast("double"),
            6,
        ).alias("ips_x"),
        F.round(
            F.lit(_OP_ACTIONS) * F.col("cr") / F.col("cn").cast("double"), 6
        ).alias("ips_run"),
        F.round(
            F.col("cr") / F.nullif(F.col("cm").cast("double"), F.lit(0.0)), 6
        ).alias("snips_run"),
    )


def q_dr_offpolicy(spark, sf_dir):
    """DOUBLY-ROBUST value of pi(x) = x % 3: Q(x,a) = Laplace mean
    reward (S+1)/(n+2) per (x,a) on days 1-15 (unseen cells fall back
    to the 1/2 prior), evaluated on days 16+ grouped to (x,a) cells —
    per cell the exact test counts, both Q values, and the running DR
    sum(n*Q(x,pi) + 3*match*(S - n*Q(x,a))) over the (x,a)-ordered
    window divided by the exact total test count.  Last row = the DR
    estimate."""
    r = _op_rounds(spark, sf_dir)
    q = r.where(F.col("day") <= _OP_TRAIN_DAY_MAX).groupBy("x", "a").agg(
        ((F.sum("r") + 1).cast("double") / (F.count(F.lit(1)) + 2)).alias(
            "qhat"
        )
    )
    test = r.where(F.col("day") > _OP_TRAIN_DAY_MAX).groupBy("x", "a").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r").cast("bigint").alias("s"),
    )
    q_tgt = q.select(
        F.col("x").alias("x"),
        F.col("a").alias("pa"),
        F.col("qhat").alias("qhat_target"),
    )
    j = (
        test.join(F.broadcast(q), ["x", "a"], "left")
        .withColumn("pa", (F.col("x") % _OP_ACTIONS).cast("bigint"))
        .join(F.broadcast(q_tgt), ["x", "pa"], "left")
        .na.fill({"qhat": 0.5, "qhat_target": 0.5})
    )
    match = (F.col("a") == F.col("pa")).cast("bigint")
    term = F.col("n") * F.col("qhat_target") + _OP_ACTIONS * match * (
        F.col("s") - F.col("n") * F.col("qhat")
    )
    w = Window.orderBy("x", "a").rowsBetween(Window.unboundedPreceding, 0)
    cum = j.select(
        "x",
        "a",
        "n",
        "s",
        F.round("qhat", 6).alias("qhat_logged"),
        F.round("qhat_target", 6).alias("qhat_target"),
        F.sum(term).over(w).alias("cum_term"),
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
    )
    return cum.select(
        "x",
        "a",
        "n",
        "s",
        "qhat_logged",
        "qhat_target",
        F.round(F.col("cum_term") / F.col("cum_n").cast("double"), 6).alias(
            "dr_run"
        ),
    )


def q_policy_sweep(spark, sf_dir):
    """OFFLINE POLICY SELECTION over the candidate family
    pi_k(x) = (x + k) % 3: one broadcast 3-row cross join of the
    logged feed with k, one hash aggregation to exact per-k counts,
    IPS / SNIPS per candidate (integer rationals), and the SNIPS rank
    (desc, k tie-break) — row rank 1 is the policy an offline sweep
    would ship."""
    r = _op_rounds(spark, sf_dir)
    ks = spark.range(_OP_ACTIONS).select(F.col("id").cast("bigint").alias("k"))
    per_k = (
        r.crossJoin(F.broadcast(ks))
        .withColumn(
            "match",
            (F.col("a") == (F.col("x") + F.col("k")) % _OP_ACTIONS).cast(
                "bigint"
            ),
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("match").cast("bigint").alias("n_match"),
            F.sum(F.col("match") * F.col("r")).cast("bigint").alias(
                "r_match"
            ),
        )
    )
    snips = F.col("r_match") / F.nullif(
        F.col("n_match").cast("double"), F.lit(0.0)
    )
    scored = per_k.select(
        "k",
        "n_match",
        "r_match",
        F.round(
            F.lit(_OP_ACTIONS) * F.col("r_match") / F.col("n").cast("double"),
            6,
        ).alias("ips"),
        F.round(snips, 6).alias("snips"),
    )
    return scored.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.desc("snips"), F.asc("k")))
        .cast("int"),
    )
