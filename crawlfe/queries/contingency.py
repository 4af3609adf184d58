"""Feature-eng pack #106 (r4): exact and stratified contingency
tests — the small-cell-safe complement of the chi-square family
already in the registry (two_prop_z, mantel_haenszel,
cochran_armitage).

* ``fisher_exact`` — Fisher's exact test on the 2x2 (even/odd
  user_id) x (ever purchases) table.  The hypergeometric pmf is
  built WITHOUT lgamma via the ratio recurrence p(k+1)/p(k) =
  (r1-k)(c1-k) / ((k+1)(r2-c1+k+1)): one ordered cumsum of log
  ratios over the support, normalized by the explicit sum — the
  same deterministic doubles in both engines.  Two-sided p sums all
  tables no more probable than the observed one.
* ``breslow_day`` — Breslow-Day homogeneity-of-odds-ratios test
  across week-of-month strata with Tarone's correction: expected
  cell under the Mantel-Haenszel common OR is the closed-form root
  of the quadratic (1-psi) a^2 + ((n2-m1) + psi (n1+m1)) a
  - psi n1 m1 = 0.
* ``poisson_dispersion`` — the dispersion (variance-ratio) test on
  per-user event counts: D = sum((x-xbar)^2)/xbar ~ chi2_{n-1},
  with the Wilson-Hilferty cube-root normal approximation for z.

Scale shape: each test folds the raw relation to O(1)/O(strata)
counts in one partial-aggregable hash agg; the Fisher support scan
is a broadcastable ~O(min(r1, c1)) generated sequence.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_FE_TIE_EPS = 1e-7  # "no more probable" tie tolerance (R convention)
_FE_HEAVY = 14  # heavy-buyer cutoff: >= 14 purchases (cross-SF median)


def _fe_counts(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        (
            F.sum(
                (F.col("event_type") == "purchase").cast("bigint")
            )
            >= _FE_HEAVY
        )
        .cast("int")
        .alias("buy")
    )
    return u.agg(
        F.sum(
            ((F.col("user_id") % 2 == 0) & (F.col("buy") == 1)).cast(
                "bigint"
            )
        ).alias("a"),
        F.sum(
            ((F.col("user_id") % 2 == 0) & (F.col("buy") == 0)).cast(
                "bigint"
            )
        ).alias("b"),
        F.sum(
            ((F.col("user_id") % 2 == 1) & (F.col("buy") == 1)).cast(
                "bigint"
            )
        ).alias("c"),
        F.sum(
            ((F.col("user_id") % 2 == 1) & (F.col("buy") == 0)).cast(
                "bigint"
            )
        ).alias("d"),
    )


def q_fisher_exact(spark, sf_dir):
    """FISHER'S EXACT two-sided test via the pmf ratio recurrence:
    support k = max(0, c1-r2)..min(r1, c1), log-cumsum of ratios,
    normalize, sum p(k) <= p(obs) (1 + eps)."""
    cnt = _fe_counts(spark, sf_dir)
    g = cnt.select(
        "a",
        "b",
        "c",
        "d",
        (F.col("a") + F.col("b")).alias("r1"),
        (F.col("c") + F.col("d")).alias("r2"),
        (F.col("a") + F.col("c")).alias("c1"),
    ).select(
        "*",
        F.greatest(F.lit(0), F.col("c1") - F.col("r2")).alias("kmin"),
        F.least(F.col("r1"), F.col("c1")).alias("kmax"),
    )
    ks = g.select(
        "a",
        "b",
        "c",
        "d",
        "r1",
        "r2",
        "c1",
        "kmin",
        F.explode(
            F.sequence(F.col("kmin"), F.col("kmax"))
        ).alias("k"),
    )
    # ln ratio p(k)/p(k-1) for k > kmin (recurrence shifted by one)
    lr = F.when(
        F.col("k") == F.col("kmin"), F.lit(0.0)
    ).otherwise(
        F.log(
            (F.col("r1") - F.col("k") + 1).cast("double")
            * (F.col("c1") - F.col("k") + 1)
        )
        - F.log(
            F.col("k").cast("double")
            * (F.col("r2") - F.col("c1") + F.col("k"))
        )
    )
    wk = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lp = ks.select(
        "a", "k", F.sum(lr).over(wk).alias("lp")
    )
    wall = Window.partitionBy()
    wexp = lp.select(
        "a",
        "k",
        F.exp(F.col("lp") - F.max("lp").over(wall)).alias("wk"),
    )
    p = wexp.select(
        "a",
        "k",
        (F.col("wk") / F.sum("wk").over(wall)).alias("p"),
    )
    pobs = p.where(F.col("k") == F.col("a")).select(
        F.col("p").alias("p_obs")
    )
    out = p.crossJoin(F.broadcast(pobs)).agg(
        F.sum(
            F.when(
                F.col("p")
                <= F.col("p_obs") * (1 + F.lit(_FE_TIE_EPS)),
                F.col("p"),
            ).otherwise(0.0)
        ).alias("_p2")
    )
    return (
        g.crossJoin(out)
        .select(
            "a",
            "b",
            "c",
            "d",
            # degenerate table guard (r4 ADVICE): an empty off-diagonal
            # cell (b*c = 0) must be NULL in BOTH engines — Spark's
            # double/0 yields NULL-vs-inf divergence against DuckDB
            F.when(
                (F.col("b") > 0) & (F.col("c") > 0),
                F.round(
                    (F.col("a") * F.col("d")).cast("double")
                    / (F.col("b") * F.col("c")),
                    6,
                ),
            ).alias("odds_ratio"),
            F.round(F.least(F.col("_p2"), F.lit(1.0)), 6).alias(
                "p_two_sided"
            ),
        )
    )


def _bd_strata(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.floor(
                (
                    F.dayofmonth(F.col("ts").cast("timestamp")) - 1
                )
                / 7
            )
            .cast("bigint")
            .alias("stratum"),
            (F.col("user_id") % 2 == 0).alias("g1"),
            (F.col("event_type") == "purchase").alias("s"),
        )
        .groupBy("stratum")
        .agg(
            F.sum((F.col("g1") & F.col("s")).cast("bigint")).alias(
                "a"
            ),
            F.sum((F.col("g1") & ~F.col("s")).cast("bigint")).alias(
                "b"
            ),
            F.sum((~F.col("g1") & F.col("s")).cast("bigint")).alias(
                "c"
            ),
            F.sum(
                (~F.col("g1") & ~F.col("s")).cast("bigint")
            ).alias("d"),
        )
    )


def q_breslow_day(spark, sf_dir):
    """BRESLOW-DAY homogeneity test across week-of-month strata
    under the Mantel-Haenszel common OR, with Tarone's correction;
    df = K - 1."""
    st = _bd_strata(spark, sf_dir)
    tot = (
        F.col("a") + F.col("b") + F.col("c") + F.col("d")
    ).cast("double")
    mh = st.agg(
        F.sum(F.col("a") * F.col("d") / tot).alias("_num"),
        F.sum(F.col("b") * F.col("c") / tot).alias("_den"),
    ).select((F.col("_num") / F.col("_den")).alias("psi"))
    s = st.crossJoin(F.broadcast(mh)).select(
        "stratum",
        "a",
        (F.col("a") + F.col("b")).cast("double").alias("n1"),
        (F.col("c") + F.col("d")).cast("double").alias("n2"),
        (F.col("a") + F.col("c")).cast("double").alias("m1"),
        "psi",
    )
    qa = 1 - F.col("psi")
    qb = (F.col("n2") - F.col("m1")) + F.col("psi") * (
        F.col("n1") + F.col("m1")
    )
    qc = -F.col("psi") * F.col("n1") * F.col("m1")
    disc = F.sqrt(qb * qb - 4 * qa * qc)
    root1 = (-qb + disc) / (2 * qa)
    root2 = (-qb - disc) / (2 * qa)
    lo = F.greatest(F.lit(0.0), F.col("m1") - F.col("n2"))
    hi = F.least(F.col("n1"), F.col("m1"))
    ae = F.when(
        F.abs(qa) < 1e-12, -qc / qb
    ).otherwise(
        F.when(
            (root1 >= lo - 1e-9) & (root1 <= hi + 1e-9), root1
        ).otherwise(root2)
    )
    s = s.select(
        "stratum",
        "a",
        "n1",
        "n2",
        "m1",
        ae.alias("ae"),
    ).select(
        "stratum",
        "a",
        "ae",
        (
            1
            / (
                1 / F.col("ae")
                + 1 / (F.col("n1") - F.col("ae"))
                + 1 / (F.col("m1") - F.col("ae"))
                + 1
                / (F.col("n2") - F.col("m1") + F.col("ae"))
            )
        ).alias("v"),
    )
    m = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            (F.col("a") - F.col("ae"))
            * (F.col("a") - F.col("ae"))
            / F.col("v")
        ).alias("_chi2"),
        F.sum(F.col("a") - F.col("ae")).alias("_dsum"),
        F.sum("v").alias("_vsum"),
    )
    return m.select(
        "k",
        (F.col("k") - 1).cast("bigint").alias("df"),
        F.round("_chi2", 6).alias("chi2"),
        F.round(
            F.col("_chi2")
            - F.col("_dsum") * F.col("_dsum") / F.col("_vsum"),
            6,
        ).alias("chi2_tarone"),
    )


def q_poisson_dispersion(spark, sf_dir):
    """POISSON DISPERSION test on per-user event counts: D =
    sum((x - xbar)^2)/xbar vs chi2_{n-1}; z via the Wilson-Hilferty
    cube-root transform; var_ratio = s^2/xbar is the overdispersion
    index."""
    x = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    m = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    nn = F.col("n").cast("double")
    mean = F.col("sx") / nn
    ssq = F.col("sxx") - F.col("sx").cast("double") * F.col(
        "sx"
    ) / nn
    d = ssq / mean
    df = nn - 1
    wh = (
        F.pow(d / df, F.lit(1.0) / 3)
        - (1 - 2 / (9 * df))
    ) / F.sqrt(2 / (9 * df))
    return m.select(
        "n",
        F.round(mean, 4).alias("mean"),
        F.round(ssq / df / mean, 6).alias("var_ratio"),
        F.round(d, 4).alias("chi2"),
        F.round(wh, 6).alias("z"),
    )
