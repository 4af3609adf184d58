"""Feature-eng pack #131 (r4): causal structure — mediation, the
conditional-independence skeleton and temporal precedence, next to
diff_in_diff / iv_wald / rd_estimate / event_study.

* ``mediation_sobel`` — Baron-Kenny paths with the Sobel test:
  X = pseudo-treatment (user_id % 2), M = n_events, Y = total
  cents; a (X->M), b (M->Y | X) from the exact 2-covariate OLS
  closed form, indirect effect ab, Sobel z = ab /
  sqrt(b^2 se_a^2 + a^2 se_b^2), plus the proportion mediated.
* ``partial_corr_skeleton`` — PC-algorithm step one on the
  (n_events, total_cents, n_purchases) triangle: for each pair,
  the marginal r, the partial r given the third, and the Fisher-z
  verdict (|z| > 1.96 keeps the edge).
* ``granger_lite`` — daily-series temporal precedence: does
  yesterday's purchase count predict today's cents beyond
  yesterday's cents?  Restricted vs unrestricted RSS F test with
  the exact 2-covariate OLS.

Scale shape: per-user/daily folds are single hash aggs; every model
is a closed-form moment computation (2x2 determinants), no solver.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_PC_Z = 1.96


def _xmy(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("double").alias("m"),
            F.expr(
                "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)"
            ).alias("y"),
            F.sum(
                (F.col("event_type") == "purchase").cast("bigint")
            ).cast("double").alias("p"),
        )
        .select(
            "user_id",
            (F.col("user_id") % 2 == 0).cast("double").alias("x"),
            "m",
            "y",
            "p",
        )
    )


def q_mediation_sobel(spark, sf_dir):
    """SOBEL MEDIATION X -> M -> Y: paths, indirect effect, z."""
    u = _xmy(spark, sf_dir)
    mo = u.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("m").alias("mm"),
        F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("x") * F.col("m")).alias("mxm"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
        F.avg(F.col("m") * F.col("m")).alias("mmm"),
        F.avg(F.col("m") * F.col("y")).alias("mmy"),
        F.avg(F.col("y") * F.col("y")).alias("myy"),
    )
    n = F.col("n")
    sxx = F.col("mxx") - F.col("mx") * F.col("mx")
    sxm = F.col("mxm") - F.col("mx") * F.col("mm")
    sxy = F.col("mxy") - F.col("mx") * F.col("my")
    smm = F.col("mmm") - F.col("mm") * F.col("mm")
    smy = F.col("mmy") - F.col("mm") * F.col("my")
    syy = F.col("myy") - F.col("my") * F.col("my")
    # path a: M on X
    a = sxm / sxx
    rss_a = n * (smm - sxm * sxm / sxx)
    se_a = F.sqrt(rss_a / (n - 2) / (n * sxx))
    # Y on X and M (2-covariate closed form)
    det = sxx * smm - sxm * sxm
    c_x = (smm * sxy - sxm * smy) / det  # direct effect c'
    b = (sxx * smy - sxm * sxy) / det
    rss = n * (syy - c_x * sxy - b * smy)
    sigma2 = rss / (n - 3)
    se_b = F.sqrt(sigma2 * sxx / (n * det))
    ab = a * b
    sobel = ab / F.sqrt(
        b * b * se_a * se_a + a * a * se_b * se_b
    )
    total = sxy / sxx
    return mo.select(
        n.cast("bigint").alias("n"),
        F.round(a, 6).alias("path_a"),
        F.round(b, 6).alias("path_b"),
        F.round(c_x, 6).alias("direct_c"),
        F.round(ab, 6).alias("indirect_ab"),
        F.round(sobel, 6).alias("sobel_z"),
        F.round(ab / total, 6).alias("prop_mediated"),
    )


def q_partial_corr_skeleton(spark, sf_dir):
    """PC STEP-ONE on the feature triangle: marginal and partial
    correlations with the Fisher-z edge verdict."""
    u = _xmy(spark, sf_dir).select(
        F.col("m").alias("f_m"),
        F.col("y").alias("f_y"),
        F.col("p").alias("f_p"),
    )
    mo = u.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        *[
            F.avg(F.col(f"f_{a}") * F.col(f"f_{b}")).alias(
                f"x_{a}{b}"
            )
            for a, b in (
                ("m", "m"), ("m", "y"), ("m", "p"),
                ("y", "y"), ("y", "p"), ("p", "p"),
            )
        ],
        F.avg("f_m").alias("a_m"),
        F.avg("f_y").alias("a_y"),
        F.avg("f_p").alias("a_p"),
    )

    _ord = {"m": 0, "y": 1, "p": 2}

    def s(a, b):
        x, y = sorted((a, b), key=_ord.get)
        return F.col(f"x_{x}{y}") - F.col(f"a_{a}") * F.col(
            f"a_{b}"
        )

    def r(a, b):
        return s(a, b) / F.sqrt(s(a, a) * s(b, b))

    rows = []
    trip = [("m", "y", "p"), ("m", "p", "y"), ("y", "p", "m")]
    names = {"m": "n_events", "y": "total_cents", "p": "n_purchases"}
    for a, b, c in trip:
        rab, rac, rbc = r(a, b), r(a, c), r(b, c)
        part = (rab - rac * rbc) / F.sqrt(
            (1 - rac * rac) * (1 - rbc * rbc)
        )
        z = (
            0.5
            * F.log((1 + part) / (1 - part))
            * F.sqrt(F.col("n") - 4)
        )
        rows.append(
            mo.select(
                F.lit(f"{names[a]}~{names[b]}").alias("pair"),
                F.lit(names[c]).alias("given"),
                F.round(rab, 6).alias("marginal_r"),
                F.round(part, 6).alias("partial_r"),
                F.round(z, 6).alias("fisher_z"),
                (F.abs(z) > _PC_Z).alias("edge_kept"),
            )
        )
    out = rows[0]
    for r_ in rows[1:]:
        out = out.unionByName(r_)
    return out.orderBy("pair")


def q_granger_lite(spark, sf_dir):
    """GRANGER-LITE: daily cents_t on cents_{t-1} (restricted) vs
    + purchases_{t-1} (unrestricted); F test of the added lag."""
    e = _t(spark, sf_dir, "events").select(
        F.dayofmonth(F.col("ts").cast("timestamp")).cast("bigint").alias(
            "day"
        ),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        (F.col("event_type") == "purchase").cast("bigint").alias(
            "buy"
        ),
    )
    d = e.groupBy("day").agg(
        F.sum("cents").cast("double").alias("y"),
        F.sum("buy").cast("double").alias("p"),
    )
    w = Window.orderBy("day")
    lagd = d.select(
        "day",
        "y",
        F.lag("y").over(w).alias("y1"),
        F.lag("p").over(w).alias("p1"),
    ).where(F.col("y1").isNotNull())
    mo = lagd.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("y").alias("my"),
        F.avg("y1").alias("m1"),
        F.avg("p1").alias("m2"),
        F.avg(F.col("y1") * F.col("y1")).alias("s11"),
        F.avg(F.col("y1") * F.col("p1")).alias("s12"),
        F.avg(F.col("p1") * F.col("p1")).alias("s22"),
        F.avg(F.col("y") * F.col("y1")).alias("sy1"),
        F.avg(F.col("y") * F.col("p1")).alias("sy2"),
        F.avg(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    c11 = F.col("s11") - F.col("m1") * F.col("m1")
    c12 = F.col("s12") - F.col("m1") * F.col("m2")
    c22 = F.col("s22") - F.col("m2") * F.col("m2")
    cy1 = F.col("sy1") - F.col("my") * F.col("m1")
    cy2 = F.col("sy2") - F.col("my") * F.col("m2")
    cyy = F.col("syy") - F.col("my") * F.col("my")
    # restricted: y on y1
    rss_r = n * (cyy - cy1 * cy1 / c11)
    # unrestricted: y on y1, p1
    det = c11 * c22 - c12 * c12
    b1 = (c22 * cy1 - c12 * cy2) / det
    b2 = (c11 * cy2 - c12 * cy1) / det
    rss_u = n * (cyy - b1 * cy1 - b2 * cy2)
    fstat = (rss_r - rss_u) / (rss_u / (n - 3))
    return mo.select(
        n.cast("bigint").alias("n"),
        F.round(b2, 6).alias("beta_lag_purchases"),
        F.round(rss_r / n, 4).alias("rss_restricted_per_n"),
        F.round(rss_u / n, 4).alias("rss_unrestricted_per_n"),
        F.round(fstat, 6).alias("f_stat"),
    )
