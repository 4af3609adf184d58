"""Feature-eng pack #58 (r4): distinct sketches + periodicity.

KMV (K-minimum-values) distinct-count sketching with exact error
accounting (Bar-Yossef+ '02), the sketch-MERGE that makes it scale
(union two sketches without touching raw keys), periodogram-style
top-period detection by series folding, and day-of-week-adjusted
anomaly days.  The sketch hash is the deterministic 60-bit md5 prefix
idiom (identical in Spark's
``conv(substring(md5(..),1,15),16,10)`` and DuckDB's
``CAST('0x'||substr(md5(..),1,15) AS UBIGINT)``), so every estimate is
bit-identical across engines, runs, and cluster sizes.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_KMV_K = 32          # sketch size (k smallest hashes kept)
_KMV_DOM = 2.0 ** 60  # hash domain: 60-bit md5 prefix
_FOLD_PMAX = 10      # candidate periods 2.._FOLD_PMAX days


def _h60(col):
    """Deterministic 60-bit uniform hash of a string column — the
    cross-engine md5-prefix idiom (15 hex chars = 60 bits)."""
    return F.conv(
        F.substring(F.md5(F.encode(col.cast("string"), "utf-8")), 1, 15),
        16,
        10,
    ).cast("bigint")


_H60_SQL = (
    "CAST(CAST('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 15)"
    " AS UBIGINT) AS BIGINT)"
)


def q_kmv_distinct(spark, sf_dir):
    """Per-event-type KMV DISTINCT-COUNT sketch over user_id with
    exact error accounting: keep the K=32 smallest 60-bit hashes of
    the distinct users, estimate D ≈ (K-1)·2^60 / h_(K), and report
    the kth hash (the entire sketch boundary, exact bigint), the
    exact distinct count, and the relative error.  Groups with fewer
    than K distinct users fall back to the exact count (standard KMV
    convention).

    Scale shape: distinct is one shuffle on (type, user); the
    row_number ≤ K filter is pushed map-side by Spark's
    WindowGroupLimit, so each partition forwards at most K rows per
    group — the same partial-top-K merge a 100 TB sketch build does.
    The exact count exists only for the error column; production
    keeps the sketch alone."""
    ev = _t(spark, sf_dir, "events")
    dist = ev.select("event_type", "user_id").distinct()
    hashed = dist.select(
        "event_type", _h60(F.col("user_id")).alias("h")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    topk = hashed.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= _KMV_K
    )
    sketch = topk.groupBy("event_type").agg(
        F.max("h").alias("kth_h"),
        F.count(F.lit(1)).cast("bigint").alias("sk_n"),
    )
    exact = dist.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    est = F.when(
        F.col("sk_n") < F.lit(_KMV_K),
        F.col("sk_n").cast("double"),
    ).otherwise(
        F.lit(float(_KMV_K - 1))
        * F.lit(_KMV_DOM)
        / F.col("kth_h").cast("double")
    )
    return (
        sketch.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            "n_exact",
            "kth_h",
            F.round(est, 4).alias("kmv_est"),
            F.round(
                (est - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double"),
                6,
            ).alias("rel_err"),
        )
    )


SQL_KMV_DISTINCT = f"""
WITH dist AS (
  SELECT DISTINCT event_type, user_id FROM events
), hashed AS (
  SELECT event_type,
         {_H60_SQL.format(c='user_id')} AS h
  FROM dist
), topk AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashed
), sketch AS (
  SELECT event_type, max(h) AS kth_h,
         CAST(count(*) AS BIGINT) AS sk_n
  FROM topk WHERE rn <= {_KMV_K} GROUP BY 1
), exact AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
  FROM dist GROUP BY 1
)
SELECT s.event_type, e.n_exact, s.kth_h,
       round(CASE WHEN s.sk_n < {_KMV_K}
                  THEN CAST(s.sk_n AS DOUBLE)
                  ELSE {float(_KMV_K - 1)} * {_KMV_DOM!r}
                       / CAST(s.kth_h AS DOUBLE) END, 4) AS kmv_est,
       round((CASE WHEN s.sk_n < {_KMV_K}
                   THEN CAST(s.sk_n AS DOUBLE)
                   ELSE {float(_KMV_K - 1)} * {_KMV_DOM!r}
                        / CAST(s.kth_h AS DOUBLE) END
              - CAST(e.n_exact AS DOUBLE))
             / CAST(e.n_exact AS DOUBLE), 6) AS rel_err
FROM sketch s JOIN exact e ON s.event_type = e.event_type
"""


def q_kmv_union_merge(spark, sf_dir):
    """KMV sketch MERGEABILITY — the property that makes it a 100 TB
    operator: the sketch of (clicks ∪ purchases) users is built by
    UNIONING the two per-side K-smallest sets and re-taking the K
    smallest, never touching raw keys again.  Reports both per-side
    estimates, the merged-union estimate, the exact union distinct,
    and the merge's relative error.  This is exactly how per-partition
    sketches combine in a tree reduce: state is O(K) per side, the
    merge is an O(K log K) re-rank, and the result is identical to
    sketching the union directly (min-wise hashing is union-stable)."""
    ev = _t(spark, sf_dir, "events")

    def side(et):
        dist = (
            ev.where(F.col("event_type") == et)
            .select("user_id")
            .distinct()
        )
        # global k-smallest via orderBy+limit: Spark plans this as
        # TakeOrderedAndProject (map-side partial top-K per partition,
        # O(K) merged on the driver) — NOT a single-partition window
        return dist.select(_h60(F.col("user_id")).alias("h")).orderBy(
            "h"
        ).limit(_KMV_K)

    ka, kb = side("click"), side("purchase")

    def estimate(sk, name):
        top = sk.select("h").distinct().orderBy("h").limit(_KMV_K)
        return top.agg(
            F.max("h").alias(f"kth_{name}"),
            F.count(F.lit(1)).cast("bigint").alias(f"n_{name}"),
        )

    merged = estimate(ka.unionAll(kb), "u")
    ea = estimate(ka, "a")
    eb = estimate(kb, "b")
    exact = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .select("user_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_union"))
    )

    def kmv_est(nc, kc):
        return F.when(
            F.col(nc) < F.lit(_KMV_K), F.col(nc).cast("double")
        ).otherwise(
            F.lit(float(_KMV_K - 1))
            * F.lit(_KMV_DOM)
            / F.col(kc).cast("double")
        )

    row = (
        merged.crossJoin(F.broadcast(ea))
        .crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(exact))
    )
    est_u = kmv_est("n_u", "kth_u")
    return row.select(
        F.lit(_KMV_K).cast("bigint").alias("k"),
        F.round(kmv_est("n_a", "kth_a"), 4).alias("est_click"),
        F.round(kmv_est("n_b", "kth_b"), 4).alias("est_purchase"),
        F.round(est_u, 4).alias("est_union"),
        "exact_union",
        F.round(
            (est_u - F.col("exact_union").cast("double"))
            / F.col("exact_union").cast("double"),
            6,
        ).alias("rel_err"),
    )


_SQL_KMV_SIDE = f"""
  SELECT h FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
      SELECT DISTINCT {_H60_SQL.format(c='user_id')} AS h
      FROM events WHERE event_type = '{{et}}'
    )
  ) WHERE rn <= {_KMV_K}
"""

SQL_KMV_UNION_MERGE = f"""
WITH ka AS ({_SQL_KMV_SIDE.format(et='click')}),
kb AS ({_SQL_KMV_SIDE.format(et='purchase')}),
mu AS (
  SELECT max(h) AS kth_u, CAST(count(*) AS BIGINT) AS n_u FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
      SELECT DISTINCT h FROM (
        SELECT h FROM ka UNION ALL SELECT h FROM kb
      )
    )
  ) WHERE rn <= {_KMV_K}
), ea AS (
  SELECT max(h) AS kth_a, CAST(count(*) AS BIGINT) AS n_a FROM ka
), eb AS (
  SELECT max(h) AS kth_b, CAST(count(*) AS BIGINT) AS n_b FROM kb
), ex AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_union
  FROM events WHERE event_type IN ('click', 'purchase')
)
SELECT CAST({_KMV_K} AS BIGINT) AS k,
       round(CASE WHEN n_a < {_KMV_K} THEN CAST(n_a AS DOUBLE)
                  ELSE {float(_KMV_K - 1)} * {_KMV_DOM!r}
                       / CAST(kth_a AS DOUBLE) END, 4) AS est_click,
       round(CASE WHEN n_b < {_KMV_K} THEN CAST(n_b AS DOUBLE)
                  ELSE {float(_KMV_K - 1)} * {_KMV_DOM!r}
                       / CAST(kth_b AS DOUBLE) END, 4) AS est_purchase,
       round(CASE WHEN n_u < {_KMV_K} THEN CAST(n_u AS DOUBLE)
                  ELSE {float(_KMV_K - 1)} * {_KMV_DOM!r}
                       / CAST(kth_u AS DOUBLE) END, 4) AS est_union,
       exact_union,
       round((CASE WHEN n_u < {_KMV_K} THEN CAST(n_u AS DOUBLE)
                   ELSE {float(_KMV_K - 1)} * {_KMV_DOM!r}
                        / CAST(kth_u AS DOUBLE) END
              - CAST(exact_union AS DOUBLE))
             / CAST(exact_union AS DOUBLE), 6) AS rel_err
FROM mu, ea, eb, ex
"""


def q_fold_period_strength(spark, sf_dir):
    """Periodogram-style TOP-PERIOD detection by FOLDING: for each
    candidate period p in 2..10 days, fold the global daily event
    count series by (day mod p) and report the share of variance the
    fold explains (the between-fold R² of a one-way ANOVA on the
    series).  The true period (and its multiples) spikes; this is the
    counting-only sibling of an FFT periodogram and needs no
    transcendentals, so it cross-checks exactly.

    All sums are exact BIGINTs (daily counts, per-fold sums, sums of
    squares); the only doubles are the ≤10-term Σ S_g²/n_g and two
    final divisions.  One narrow scan → (day) hash agg → broadcast
    of the ≤10-row period dimension → (p, fold) agg → p agg."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.datediff(
                F.col("ts").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    periods = spark.range(2, _FOLD_PMAX + 1).select(
        F.col("id").cast("bigint").alias("p")
    )
    folded = (
        daily.crossJoin(F.broadcast(periods))
        .select("p", F.pmod(F.col("d"), F.col("p")).alias("g"), "c")
        .groupBy("p", "g")
        .agg(
            F.sum("c").cast("bigint").alias("s_g"),
            F.count(F.lit(1)).cast("bigint").alias("n_g"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss_g"),
        )
    )
    agg = folded.groupBy("p").agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.sum("ss_g").cast("bigint").alias("ss"),
        F.sum(
            F.col("s_g").cast("double")
            * F.col("s_g").cast("double")
            / F.col("n_g").cast("double")
        ).alias("a"),
        F.count(F.lit(1)).cast("bigint").alias("n_folds"),
    )
    grand = F.col("s").cast("double") * F.col("s").cast("double") / F.col(
        "n"
    ).cast("double")
    denom = F.col("ss").cast("double") - grand
    return (
        agg.where(denom > 0)
        .select(
            "p",
            F.col("n").alias("n_days"),
            "n_folds",
            F.round((F.col("a") - grand) / denom, 6).alias("r2"),
        )
    )


SQL_FOLD_PERIOD_STRENGTH = f"""
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01',
                        CAST(ts AS DATE)) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
), periods AS (
  SELECT CAST(unnest(generate_series(2, {_FOLD_PMAX})) AS BIGINT) AS p
), folded AS (
  SELECT p, d % p AS g,
         CAST(sum(c) AS BIGINT) AS s_g,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(c * c) AS BIGINT) AS ss_g
  FROM daily, periods GROUP BY 1, 2
), agg AS (
  SELECT p,
         CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(s_g) AS BIGINT) AS s,
         CAST(sum(ss_g) AS BIGINT) AS ss,
         sum(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
             / CAST(n_g AS DOUBLE)) AS a,
         CAST(count(*) AS BIGINT) AS n_folds
  FROM folded GROUP BY 1
)
SELECT p, n AS n_days, n_folds,
       round((a - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                  / CAST(n AS DOUBLE))
             / (CAST(ss AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                  / CAST(n AS DOUBLE)), 6) AS r2
FROM agg
WHERE CAST(ss AS DOUBLE)
      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) > 0
"""


def q_seasonal_anomaly_days(spark, sf_dir):
    """Day-of-week-ADJUSTED anomaly days on the global daily event
    count: expected = mean count of that weekday, residual = count −
    expected, z = residual / stddev_pop(residuals), flag |z| ≥ 2.
    The seasonal twin of a plain daily z-score — a traffic spike on a
    naturally-busy Monday is NOT an anomaly here.  Weekday comes from
    pure day-number arithmetic ((d+3) mod 7, epoch day 0 = Thursday =
    ISO weekday 3) so both engines share one integer definition.

    Two hash aggs (day, then dow) + one broadcast of the 7-row dow
    profile + one 2-row global-moments broadcast — no window, no
    sort; at 100 TB this is a pure map-side-combinable pipeline."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.datediff(
                F.col("ts").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("dow", F.pmod(F.col("d") + 3, F.lit(7)))
    )
    prof = daily.groupBy("dow").agg(
        F.sum("c").cast("bigint").alias("s_w"),
        F.count(F.lit(1)).cast("bigint").alias("n_w"),
    )
    j = daily.join(F.broadcast(prof), "dow").withColumn(
        "resid",
        F.col("c").cast("double")
        - F.col("s_w").cast("double") / F.col("n_w").cast("double"),
    )
    mom = j.agg(
        F.avg(F.col("resid") * F.col("resid")).alias("m2"),
        F.avg("resid").alias("m1"),
    )
    sigma = F.sqrt(F.col("m2") - F.col("m1") * F.col("m1"))
    z = F.col("resid") / sigma
    return (
        j.crossJoin(F.broadcast(mom))
        .where(sigma > 0)
        .select(
            "d",
            F.col("dow").cast("bigint").alias("dow"),
            "c",
            F.round(
                F.col("s_w").cast("double") / F.col("n_w").cast("double"),
                6,
            ).alias("expected"),
            F.round(z, 4).alias("z"),
            (F.abs(z) >= 2).alias("is_anomaly"),
        )
    )


SQL_SEASONAL_ANOMALY_DAYS = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01',
                        CAST(ts AS DATE)) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
), dd AS (
  SELECT d, c, (d + 3) % 7 AS dow FROM daily
), prof AS (
  SELECT dow, CAST(sum(c) AS BIGINT) AS s_w,
         CAST(count(*) AS BIGINT) AS n_w
  FROM dd GROUP BY 1
), j AS (
  SELECT dd.d, dd.dow, dd.c, prof.s_w, prof.n_w,
         CAST(dd.c AS DOUBLE)
         - CAST(prof.s_w AS DOUBLE) / CAST(prof.n_w AS DOUBLE) AS resid
  FROM dd JOIN prof ON dd.dow = prof.dow
), mom AS (
  SELECT avg(resid * resid) AS m2, avg(resid) AS m1 FROM j
)
SELECT j.d, CAST(j.dow AS BIGINT) AS dow, j.c,
       round(CAST(j.s_w AS DOUBLE) / CAST(j.n_w AS DOUBLE), 6)
         AS expected,
       round(j.resid / sqrt(mom.m2 - mom.m1 * mom.m1), 4) AS z,
       abs(j.resid / sqrt(mom.m2 - mom.m1 * mom.m1)) >= 2
         AS is_anomaly
FROM j, mom
WHERE sqrt(mom.m2 - mom.m1 * mom.m1) > 0
"""
