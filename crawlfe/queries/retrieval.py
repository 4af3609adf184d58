"""Feature-eng packs #6-#8: retention cohorts, funnels, BM25, fuzzy join, unpivot, BPE pair counts.

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from .. import windows as W
from ._shared import SESSION_GAP_S, _t, _us


# --------------------------------------------------------------------------
# Feature-eng pack #6: retention cohorts, ordered session funnel,
# fixed-width histogram, bigram PMI collocations, CDC upsert apply,
# overlapping doc chunking, per-group quantile normalization
# --------------------------------------------------------------------------

def q_retention_cohorts(spark, sf_dir):
    """Cohort retention triangle (the activation/retention report every
    event pipeline ships): cohort = each user's first active day, then
    distinct active users per (cohort_day, offset_days). Day indices
    are exact integer division of epoch-µs (``div`` / ``//``) so both
    engines bucket identically with no double rounding. Two shuffles:
    the cohort window on user_id, then the (cohort, offset) agg with
    map-side partial distinct."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000"
        ).alias("day"),
    )
    w = Window.partitionBy("user_id")
    d = d.withColumn("cohort_day", F.min("day").over(w))
    return d.groupBy(
        "cohort_day", (F.col("day") - F.col("cohort_day")).alias("offset_days")
    ).agg(F.countDistinct("user_id").alias("n_users"))


SQL_RETENTION_COHORTS = """
WITH d AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
), c AS (
  SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort_day
  FROM d
)
SELECT cohort_day, day - cohort_day AS offset_days,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM c GROUP BY cohort_day, day - cohort_day
"""


def q_session_funnel(spark, sf_dir):
    """Ordered conversion funnel per session (view -> click -> purchase,
    each step strictly at-or-after the previous step's first hit):
    gap-sessionize the event stream, then three unordered-frame window
    mins over (user_id, session_id) — the later steps reference the
    earlier step's timestamp, so NULL propagates exactly when the
    funnel breaks. All three funnel windows share one hash partitioning
    and the final per-session agg reuses it: two exchanges total
    (sessionize on user_id, funnel on user_id+session_id)."""
    ev = _t(spark, sf_dir, "events")
    s = W.sessionize(
        ev, key="user_id", ts="ts", gap_seconds=SESSION_GAP_S
    ).select(
        "user_id", "session_id", _us("ts").alias("ts_us"), "event_type"
    )
    w = Window.partitionBy("user_id", "session_id")
    s = s.withColumn(
        "fv",
        F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).over(w),
    )
    s = s.withColumn(
        "fc",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts_us") >= F.col("fv")),
                F.col("ts_us"),
            )
        ).over(w),
    )
    s = s.withColumn(
        "fp",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts_us") >= F.col("fc")),
                F.col("ts_us"),
            )
        ).over(w),
    )
    return s.groupBy("user_id", "session_id").agg(
        F.min("fv").alias("first_view_us"),
        F.min("fc").alias("first_click_us"),
        F.min("fp").alias("first_purchase_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_SESSION_FUNNEL = f"""
WITH flagged AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > {SESSION_GAP_S} * 1000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
         THEN 1 ELSE 0 END AS new_sess,
         ts, event_id
  FROM events
), sess AS (
  SELECT user_id, event_type, ts_us,
         CAST(sum(new_sess) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
              AS BIGINT) AS session_id
  FROM flagged
), f1 AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
              OVER (PARTITION BY user_id, session_id) AS fv
  FROM sess
), f2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts_us >= fv
                     THEN ts_us END)
              OVER (PARTITION BY user_id, session_id) AS fc
  FROM f1
), f3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us >= fc
                     THEN ts_us END)
              OVER (PARTITION BY user_id, session_id) AS fp
  FROM f2
)
SELECT user_id, session_id,
       min(fv) AS first_view_us,
       min(fc) AS first_click_us,
       min(fp) AS first_purchase_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM f3 GROUP BY user_id, session_id
"""


def q_histogram(spark, sf_dir):
    """Fixed-width histogram per group (the distribution profile step
    of any feature-quality report): bucket = min(floor(value/25), 19),
    a pure float divide + floor both engines execute bit-identically on
    identical doubles. One agg shuffle with map-side partial combine —
    at 100 TB the shuffle carries at most groups x 20 rows per task."""
    ev = _t(spark, sf_dir, "events")
    b = F.least(
        F.floor(F.col("value") / F.lit(25.0)).cast("bigint"), F.lit(19)
    ).alias("bucket")
    return (
        ev.select("event_type", b)
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_HISTOGRAM = """
SELECT event_type,
       least(CAST(floor(value / 25.0) AS BIGINT), 19) AS bucket,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY event_type, least(CAST(floor(value / 25.0) AS BIGINT), 19)
"""


def q_pmi_bigrams(spark, sf_dir):
    """Bigram PMI collocation mining (phrase detection for tokenizer /
    vocab pipelines, Mikolov-style): adjacent-token pairs come from a
    narrow ``zip_with(slice, slice)`` + one explode — NO positional
    self-join, so the hot path never shuffles token-level rows twice.
    Bigram and unigram counts partial-combine map-side; the two scalar
    totals broadcast as 1-row cross joins; PMI is computed from an
    identical expression string in both engines (same IEEE op order)
    and rounded to 4dp. min-count 5 keeps the output the stable head."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim(F.col("text")), "\\s+").alias("toks")
    )
    bi = d.select(
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                "         slice(toks, 2, size(toks) - 1),"
                "         (x, y) -> struct(x AS w1, y AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    cb = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    uni = (
        d.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tok = uni.agg(F.sum("c").alias("n_tok"))
    n_bi = cb.agg(F.sum("n").alias("n_bi"))
    j = (
        cb.where(F.col("n") >= 5)
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_bi))
    )
    return j.select(
        "w1",
        "w2",
        "n",
        F.expr(
            "round(ln((CAST(n AS DOUBLE) * n_tok * n_tok)"
            "          / (CAST(n_bi AS DOUBLE) * c1 * c2)), 4)"
        ).alias("pmi"),
    )


SQL_PMI_BIGRAMS = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS l
  FROM documents
), pos AS (
  SELECT doc_id, generate_subscripts(l, 1) AS p, unnest(l) AS w FROM toks
), bi AS (
  SELECT a.w AS w1, b.w AS w2
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
), cb AS (
  SELECT w1, w2, count(*) AS n FROM bi GROUP BY w1, w2
), uni AS (
  SELECT w, count(*) AS c FROM pos GROUP BY w
), tot AS (
  SELECT (SELECT sum(c) FROM uni) AS n_tok,
         (SELECT sum(n) FROM cb) AS n_bi
)
SELECT cb.w1, cb.w2, CAST(cb.n AS BIGINT) AS n,
       round(ln((CAST(cb.n AS DOUBLE) * n_tok * n_tok)
                 / (CAST(n_bi AS DOUBLE) * c1.c * c2.c)), 4) AS pmi
FROM cb
JOIN uni c1 ON c1.w = cb.w1
JOIN uni c2 ON c2.w = cb.w2
CROSS JOIN tot
WHERE cb.n >= 5
"""


def q_cdc_upsert(spark, sf_dir):
    """Changelog apply / MERGE-INTO emulation (the Iceberg CDC compact
    step): treating purchases as upserts and errors as deletes, keep
    each key's latest op by (ts, event_id) and drop keys whose latest
    op is a delete — the canonical row_number()-desc upsert kernel.
    One shuffle; the rank prunes to one row per key before the final
    filter, so the output never exceeds |keys|."""
    ev = _t(spark, sf_dir, "events")
    ch = ev.where(F.col("event_type").isin("purchase", "error"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last = ch.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return last.where(F.col("event_type") == "purchase").select(
        "user_id",
        _us("ts").alias("ts_us"),
        F.round("value", 4).alias("value"),
    )


SQL_CDC_UPSERT = """
WITH ch AS (
  SELECT *, row_number() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE event_type IN ('purchase', 'error')
)
SELECT user_id, epoch_us(ts) AS ts_us, round(value, 4) AS value
FROM ch WHERE rn = 1 AND event_type = 'purchase'
"""


def q_doc_chunk(spark, sf_dir):
    """Overlapping fixed-size chunking (LLM context-window prep:
    size 64 chars, stride 48): per-row ``sequence()`` + explode keeps
    the operator fully narrow — zero shuffles, chunk fan-out bounded by
    each row's own length, never a constant-range cross join on the
    Spark side. substr is 1-based with identical out-of-range clamping
    in both engines."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("len")
    ).where(F.col("len") > 0)
    starts = d.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(0), F.col("len") - 1, F.lit(48))
        ).alias("start"),
    )
    chunk = F.substring(F.col("text"), F.col("start") + 1, 64)
    return starts.select(
        "doc_id",
        (F.col("start") / 48).cast("bigint").alias("chunk_idx"),
        chunk.alias("chunk"),
        F.length(chunk).alias("chunk_len"),
    )


SQL_DOC_CHUNK = """
SELECT doc_id, s.ci AS chunk_idx,
       substr(text, CAST(s.ci * 48 + 1 AS INTEGER), 64) AS chunk,
       length(substr(text, CAST(s.ci * 48 + 1 AS INTEGER), 64)) AS chunk_len
FROM documents, (SELECT unnest(range(0, 64)) AS ci) s
WHERE s.ci * 48 < length(text) AND length(text) > 0
"""


def q_quantile_norm(spark, sf_dir):
    """Per-group quantile normalization (rank-based feature transform,
    robust to outliers where z-score isn't): unique total order via the
    doc_id tie-break makes rank == row_number, then the engine-portable
    scaled-integer rounding recipe ((rank-1)*10000.0/(cnt-1), one IEEE
    divide of exact integers) so both engines emit identical doubles.
    The rank and count windows share one partitioning — one exchange."""
    d = _t(spark, sf_dir, "documents")
    wr = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wc = Window.partitionBy("source")
    d = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    q = F.when(
        F.col("cnt") > 1,
        F.round((F.col("rk") - 1) * 10000.0 / (F.col("cnt") - 1)) / 10000,
    ).otherwise(F.lit(0.0))
    return d.select("doc_id", "source", "n_chars", q.alias("qnorm"))


SQL_QUANTILE_NORM = """
WITH r AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
         count(*) OVER (PARTITION BY source) AS cnt
  FROM documents
)
SELECT doc_id, source, n_chars,
       CASE WHEN cnt > 1
            THEN round((rk - 1) * 10000.0 / (cnt - 1)) / 10000
            ELSE 0.0 END AS qnorm
FROM r
"""


# --------------------------------------------------------------------------
# Feature-eng pack #7: BM25 ranked retrieval, full outer join, OOV rate,
# mixture-rebalancing sample, winsorization, per-source token entropy,
# cross-corpus dedup
# --------------------------------------------------------------------------

# BM25 probe terms (the keyword-retrieval stand-in for an eval query set)
_BM25_TERMS = ["join", "hash", "vector", "stream"]
_BM25_K1 = 1.2
_BM25_B = 0.75


def q_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval (Robertson/Sparck-Jones; the Lucene
    ``k1/b`` form with idf = ln(1 + (N-df+.5)/(df+.5))): top-5 docs per
    probe term. The probe-term IN filter lands immediately after the
    token explode, so only matching postings reach the (doc, term) tf
    shuffle — at 100 TB the postings shuffle carries |probe terms|
    columns of the corpus, not the whole token stream. Doc lengths agg
    in parallel; N and avgdl are a broadcast 1-row table (avgdl is one
    IEEE divide of an exact BIGINT sum). The score expression string is
    identical in both engines (same IEEE op order), rounded to 4dp,
    ranked with a doc_id tie-break."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("term"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        toks.where(F.col("term").isin(_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    score = F.expr(
        f"round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
        f" * (n * ({_BM25_K1} + 1.0))"
        f" / (n + {_BM25_K1} * (1.0 - {_BM25_B}"
        f"      + {_BM25_B} * dl / avgdl)), 4)"
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(corpus))
        .select("term", "doc_id", "n", "dl", score.alias("bm25"))
    )
    w = Window.partitionBy("term").orderBy(F.col("bm25").desc(), "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("term", "doc_id", "n", "dl", "bm25", "rn")
    )


_BM25_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)

SQL_BM25_TOPK = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
  FROM documents
), dl AS (
  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
), tf AS (
  SELECT doc_id, term, count(*) AS n FROM toks
  WHERE term IN ({_BM25_IN}) GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), corpus AS (
  SELECT count(*) AS n_docs, sum(dl) / count(*) AS avgdl FROM dl
), scored AS (
  SELECT tf.term, tf.doc_id, tf.n, dl.dl,
         round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (n * ({_BM25_K1} + 1.0))
               / (n + {_BM25_K1} * (1.0 - {_BM25_B}
                    + {_BM25_B} * dl / avgdl)), 4) AS bm25
  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term)
  CROSS JOIN corpus
)
SELECT term, doc_id, n, dl, bm25, rn
FROM (
  SELECT *, row_number() OVER (PARTITION BY term
                               ORDER BY bm25 DESC, doc_id) AS rn
  FROM scored
)
WHERE rn <= 5
"""


def q_join_full(spark, sf_dir):
    """Full outer join (the reconciliation join: customers vs their
    order totals, either side may be absent). The orders side pre-aggs
    to one row per custkey BEFORE the join — the fat fact table never
    carries unaggregated rows through the outer join — with DECIMAL
    sums so the total is exact under any association order. The
    customer side is filtered to even keys and the orders side to
    URGENT priority so BOTH null patterns are exercised (customers
    without urgent orders AND order groups without a surviving
    customer row)."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") % 2 == 0)
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    co = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("sum_price"),
    )
    cs = c.select("c_custkey", "c_mktsegment")
    j = cs.join(co, cs["c_custkey"] == co["o_custkey"], "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        "sum_price",
    )


SQL_JOIN_FULL = """
WITH c AS (
  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 2 = 0
), co AS (
  SELECT o_custkey, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_price
  FROM orders WHERE o_orderpriority = '1-URGENT'
  GROUP BY o_custkey
)
SELECT coalesce(c_custkey, o_custkey) AS custkey,
       c_mktsegment AS segment,
       coalesce(n_orders, 0) AS n_orders,
       sum_price
FROM c FULL OUTER JOIN co ON c_custkey = o_custkey
"""


def q_oov_rate(spark, sf_dir):
    """Per-document out-of-vocabulary rate against the top-16 corpus
    vocabulary (the tokenizer-coverage signal: how much of each doc a
    fixed small vocab fails to cover). The vocab is selected from the
    COMPACTED token-count table (tiny after the map-side-combined agg),
    broadcast back against the token stream; the rate is one IEEE
    divide of exact BIGINTs rounded to 4dp — engine-portable."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("token"),
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "token")
        .limit(16)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 4).alias("oov_rate"),
        )
    )


SQL_OOV_RATE = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
), vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS c FROM toks GROUP BY token
    ORDER BY c DESC, token LIMIT 16
  )
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.token = v.token
GROUP BY t.doc_id
"""


def q_lang_balance_sample(spark, sf_dir):
    """Mixture rebalancing (the source/language-weighting pass of
    corpus assembly, Pile/Dolma-style): downsample every language to
    the size of the rarest via DETERMINISTIC hash thresholds computed
    FROM the data — keep-rate = n_min/n_lang realized as an integer
    threshold T = (65536*n_min) div n_lang compared against the first
    4 md5 hex chars of the doc key (fixed-width lowercase hex compares
    lexically == numerically, so no hex-parsing builtin is needed and
    the sample is identical across engines, runs, partition layouts,
    and cluster sizes). Per-lang counts are a tiny broadcast dim; the
    keep filter itself is narrow."""
    d = _t(spark, sf_dir, "documents")
    nl = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    nmin = nl.agg(F.min("n_lang").alias("n_min"))
    thr = nl.crossJoin(F.broadcast(nmin)).select(
        "lang",
        "n_lang",
        "n_min",
        F.lower(
            F.lpad(F.hex(F.expr("(65536 * n_min) div n_lang")), 4, "0")
        ).alias("thr_hex"),
    )
    b = F.substring(
        F.md5(F.encode(F.col("doc_id").cast("string"), "utf-8")), 1, 4
    )
    return (
        d.join(F.broadcast(thr), "lang")
        .where((F.col("n_lang") == F.col("n_min")) | (b < F.col("thr_hex")))
        .select("doc_id", "lang", b.alias("bucket"), "thr_hex")
    )


SQL_LANG_BALANCE_SAMPLE = """
WITH nl AS (
  SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
), nm AS (
  SELECT min(n_lang) AS n_min FROM nl
), thr AS (
  SELECT lang, n_lang, n_min,
         lower(lpad(to_hex((65536 * n_min) // n_lang), 4, '0')) AS thr_hex
  FROM nl CROSS JOIN nm
)
SELECT doc_id, d.lang,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket, thr_hex
FROM documents d JOIN thr ON d.lang = thr.lang
WHERE n_lang = n_min
   OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < thr_hex
"""


def q_winsorize(spark, sf_dir):
    """Per-group winsorization (outlier clamping to [p05, p95] — the
    robust-scaling pre-step for numeric features): exact interpolated
    percentiles per event_type (tiny agg), cutoffs ROUNDED to 4dp
    before clamping so the clamp thresholds are engine-portable, then
    a broadcast join back and a pure JVM least/greatest projection.
    One agg shuffle; the fat stream itself never reshuffles."""
    ev = _t(spark, sf_dir, "events")
    cuts = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.05)"), 4).alias("lo"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("hi"),
    )
    return (
        ev.join(F.broadcast(cuts), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(
                F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")),
                4,
            ).alias("winsorized"),
            "lo",
            "hi",
        )
    )


SQL_WINSORIZE = """
WITH cuts AS (
  SELECT event_type,
         round(quantile_cont(value, 0.05), 4) AS lo,
         round(quantile_cont(value, 0.95), 4) AS hi
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type, round(value, 4) AS value,
       round(least(greatest(value, lo), hi), 4) AS winsorized, lo, hi
FROM events e JOIN cuts ON e.event_type = cuts.event_type
"""


def q_token_entropy(spark, sf_dir):
    """Per-source Shannon entropy of the token distribution (the
    vocabulary-diversity quality signal — boilerplate-heavy sources
    score low). Two map-side-combined agg shuffles: (source, token)
    counts, then the per-source reduce. Each -p*ln(p) term is rounded
    to a BIGINT ten-thousandth before summing, so the per-source sum
    is bit-deterministic under any association order (raw double
    summation is not), then one divide back at the end."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("token"),
    )
    ct = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    ws = Window.partitionBy("source")
    ct = ct.withColumn("n_src", F.sum("c").over(ws))
    term_e4 = F.round(
        -(F.col("c") / F.col("n_src"))
        * F.log(F.col("c") / F.col("n_src"))
        * 10000
    ).cast("bigint")
    return (
        ct.groupBy("source")
        .agg(
            F.max("n_src").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(term_e4).alias("h_e4"),
        )
        .select(
            "source",
            "n_tokens",
            "n_distinct",
            F.round(F.col("h_e4") / 10000.0, 4).alias("entropy"),
        )
    )


SQL_TOKEN_ENTROPY = """
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
), ct AS (
  SELECT source, token, count(*) AS c FROM toks GROUP BY source, token
), wt AS (
  SELECT source, token, c, sum(c) OVER (PARTITION BY source) AS n_src
  FROM ct
)
SELECT source,
       CAST(max(n_src) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(sum(CAST(round(-(c / CAST(n_src AS DOUBLE))
                            * ln(c / CAST(n_src AS DOUBLE)) * 10000)
                      AS BIGINT)) / 10000.0, 4) AS entropy
FROM wt GROUP BY source
"""


def q_dedup_crosscorpus(spark, sf_dir):
    """Cross-corpus dedup (the incremental-crawl scenario: drop fresh
    documents whose content already exists in the committed corpus).
    Fresh = src0-src9, reference = src10-src19. The synthetic corpus
    has no natural cross-source duplicates, so a deterministic
    boilerplate family is INJECTED first (doc_id%5==0 rows become one
    of 17 boilerplate strings) in both engines — the anti join is
    what's oracle-checked, on both colliding and unique rows. Shape:
    content-hash LEFT ANTI join — hashes shuffle, text never does, and
    no all-pairs comparison exists at any scale."""
    d = _t(spark, sf_dir, "documents")
    text = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.lit("boilerplate notice "),
            (F.col("doc_id") % 17).cast("string"),
        ),
    ).otherwise(F.col("text"))
    src_num = F.substring(F.col("source"), 4, 8).cast("int")
    h = d.select(
        "doc_id",
        "source",
        src_num.alias("src_num"),
        F.sha2(text, 256).alias("content_sha"),
    )
    fresh = h.where(F.col("src_num") < 10)
    ref = h.where(F.col("src_num") >= 10).select("content_sha")
    return fresh.join(ref, "content_sha", "left_anti").select(
        "doc_id", "source", "content_sha"
    )


SQL_DEDUP_CROSSCORPUS = """
WITH h AS (
  SELECT doc_id, source,
         CAST(substr(source, 4, 8) AS INTEGER) AS src_num,
         sha256(CASE WHEN doc_id % 5 = 0
                     THEN 'boilerplate notice ' || CAST(doc_id % 17 AS VARCHAR)
                     ELSE text END) AS content_sha
  FROM documents
)
SELECT doc_id, source, content_sha
FROM h f
WHERE src_num < 10
  AND NOT EXISTS (SELECT 1 FROM h r
                  WHERE r.src_num >= 10
                    AND r.content_sha = f.content_sha)
"""


# --------------------------------------------------------------------------
# Feature-eng pack #8: blocked fuzzy join, unpivot, BPE pair counting,
# skew diagnosis report, grouped EWMA
# --------------------------------------------------------------------------

def q_fuzzy_join(spark, sf_dir):
    """Blocked fuzzy record linkage (dirty strings -> canonical
    dictionary, the entity-resolution step): probe strings are each
    doc's first token with the last character dropped (deterministic
    'typo'), the dictionary is the distinct corpus vocabulary. Probes
    and dictionary join on a BLOCK KEY (first character) so edit
    distance runs only within blocks — never all-pairs — then
    levenshtein <= 1 filters and a (distance, token) window keeps the
    best match per probe. At 100 TB the block key would widen to
    (first char, length bucket); the shape — block equi-join then
    in-block scalar distance — is the scale-correct one."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("token"),
    )
    canon = toks.select("token").distinct().withColumn(
        "blk", F.substring("token", 1, 1)
    )
    first_tok = F.element_at(F.split(F.trim(F.col("text")), "\\s+"), 1)
    probes = (
        d.select("doc_id", first_tok.alias("ft"))
        .where(F.length("ft") >= 4)
        .select(
            "doc_id",
            F.expr("substring(ft, 1, length(ft) - 1)").alias("q"),
        )
        .withColumn("blk", F.substring("q", 1, 1))
    )
    cand = probes.join(canon, "blk").where(
        F.levenshtein(F.col("q"), F.col("token")) <= 1
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.levenshtein(F.col("q"), F.col("token")).asc(), F.col("token")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            "q",
            F.col("token").alias("matched"),
            F.levenshtein(F.col("q"), F.col("token")).alias("dist"),
        )
    )


SQL_FUZZY_JOIN = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
), canon AS (
  SELECT DISTINCT token, substr(token, 1, 1) AS blk FROM toks
), probes AS (
  SELECT doc_id, substr(ft, 1, length(ft) - 1) AS q,
         substr(ft, 1, 1) AS blk
  FROM (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+')[1] AS ft
    FROM documents
  )
  WHERE length(ft) >= 4
), cand AS (
  SELECT p.doc_id, p.q, c.token, levenshtein(p.q, c.token) AS dist
  FROM probes p JOIN canon c ON p.blk = c.blk
  WHERE levenshtein(p.q, c.token) <= 1
)
SELECT doc_id, q, token AS matched, dist
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY dist, token) AS rn
  FROM cand
)
WHERE rn = 1
"""


def q_unpivot(spark, sf_dir):
    """Wide-to-long unpivot (``df.unpivot`` / SQL UNPIVOT — the melt
    step before long-form analytics): per-event_type metrics (count,
    DECIMAL-exact value sum, distinct users) melt into (metric, value)
    rows. The wide agg collapses the stream first, so the unpivot
    fans out a groups x metrics table — trivially small at any scale."""
    ev = _t(spark, sf_dir, "events")
    wide = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double").alias("sum_value"),
        F.countDistinct("user_id").cast("double").alias("n_users"),
    )
    return wide.unpivot(
        ["event_type"],
        ["n_events", "sum_value", "n_users"],
        "metric",
        "value",
    )


SQL_UNPIVOT = """
WITH wide AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
         CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users
  FROM events GROUP BY event_type
)
SELECT event_type, 'n_events' AS metric, n_events AS value FROM wide
UNION ALL
SELECT event_type, 'sum_value', sum_value FROM wide
UNION ALL
SELECT event_type, 'n_users', n_users FROM wide
"""


def q_bpe_pair_counts(spark, sf_dir):
    """BPE merge-step pair counting (the inner loop of byte-pair-
    encoding tokenizer training, Sennrich+16): adjacent-character
    pairs weighted by word frequency. The pair scan runs over the
    COMPACTED vocabulary (one row per distinct word after a map-side-
    combined count agg), never over the raw token stream — the trick
    that makes BPE training tractable at corpus scale. Per-word char
    pairs come from a per-row sequence+explode (narrow); both engines
    slice with 1-based substr."""
    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.length("token") >= 2)
    )
    pairs = words.select(
        "token",
        "c",
        F.explode(
            F.sequence(F.lit(1), F.length("token") - 1)
        ).alias("i"),
    ).select(
        F.substring(F.col("token"), F.col("i"), 1).alias("l"),
        F.expr("substring(token, i + 1, 1)").alias("r"),
        "c",
    )
    return pairs.groupBy("l", "r").agg(F.sum("c").alias("n"))


SQL_BPE_PAIR_COUNTS = """
WITH words AS (
  SELECT token, count(*) AS c FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
    FROM documents
  ) GROUP BY token HAVING length(token) >= 2
)
SELECT substr(token, CAST(i AS INTEGER), 1) AS l,
       substr(token, CAST(i AS INTEGER) + 1, 1) AS r,
       CAST(sum(c) AS BIGINT) AS n
FROM words, UNNEST(range(1, length(token))) AS t(i)
GROUP BY substr(token, CAST(i AS INTEGER), 1),
         substr(token, CAST(i AS INTEGER) + 1, 1)
"""


def q_skew_report(spark, sf_dir):
    """Partition-skew diagnosis (the heavy-hitter report that decides
    when to salt): top-20 keys by row count with their share of the
    table. One map-side-combined agg; the 1-row total broadcasts; the
    global top-20 uses orderBy+limit so Spark plans
    TakeOrderedAndProject (per-partition top-k then a 20-row merge —
    never a single-partition window over ALL per-key counts, which at
    100 TB is |keys| rows on one task). The rank window then runs over
    only the 20 survivors. The share is one IEEE divide of exact
    BIGINTs rounded to 6dp."""
    ev = _t(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    total = per_key.agg(F.sum("cnt").alias("total"))
    top = per_key.orderBy(F.col("cnt").desc(), "user_id").limit(20)
    w = Window.orderBy(F.col("cnt").desc(), "user_id")
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rn", F.row_number().over(w))
        .select(
            "user_id",
            "cnt",
            F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
            "rn",
        )
    )


SQL_SKEW_REPORT = """
WITH per_key AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
), total AS (
  SELECT sum(cnt) AS total FROM per_key
)
SELECT user_id, cnt,
       round(cnt / CAST(total AS DOUBLE), 6) AS share, rn
FROM (
  SELECT user_id, cnt, total,
         row_number() OVER (ORDER BY cnt DESC, user_id) AS rn
  FROM per_key CROSS JOIN total
)
WHERE rn <= 20
"""


_EWMA_ALPHA = 0.1


def q_ewma(spark, sf_dir):
    """Grouped exponential moving average (the time-decayed behavioral
    feature; inherently recursive, so no portable closed-form SQL —
    rows-only, pytest parity vs pandas ``ewm``). One hash shuffle on
    the key; the kernel is pandas' C-implemented ewm over each user's
    time-ordered values, vectorized per Arrow batch, never per-row
    Python. At 100 TB the group cardinality (users) bounds state, and
    a key's history must fit one task — the same contract as any
    grouped-map kernel."""
    ev = _t(spark, sf_dir, "events")

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts_us", "event_id"], ignore_index=True)
        pdf["ewma"] = (
            pdf["value"]
            .ewm(alpha=_EWMA_ALPHA, adjust=False)
            .mean()
            .round(4)
        )
        return pdf[["user_id", "ts_us", "event_id", "value", "ewma"]]

    slim = ev.select("user_id", _us("ts").alias("ts_us"), "event_id", "value")
    return slim.groupBy("user_id").applyInPandas(
        ewma,
        schema="user_id long, ts_us long, event_id long, "
               "value double, ewma double",
    )
