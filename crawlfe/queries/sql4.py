"""Feature-eng pack #68 (r4): Spark 4 SQL-surface completions +
asymmetric containment dedup.

* ``agg_listagg`` — Spark 4's ANSI ``LISTAGG(... ) WITHIN GROUP
  (ORDER BY ...)`` ordered string aggregation (the SQL:2016 form;
  DuckDB twin is ``string_agg(... ORDER BY ...)``), deterministic by
  construction because the order-by key is total.
* ``collated_dedup`` — Spark 4 COLLATION support: per-source distinct
  key counts under binary (UTF8_BINARY) vs case-insensitive
  (UTF8_LCASE) collation; the difference IS the case-collision count
  a URL/key canonicalizer needs.  The collation is applied in the
  grouping expression — Catalyst handles it natively (no lower()
  rewrite on the Spark side; the ORACLE uses lower() to prove the
  semantics line up).
* ``try_arithmetic`` — the ANSI-mode-safe ``try_divide`` / ``try_add``
  family (Spark 4 runs ANSI ON, where raw division by zero THROWS):
  per-user purchase/click rate with divide-by-zero and bigint
  overflow folded to NULL instead of job failure; oracle guards with
  explicit CASE/NULLIF.
* ``shingle_containment`` — Broder (1997) asymmetric containment
  C(A,B) = |A∩B|/|A| on 3-token shingle sets for consecutive doc
  pairs: the measure that catches QUOTE INCLUSION (doc B embeds most
  of doc A) which symmetric Jaccard under-scores.  Same array
  higher-order pipeline as `ngram_jaccard` — no Python, fat text
  never shuffles (pairs join carries only shingle arrays).
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t


def q_agg_listagg(spark, sf_dir):
    """Ordered LISTAGG per lang: the distinct sources carrying the
    lang, comma-joined in source order, plus the doc count.  One hash
    agg; the WITHIN GROUP order key makes the string deterministic."""
    d = _t(spark, sf_dir, "documents")
    d.createOrReplaceTempView("_la_docs")
    return spark.sql(
        """
        SELECT lang,
               listagg(DISTINCT source, ',')
                 WITHIN GROUP (ORDER BY source) AS sources,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM _la_docs GROUP BY lang
        """
    )


def q_collated_dedup(spark, sf_dir):
    """Case-collision audit via Spark 4 collations: keys are the
    source names upper-cased on md5-hash parity of doc_id (hash
    parity, NOT doc_id parity — the fixture's source ids determine
    doc_id parity, so raw parity would give every source a single
    consistent case and zero collisions), counted distinct under
    binary vs UTF8_LCASE collation per lang.  n_keys_cs - n_keys_ci =
    the collisions a case-insensitive canonicalizer would merge."""
    h16 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("bigint")
    d = _t(spark, sf_dir, "documents").select(
        "lang",
        F.when(h16 % 2 == 0, F.upper("source"))
        .otherwise(F.col("source"))
        .alias("k"),
    )
    d.createOrReplaceTempView("_coll_keys")
    return spark.sql(
        """
        SELECT lang,
               CAST(count(DISTINCT k) AS BIGINT) AS n_keys_cs,
               CAST(count(DISTINCT k COLLATE UTF8_LCASE) AS BIGINT)
                 AS n_keys_ci,
               CAST(count(DISTINCT k)
                    - count(DISTINCT k COLLATE UTF8_LCASE) AS BIGINT)
                 AS n_collisions
        FROM _coll_keys GROUP BY lang
        """
    )


def q_try_arithmetic(spark, sf_dir):
    """ANSI-safe arithmetic (Spark 4 ANSI mode ON): per user-decile,
    purchase/click rate via try_divide (0 clicks -> NULL, not an
    exception) and a crafted near-max bigint via try_add (overflow ->
    NULL).  The oracle spells both guards explicitly, proving try_*
    == guarded ANSI semantics."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("p"),
        F.sum((F.col("event_type") == "click").cast("int")).alias("c"),
    )
    rate = F.expr("try_divide(CAST(p AS DOUBLE), CAST(c AS DOUBLE))")
    # even user_ids get a bigint that overflows on +1
    big = F.expr(
        "try_add(9223372036854775807 - (user_id % 2), CAST(1 AS BIGINT))"
    )
    return (
        per.select(
            (F.col("user_id") % 10).alias("bucket"),
            rate.alias("rate"),
            big.alias("big"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(F.col("rate").isNull().cast("int"))
            .cast("bigint")
            .alias("n_no_clicks"),
            F.round(F.avg("rate"), 4).alias("avg_rate"),
            F.sum(F.col("big").isNull().cast("int"))
            .cast("bigint")
            .alias("n_overflow"),
        )
    )


def q_shingle_containment(spark, sf_dir):
    """Asymmetric 3-shingle containment for consecutive doc pairs:
    c_ab = |A∩B|/|A| (how much of A is inside B), c_ba, and the max —
    the quote-inclusion detector symmetric Jaccard misses.  Identical
    shingling + pair plan to ngram_jaccard (array HOFs, zero
    Python)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), "\\s+")
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - 3, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)),
        )
    )
    shingled = d.select("doc_id", sh.alias("shingles"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    pairs = a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
    inter = F.size(
        F.array_intersect(F.col("a.shingles"), F.col("b.shingles"))
    ).cast("double")
    na = F.size(F.col("a.shingles")).cast("double")
    nb = F.size(F.col("b.shingles")).cast("double")
    c_ab = F.round(inter / na, 6)
    c_ba = F.round(inter / nb, 6)
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        c_ab.alias("c_ab"),
        c_ba.alias("c_ba"),
        F.greatest(c_ab, c_ba).alias("c_max"),
    )
