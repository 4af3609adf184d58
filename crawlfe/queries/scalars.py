"""Scalar function families: string/hash/datetime/math/array/map/json/levenshtein/explode.

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t, _us


# --------------------------------------------------------------------------
# Scalar function families
# --------------------------------------------------------------------------

def q_scalar_string(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("text_len"),
        F.lower(F.substring("text", 1, 12)).alias("prefix12"),
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        F.size(F.split(F.trim(F.col("text")), " ")).alias("n_tokens"),
    )


SQL_SCALAR_STRING = """
SELECT doc_id,
       length(text) AS text_len,
       lower(substr(text, 1, 12)) AS prefix12,
       coalesce(regexp_extract(text, '([a-z]+)', 1), '') AS first_word,
       len(string_split(trim(text), ' ')) AS n_tokens
FROM documents
"""


def q_scalar_hash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("text_sha256"),
        F.md5(F.col("text")).alias("text_md5"),
    )


SQL_SCALAR_HASH = """
SELECT doc_id, sha256(text) AS text_sha256, md5(text) AS text_md5
FROM documents
"""


def q_scalar_datetime(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        _us(F.date_trunc("month", F.col("o_orderdate"))).alias("month_us"),
    )


SQL_SCALAR_DATETIME = """
SELECT o_orderkey,
       CAST(extract(year FROM o_orderdate) AS INT) AS yr,
       CAST(extract(month FROM o_orderdate) AS INT) AS mo,
       CAST(extract(day FROM o_orderdate) AS INT) AS dom,
       epoch_us(date_trunc('month', o_orderdate)) AS month_us
FROM orders
"""


def q_scalar_math(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.log1p("l_extendedprice"), 4).alias("log_price"),
        F.round(F.sqrt("l_quantity"), 4).alias("sqrt_qty"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.round(F.pow(F.col("l_discount"), 2), 6).alias("disc_sq"),
    )


SQL_SCALAR_MATH = """
SELECT l_orderkey, l_linenumber,
       round(ln(1 + l_extendedprice), 4) AS log_price,
       round(sqrt(l_quantity), 4) AS sqrt_qty,
       greatest(l_tax, l_discount) AS max_rate,
       round(pow(l_discount, 2), 6) AS disc_sq
FROM lineitem
"""


def q_scalar_array(spark, sf_dir):
    """Array higher-order functions over the embedding vectors:
    size / L2 norm (aggregate) / max element (array_max)."""
    e = _t(spark, sf_dir, "embeddings")
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(
            F.sqrt(
                F.aggregate(
                    vec_d, F.lit(0.0), lambda acc, x: acc + x * x
                )
            ),
            3,
        ).alias("l2_norm"),
        F.round(F.array_max(vec_d), 3).alias("max_elem"),
    )


SQL_SCALAR_ARRAY = """
SELECT vec_id, label,
       len(embedding) AS dim,
       round(sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 3) AS l2_norm,
       round(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 3)
         AS max_elem
FROM embeddings
"""


def q_scalar_json(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
    )


SQL_SCALAR_JSON = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
FROM events
"""


def q_scalar_map(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,string>")
    return ev.select(
        "event_id",
        F.element_at(m, "k").cast("long").alias("k_value"),
        F.size(m).alias("n_keys"),
    )


SQL_SCALAR_MAP = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
       CAST(len(json_keys(props)) AS INT) AS n_keys
FROM events
"""
