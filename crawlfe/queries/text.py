"""Text analysis / dedup / similarity over documents + embeddings (lang-ID, quality, MinHash, SimHash, ANN).

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _scratch_dir, _t


# --------------------------------------------------------------------------
# Text-analysis / dedup / similarity pack (documents, embeddings)
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash (hash-groupBy — scale path for 100 TB
    is sha2 then groupBy, never string compare)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2("text", 256).alias("content_sha"))
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


SQL_DEDUP_EXACT = """
SELECT sha256(text) AS content_sha,
       min(doc_id) AS canonical_id,
       count(*) AS n_copies
FROM documents GROUP BY sha256(text)
"""


# BPE-ish pre-tokenizer: word pieces OR digit runs OR single
# non-space-non-word symbols (the GPT-2-style pretoken split shape)
_BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def q_token_count(spark, sf_dir):
    """Token counting two ways (task brief): whitespace split + a
    BPE-ish regex pre-tokenization."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), "\\s+")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0)
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
    )


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
         AS n_distinct_tokens,
       len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe_tokens,
       length(text) AS n_chars
FROM documents
"""


_STOPWORDS = ["the", "a", "of", "and", "to", "in"]


def q_text_quality(spark, sf_dir):
    """Quality-score features (task brief: length/punct/stopword
    ratios): length, type-token ratio, mean token length, punctuation
    ratio, stopword ratio."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), "\\s+")
    n_tok = F.size(toks)
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n_punct = F.length(F.regexp_replace("text", "[a-zA-Z0-9\\s]", ""))
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(toks)) / n_tok.cast("double"), 4
        ).alias("ttr"),
        F.round(
            (F.length(F.regexp_replace("text", "\\s+", ""))).cast("double")
            / n_tok.cast("double"),
            4,
        ).alias("mean_token_len"),
        F.round(
            n_punct.cast("double") / F.length("text").cast("double"), 4
        ).alias("punct_ratio"),
        F.round(n_sw.cast("double") / n_tok.cast("double"), 4).alias(
            "stopword_ratio"
        ),
    )


_SQL_SW = ", ".join(f"'{w}'" for w in _STOPWORDS)

SQL_TEXT_QUALITY = f"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       round(len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
             / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE), 4)
         AS ttr,
       round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
             / len(regexp_split_to_array(trim(text), '\\s+')), 4)
         AS mean_token_len,
       round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
             / length(text), 4) AS punct_ratio,
       round(CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     t -> list_contains([{_SQL_SW}], t))) AS DOUBLE)
             / len(regexp_split_to_array(trim(text), '\\s+')), 4)
         AS stopword_ratio
FROM documents
"""


def q_knn_cosine(spark, sf_dir):
    """Brute-force cosine top-3 neighbors for the first 20 vectors
    (broadcast probe set; per-row JVM higher-order dot product)."""
    e = _t(spark, sf_dir, "embeddings")
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(vec_d, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    base = e.select("vec_id", vec_d.alias("v"), nrm.alias("nm"))
    probes = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q"),
        F.col("nm").alias("qn"),
    )
    pairs = base.join(F.broadcast(probes), F.col("vec_id") != F.col("q_id"))
    dot = F.aggregate(
        F.zip_with(F.col("q"), F.col("v"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = pairs.select(
        "q_id",
        "vec_id",
        F.round(dot / (F.col("qn") * F.col("nm")), 6).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("q_id", "vec_id", "cosine", "rn")
    )


SQL_KNN_COSINE = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nm
  FROM embeddings
), probes AS (
  SELECT vec_id AS q_id, v AS q, nm AS qn FROM base WHERE vec_id < 20
), scored AS (
  SELECT p.q_id, b.vec_id,
         round(list_sum(list_transform(list_zip(p.q, b.v), t -> t[1] * t[2]))
               / (p.qn * b.nm), 6) AS cosine
  FROM base b, probes p WHERE b.vec_id <> p.q_id
)
SELECT q_id, vec_id, cosine, rn FROM (
  SELECT q_id, vec_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 3
"""


def q_ngram_jaccard(spark, sf_dir):
    """3-token-shingle Jaccard near-dup score for consecutive doc pairs
    (doc_id, doc_id+1) — set ops via array higher-order functions."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), "\\s+")
    sh = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(0), F.greatest(F.size(toks) - 3, F.lit(0))
            ),
            lambda i: F.concat_ws(
                " ", F.slice(toks, i + 1, 3)
            ),
        )
    )
    shingled = d.select("doc_id", sh.alias("shingles"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    pairs = a.join(
        b, F.col("a.doc_id") + 1 == F.col("b.doc_id")
    )
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    uni = F.size(F.array_union(F.col("a.shingles"), F.col("b.shingles")))
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.round(inter.cast("double") / uni.cast("double"), 6).alias("jaccard"),
    )


SQL_NGRAM_JACCARD = """
WITH shingled AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(0, greatest(len(regexp_split_to_array(trim(text), '\\s+')) - 3, 0)),
           i -> array_to_string(list_slice(regexp_split_to_array(trim(text), '\\s+'),
                                           i + 1, i + 3), ' ')
         )) AS shingles
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(a.shingles, b.shingles))), 6)
         AS jaccard
FROM shingled a JOIN shingled b ON a.doc_id + 1 = b.doc_id
"""


_LANG_MARKERS = {
    # marker-token voting heuristic over the synthetic doc vocabulary —
    # the n-gram-frequency lang-ID shape (counts occurrences incl. dups)
    "en-like": ["the", "a", "fast", "slow", "big", "small"],
    "sql-like": ["scan", "join", "filter", "merge", "sort", "group"],
    "data-like": ["table", "column", "row", "value", "stream", "batch"],
}


def q_lang_id(spark, sf_dir):
    """Heuristic language-ID: marker-token vote per pseudo-language,
    argmax with fixed precedence (en > sql > data on ties)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), "\\s+")
    def score(markers):
        arr = F.array(*[F.lit(x) for x in markers])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scores = {name: score(m) for name, m in _LANG_MARKERS.items()}
    en, sq, da = scores["en-like"], scores["sql-like"], scores["data-like"]
    pred = (
        F.when((en >= sq) & (en >= da), F.lit("en-like"))
        .when(sq >= da, F.lit("sql-like"))
        .otherwise(F.lit("data-like"))
    )
    return d.select(
        "doc_id",
        en.alias("score_en"),
        sq.alias("score_sql"),
        da.alias("score_data"),
        pred.alias("pred_lang"),
    )


def _sql_markers(markers: list[str]) -> str:
    lits = ", ".join(f"'{m}'" for m in markers)
    return (
        "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
        f"t -> list_contains([{lits}], t)))"
    )


SQL_LANG_ID = f"""
WITH scored AS (
  SELECT doc_id,
         {_sql_markers(_LANG_MARKERS["en-like"])} AS score_en,
         {_sql_markers(_LANG_MARKERS["sql-like"])} AS score_sql,
         {_sql_markers(_LANG_MARKERS["data-like"])} AS score_data
  FROM documents
)
SELECT doc_id, score_en, score_sql, score_data,
       CASE WHEN score_en >= score_sql AND score_en >= score_data THEN 'en-like'
            WHEN score_sql >= score_data THEN 'sql-like'
            ELSE 'data-like' END AS pred_lang
FROM scored
"""


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs, label-blocked (the blocking key
    stands in for the LSH bucket at 100 TB scale: compare only within
    blocks, never all-pairs). Each block is ONE grouped-map call doing
    a normalized BLAS matmul — the scale pattern for block-local
    pairwise math (vs a per-pair join expression, ~4x slower).

    The matmul is ROW-CHUNKED so the in-flight cosine matrix is bounded
    at ~chunk×n doubles regardless of block width (VERDICT r1: an
    unchunked n×n matrix on one hot block would OOM the Python worker
    at 100×). The group's row data itself is O(n·dim) — linear, fine;
    only the pairwise product was quadratic."""
    e = _t(spark, sf_dir, "embeddings")
    return e.groupBy("label").applyInPandas(
        _dedup_embedding_block_pairs,
        schema="id_a long, id_b long, label int, cosine double",
    )


def _dedup_embedding_block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
    """One blocking-key group -> near-dup pairs (cosine >= 0.30).
    Module-level so the oversized-block pytest can drive it directly."""
    import numpy as np

    ids = pdf["vec_id"].to_numpy()
    order = np.argsort(ids)
    ids = ids[order]
    m = np.stack(pdf["embedding"].to_numpy())[order].astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    n = len(ids)
    # bound chunk*n around 4M doubles (~32 MB cosine slab)
    chunk = max(1, (1 << 22) // max(n, 1))
    ia, ib, cs = [], [], []
    for s in range(0, n, chunk):
        e_ = min(s + chunk, n)
        cos = np.round(m[s:e_] @ m.T, 6)
        # upper triangle only: cols strictly greater than the global row
        mask = (
            np.arange(n)[None, :] > np.arange(s, e_)[:, None]
        ) & (cos >= 0.30)
        r, c = np.nonzero(mask)
        ia.append(ids[r + s])
        ib.append(ids[c])
        cs.append(cos[r, c])
    ia = np.concatenate(ia) if ia else np.empty(0, dtype=ids.dtype)
    ib = np.concatenate(ib) if ib else np.empty(0, dtype=ids.dtype)
    cs = np.concatenate(cs) if cs else np.empty(0, dtype=np.float64)
    return pd.DataFrame(
        {
            "id_a": ia,
            "id_b": ib,
            "label": int(pdf["label"].iloc[0]) if len(pdf) else 0,
            "cosine": cs,
        }
    )


SQL_DEDUP_EMBEDDING = """
WITH base AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nm
  FROM embeddings
), scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
         round(list_sum(list_transform(list_zip(a.v, b.v), t -> t[1] * t[2]))
               / (a.nm * b.nm), 6) AS cosine
  FROM base a JOIN base b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, label, cosine FROM scored WHERE cosine >= 0.30
"""


ANN_LSH_REFINE_CAP = 4  # deliberately low so the hot-bucket refinement
# path is exercised (and oracle-checked) at sf0.01, where the largest
# sign-bucket holds 6 vectors; at 10^12 rows the cap would be O(10k).


def q_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN: sign-bit bucket over the first 8 dims
    (axis-aligned hyperplanes), then brute-force cosine top-3 WITHIN the
    bucket — the scale path vs q_knn_cosine's broadcast brute force.

    Hot-bucket refinement (VERDICT r1 caveat: one hot sign pattern
    re-creates O(b²) inside its bucket): buckets larger than
    ANN_LSH_REFINE_CAP get 4 additional sign bits (dims 9-12), splitting
    them ~16-way before the self-join; bucket sizes come from a
    broadcast count (≤2^8 coarse buckets, always broadcastable). AQE
    skew-join remains the runtime backstop."""
    e = _t(spark, sf_dir, "embeddings")
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    bucket = None
    for j in range(8):
        bit = (F.element_at(F.col("embedding"), j + 1) > 0).cast("int") * (
            2**j
        )
        bucket = bit if bucket is None else bucket + bit
    sub = None
    for j in range(8, 12):
        bit = (F.element_at(F.col("embedding"), j + 1) > 0).cast("int") * (
            2 ** (j - 8)
        )
        sub = bit if sub is None else sub + bit
    nrm = F.sqrt(
        F.aggregate(vec_d, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    base = e.select(
        "vec_id", vec_d.alias("v"), bucket.alias("bucket"),
        sub.alias("sub"), nrm.alias("nm"),
    )
    sizes = base.groupBy("bucket").agg(F.count(F.lit(1)).alias("bn"))
    base = base.join(F.broadcast(sizes), "bucket").select(
        "vec_id", "v", "bucket", "nm",
        (
            F.col("bucket") * 16
            + F.when(
                F.col("bn") > ANN_LSH_REFINE_CAP, F.col("sub")
            ).otherwise(F.lit(0))
        ).alias("rbucket"),
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.rbucket") == F.col("b.rbucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    )
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    scored = pairs.select(
        F.col("a.vec_id").alias("q_id"),
        F.col("b.vec_id").alias("vec_id"),
        F.col("a.bucket").alias("bucket"),
        F.round(dot / (F.col("a.nm") * F.col("b.nm")), 6).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("q_id", "vec_id", "bucket", "cosine", "rn")
    )


SQL_ANN_LSH = f"""
WITH base0 AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nm,
         CAST(embedding[1] > 0 AS INT) * 1 + CAST(embedding[2] > 0 AS INT) * 2
         + CAST(embedding[3] > 0 AS INT) * 4 + CAST(embedding[4] > 0 AS INT) * 8
         + CAST(embedding[5] > 0 AS INT) * 16 + CAST(embedding[6] > 0 AS INT) * 32
         + CAST(embedding[7] > 0 AS INT) * 64 + CAST(embedding[8] > 0 AS INT) * 128
           AS bucket,
         CAST(embedding[9] > 0 AS INT) * 1 + CAST(embedding[10] > 0 AS INT) * 2
         + CAST(embedding[11] > 0 AS INT) * 4 + CAST(embedding[12] > 0 AS INT) * 8
           AS sub
  FROM embeddings
), sizes AS (
  SELECT bucket, count(*) AS bn FROM base0 GROUP BY bucket
), base AS (
  SELECT b.vec_id, b.v, b.nm, b.bucket,
         b.bucket * 16 + CASE WHEN s.bn > {ANN_LSH_REFINE_CAP}
                              THEN b.sub ELSE 0 END AS rbucket
  FROM base0 b JOIN sizes s USING (bucket)
), scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS vec_id, a.bucket AS bucket,
         round(list_sum(list_transform(list_zip(a.v, b.v), t -> t[1] * t[2]))
               / (a.nm * b.nm), 6) AS cosine
  FROM base a JOIN base b
    ON a.rbucket = b.rbucket AND a.vec_id <> b.vec_id
)
SELECT q_id, vec_id, bucket, cosine, rn FROM (
  SELECT q_id, vec_id, bucket, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 3
"""


def q_ann_ivf(spark, sf_dir):
    """IVF-style ANN: coarse quantizer = 16 deterministic centroids
    (vec_id < 16), every vector assigned to its nearest centroid by
    cosine (deterministic tie-break), then brute-force top-3 WITHIN the
    cell. At 10^12 rows the cell assignment is the partition key; probe
    cost drops from O(N) to O(N/cells)."""
    e = _t(spark, sf_dir, "embeddings")
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(vec_d, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    base = e.select("vec_id", vec_d.alias("v"), nrm.alias("nm"))
    cent = base.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("nm").alias("cn"),
    )
    dot_c = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    scored_c = base.join(F.broadcast(cent)).select(
        "vec_id", "v", "nm", "c_id",
        (dot_c / (F.col("nm") * F.col("cn"))).alias("ccos"),
    )
    wc = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("c_id")
    )
    assigned = (
        scored_c.withColumn("rn", F.row_number().over(wc))
        .where(F.col("rn") == 1)
        .select("vec_id", "v", "nm", F.col("c_id").alias("cell"))
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cell") == F.col("b.cell"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    )
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    scored = pairs.select(
        F.col("a.vec_id").alias("q_id"),
        F.col("b.vec_id").alias("vec_id"),
        F.col("a.cell").alias("cell"),
        F.round(dot / (F.col("a.nm") * F.col("b.nm")), 6).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("q_id", "vec_id", "cell", "cosine", "rn")
    )


SQL_ANN_IVF = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nm
  FROM embeddings
), cent AS (
  SELECT vec_id AS c_id, v AS cv, nm AS cn FROM base WHERE vec_id < 16
), assigned AS (
  SELECT vec_id, v, nm, c_id AS cell FROM (
    SELECT b.vec_id, b.v, b.nm, c.c_id,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY list_sum(list_transform(list_zip(b.v, c.cv),
                      t -> t[1] * t[2])) / (b.nm * c.cn) DESC, c.c_id
           ) AS rn
    FROM base b, cent c
  ) WHERE rn = 1
), scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS vec_id, a.cell AS cell,
         round(list_sum(list_transform(list_zip(a.v, b.v), t -> t[1] * t[2]))
               / (a.nm * b.nm), 6) AS cosine
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id <> b.vec_id
)
SELECT q_id, vec_id, cell, cosine, rn FROM (
  SELECT q_id, vec_id, cell, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 3
"""


def q_eval_rank_stats(spark, sf_dir):
    """Retrieval-eval statistics over the pairwise cosine matrix — the
    analog of the reference benchmark stage's getEvalStatistics (ref:
    acoss/benchmark/algorithm_template.py::getEvalStatistics [R]):
    Mean Rank of the first relevant hit, MRR, MAP, and top-k hit rates,
    where "relevant" = same ``label`` clique in the embeddings table.

    Spark-first shape: broadcast the probe set, JVM higher-order dot
    product, one window per probe for ranks/cumulative precision, then a
    single global aggregate — no driver-side loops, shuffles only on the
    probe key. At 10^12 scale the probe set stays the broadcast side and
    the ranking window partitions by probe id.
    """
    e = _t(spark, sf_dir, "embeddings")
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(vec_d, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    base = e.select("vec_id", "label", vec_d.alias("v"), nrm.alias("nm"))
    probes = base.where(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("q"),
        F.col("nm").alias("qn"),
    )
    pairs = base.join(F.broadcast(probes), F.col("vec_id") != F.col("q_id"))
    dot = F.aggregate(
        F.zip_with(F.col("q"), F.col("v"), lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    scored = pairs.select(
        "q_id",
        "vec_id",
        (F.col("label") == F.col("q_label")).cast("int").alias("rel"),
        F.round(dot / (F.col("qn") * F.col("nm")), 6).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = scored.select(
        "q_id", "rel",
        F.row_number().over(w).alias("rn"),
        (F.sum("rel").over(wcum)
         / F.row_number().over(w)).alias("prec_at"),
    )
    per_q = ranked.groupBy("q_id").agg(
        F.sum("rel").alias("n_rel"),
        F.min(F.when(F.col("rel") == 1, F.col("rn"))).alias("first_rank"),
        (F.sum(F.when(F.col("rel") == 1, F.col("prec_at")))
         / F.sum("rel")).alias("ap"),
        F.max(F.when((F.col("rel") == 1) & (F.col("rn") <= 1), 1)
              .otherwise(0)).alias("hit1"),
        F.max(F.when((F.col("rel") == 1) & (F.col("rn") <= 10), 1)
              .otherwise(0)).alias("hit10"),
    ).where(F.col("n_rel") > 0)
    return per_q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.round(F.avg("first_rank"), 4).alias("mean_rank"),
        F.round(F.avg(1.0 / F.col("first_rank")), 4).alias("mrr"),
        F.round(F.avg("ap"), 4).alias("map"),
        F.round(F.avg("hit1"), 4).alias("top1_rate"),
        F.round(F.avg("hit10"), 4).alias("top10_rate"),
    )


SQL_EVAL_RANK_STATS = """
WITH base AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nm
  FROM embeddings
), probes AS (
  SELECT vec_id AS q_id, label AS q_label, v AS q, nm AS qn
  FROM base WHERE vec_id < 100
), scored AS (
  SELECT p.q_id, b.vec_id,
         CAST(b.label = p.q_label AS INT) AS rel,
         round(list_sum(list_transform(list_zip(p.q, b.v), t -> t[1] * t[2]))
               / (p.qn * b.nm), 6) AS cosine
  FROM base b, probes p WHERE b.vec_id <> p.q_id
), ranked AS (
  SELECT q_id, rel,
         row_number() OVER w AS rn,
         CAST(sum(rel) OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE)
           / row_number() OVER w AS prec_at
  FROM scored
  WINDOW w AS (PARTITION BY q_id ORDER BY cosine DESC, vec_id)
), per_q AS (
  SELECT q_id,
         sum(rel) AS n_rel,
         min(CASE WHEN rel = 1 THEN rn END) AS first_rank,
         sum(CASE WHEN rel = 1 THEN prec_at END) / sum(rel) AS ap,
         max(CASE WHEN rel = 1 AND rn <= 1 THEN 1 ELSE 0 END) AS hit1,
         max(CASE WHEN rel = 1 AND rn <= 10 THEN 1 ELSE 0 END) AS hit10
  FROM ranked GROUP BY q_id HAVING sum(rel) > 0
)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       round(avg(first_rank), 4) AS mean_rank,
       round(avg(1.0 / first_rank), 4) AS mrr,
       round(avg(ap), 4) AS map,
       round(avg(hit1), 4) AS top1_rate,
       round(avg(hit10), 4) AS top10_rate
FROM per_q
"""


def q_scan_csv(spark, sf_dir):
    """CSV manifest source (SURVEY.md §2.B scans row; ref acoss
    utils CSV list readers [R]): the nation dim is exported as a CSV
    manifest, re-read with an explicit schema via ``spark.read.csv``,
    and aggregated per region. The oracle recomputes the same result
    straight from the nation view, so correctness covers the full
    write→scan→agg round trip without the oracle touching the file.

    The manifest lives in a fresh per-call ``tempfile.mkdtemp`` dir
    (ADVICE r2 low: a fixed world-writable /tmp path let concurrent
    bench runs clobber each other and would follow a pre-planted
    symlink). The DataFrame is materialized before cleanup since
    spark.read.csv is lazy."""
    import csv
    import os
    import shutil

    n = _t(spark, sf_dir, "nation")
    rows = sorted(
        (int(r.n_nationkey), str(r.n_name), int(r.n_regionkey))
        for r in n.collect()  # 25-row dim: manifest export is driver-side
    )
    tmpdir = _scratch_dir("scan_csv")
    path = os.path.join(tmpdir, "nation_manifest.csv")
    with open(path, "w", newline="") as fh:
        wr = csv.writer(fh)
        wr.writerow(["n_nationkey", "n_name", "n_regionkey"])
        wr.writerows(rows)
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    back = spark.read.csv(path, header=True, schema=schema)
    agg = back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nations"),
        F.min("n_name").alias("first_nation"),
        F.max("n_nationkey").cast("bigint").alias("max_key"),
    )
    try:
        # materialize THROUGH the CSV scan before deleting the
        # manifest (the read is lazy); the 5-row aggregate comes back
        # as a LocalRelation with the identical schema
        out = agg.collect()
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)
    return spark.createDataFrame(
        out,
        schema="n_regionkey int, n_nations bigint, "
        "first_nation string, max_key bigint",
    )


SQL_SCAN_CSV = """
SELECT n_regionkey,
       CAST(count(*) AS BIGINT) AS n_nations,
       min(n_name) AS first_nation,
       CAST(max(n_nationkey) AS BIGINT) AS max_key
FROM nation GROUP BY n_regionkey
"""


def q_scalar_pandas_udf(spark, sf_dir):
    """Scalar series→series ``@pandas_udf`` surface (the A2/A4 per-row
    feature analog as an Arrow-vectorized scalar UDF — completes the
    UDF-surface table next to mapInPandas / grouped / cogrouped / UDTF).
    Computes a density score from text length and space count; the
    arithmetic is deliberately SQL-expressible so DuckDB can twin it."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def density(text: pd.Series) -> pd.Series:
        n_chars = text.str.len().fillna(0).astype("float64")
        n_spaces = text.str.count(" ").fillna(0).astype("float64")
        return pd.Series(
            np.round(np.log1p(n_chars) / (1.0 + n_spaces), 6),
            index=text.index,
        )

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        density(F.col("text")).alias("density"),
    )


SQL_SCALAR_PANDAS_UDF = """
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       round(ln(1 + length(text))
             / (1 + length(text) - length(replace(text, ' ', ''))), 6)
         AS density
FROM documents
"""


def q_map_in_arrow(spark, sf_dir):
    """``mapInArrow`` surface (Spark 4): the zero-copy Arrow-batch UDF
    tier below mapInPandas — RecordBatches in, RecordBatches out, no
    pandas conversion at all. The cheapest possible Python boundary for
    kernels that are already columnar (here: UTF-8 byte length via
    pyarrow.compute). Completes the UDF-surface table next to scalar
    pandas_udf / mapInPandas / grouped / cogrouped / UDTF."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(batches):
        for batch in batches:
            tbl = pa.table(
                {
                    "doc_id": batch.column("doc_id"),
                    "n_bytes": pc.cast(
                        pc.binary_length(
                            pc.cast(batch.column("text"), pa.binary())
                        ),
                        pa.int64(),
                    ),
                }
            )
            for out in tbl.to_batches():
                yield out

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInArrow(kernel, schema="doc_id long, n_bytes long")


SQL_MAP_IN_ARROW = """
SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
"""
