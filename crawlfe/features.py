"""Spark featurize stage: pages -> features table (+ lineage columns).

The reference's batch extraction loop (ref: acoss/extractors.py::
batch_feature_extractor — a multiprocessing.Pool over per-file
compute_features calls writing one HDF5 per track [R]) becomes ONE
mapInArrow over the pages scan: Spark's task parallelism IS the pool,
the features DataFrame IS the feature store (SURVEY.md §2.A A1/A2/A11).

Design notes (scale):
  * mapInArrow (iterator form): one Python worker streams every Arrow
    batch of its partition, and the body touches only what it needs.
    html (or text) is read by column name; url and warc_ts go back as
    the same Arrow arrays; ``feat`` is a zero-copy list view over the
    ``featurize_batch`` matrix. ``text`` crosses the boundary only when
    the caller asks for it (``include_text=True``).
  * Column pruning matters at 100 TB: the html binary is read ONLY here;
    every downstream stage selects feature columns, so Catalyst prunes
    the scan (verified via .explain ReadSchema in tests).
  * Lineage capture (BASELINE.json:6): each emitted row carries the
    physical partition id (TaskContext) and its row offset within that
    partition. ``lineage_rows`` aggregates these into per-partition rows
    (n_rows, first/last offset, order-independent bit_xor feature hash)
    with a map-side-combinable groupBy. ``pipeline.commit_batch`` runs
    it over the staged parquet, a second, column-pruned scan that never
    reads html.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extract import extract_text
from .textfeat import FEAT_DIM, FEAT_VERSION, featurize_batch, sha256_hex

def _schema(include_text: bool) -> str:
    text = "text string, " if include_text else ""
    return (
        f"url string, warc_ts timestamp_ntz, {text}text_sha256 string, "
        "feat array<double>, feat_version int, part_id int, row_offset long"
    )


def _featurize_iter(
    batches: Iterator[pa.RecordBatch], use_html: bool, include_text: bool
) -> Iterator[pa.RecordBatch]:
    ctx = TaskContext.get()
    part_id = ctx.partitionId() if ctx is not None else -1
    offset = 0
    for batch in batches:
        n = batch.num_rows
        if use_html:
            texts = [extract_text(h) for h in batch.column("html").to_pylist()]
        else:
            texts = [t or "" for t in batch.column("text").to_pylist()]
        feats = featurize_batch(texts)
        cols = {"url": batch.column("url"), "warc_ts": batch.column("warc_ts")}
        if include_text:
            cols["text"] = pa.array(texts, pa.string())
        cols["text_sha256"] = pa.array(map(sha256_hex, texts), pa.string())
        cols["feat"] = pa.ListArray.from_arrays(
            np.arange(0, (n + 1) * FEAT_DIM, FEAT_DIM, dtype=np.int32),
            feats.reshape(-1),
        )
        cols["feat_version"] = pa.array(np.full(n, FEAT_VERSION, np.int32))
        cols["part_id"] = pa.array(np.full(n, part_id, np.int32))
        cols["row_offset"] = pa.array(np.arange(offset, offset + n))
        offset += n
        yield pa.RecordBatch.from_pydict(cols)


def featurize(
    pages: DataFrame, use_html: bool = True, include_text: bool = False
) -> DataFrame:
    """pages(url, warc_ts, html[, text]) -> features DataFrame
    (url, warc_ts[, text], text_sha256, feat, feat_version, part_id,
    row_offset).

    use_html=True runs the frozen extractor on the html bytes; False
    trusts an existing text column (e.g. re-featurizing the store). A
    null html or text cell featurizes as the empty text.
    """
    src = "html" if use_html else "text"
    return pages.select("url", "warc_ts", src).mapInArrow(
        lambda it: _featurize_iter(it, use_html, include_text),
        schema=_schema(include_text),
    )


def lineage_rows(features: DataFrame, input_snapshot: str) -> DataFrame:
    """Per-partition lineage (BASELINE.json:6): one row per physical
    partition of the featurize stage — map-side combinable aggregate.

    ``feature_hash`` is an order-independent bit_xor of xxhash64 rows so
    the hash is reproducible under any scan order; ``committed_at`` is
    ``current_timestamp()`` and therefore NOT reproducible across
    retries of the same partition.  That is intentional — resume logic
    treats the manifest (crawlfe/io.py) as authoritative and never
    compares lineage tables byte-wise; diff on (partition_id,
    input_snapshot, offsets, n_rows, feature_hash) only."""
    return (
        features.groupBy("part_id")
        .agg(
            F.min("row_offset").alias("first_offset"),
            F.max("row_offset").alias("last_offset"),
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(
                F.xxhash64("url", "warc_ts", "text_sha256")
            ).cast("string").alias("feature_hash"),
        )
        .withColumn("input_snapshot", F.lit(input_snapshot))
        .withColumn("committed_at", F.current_timestamp())
        .withColumnRenamed("part_id", "partition_id")
        .select(
            "partition_id", "input_snapshot", "first_offset", "last_offset",
            "n_rows", "feature_hash", "committed_at",
        )
    )
