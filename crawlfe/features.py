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
    partition. Given a lineage sink (only ``pipeline.commit_batch``
    passes one), the task also builds its partition's lineage row while
    the batches stream through: first/last offset, n_rows, the
    order-independent XOR of Spark's ``xxhash64(url, warc_ts,
    text_sha256)`` per row (``hashing.spark_xxhash64``), html and text
    bytes, the empty-text count and the number of documents the
    extractor's fast path handed to the reference parser
    (``extract_fallback``). The row reaches the driver through a dict
    accumulator keyed by partition id whose merge overwrites, so a
    retried or re-evaluated task replaces its row instead of adding one.
    The commit is then one Spark job: the staged write.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark import Accumulator, AccumulatorParam, TaskContext
from pyspark.sql import DataFrame

from .extract import _extract
from .hashing import byte_lengths, spark_xxhash64
from .textfeat import FEAT_DIM, FEAT_VERSION, featurize_batch, sha256_hex

def _schema(include_text: bool) -> str:
    text = "text string, " if include_text else ""
    return (
        f"url string, warc_ts timestamp_ntz, {text}text_sha256 string, "
        "feat array<double>, feat_version int, part_id int, row_offset long"
    )


class LineageMerge(AccumulatorParam):
    """Accumulator merge of ``{partition_id: lineage row}`` dicts: an
    overwrite by partition id, so a retried or re-evaluated task
    replaces its partition's row instead of adding a second one."""

    def zero(self, value: dict) -> dict:
        return {}

    def addInPlace(self, rows: dict, update: dict) -> dict:
        rows.update(update)
        return rows


def _featurize_iter(
    batches: Iterator[pa.RecordBatch],
    use_html: bool,
    include_text: bool,
    lineage: Accumulator | None,
) -> Iterator[pa.RecordBatch]:
    ctx = TaskContext.get()
    part_id = ctx.partitionId() if ctx is not None else -1
    offset = 0
    row_hash = np.int64(0)
    html_bytes = text_bytes = empty_text = extract_fallback = 0
    for batch in batches:
        n = batch.num_rows
        if use_html:
            out = [_extract(h) for h in batch.column("html").to_pylist()]
            texts = [text for text, _ in out]
            extract_fallback += sum(fell_back for _, fell_back in out)
        else:
            texts = [t or "" for t in batch.column("text").to_pylist()]
        feats = featurize_batch(texts)
        cols = {"url": batch.column("url"), "warc_ts": batch.column("warc_ts")}
        if include_text or lineage is not None:
            text = pa.array(texts, pa.string())
        if include_text:
            cols["text"] = text
        cols["text_sha256"] = pa.array(map(sha256_hex, texts), pa.string())
        cols["feat"] = pa.ListArray.from_arrays(
            np.arange(0, (n + 1) * FEAT_DIM, FEAT_DIM, dtype=np.int32),
            feats.reshape(-1),
        )
        cols["feat_version"] = pa.array(np.full(n, FEAT_VERSION, np.int32))
        cols["part_id"] = pa.array(np.full(n, part_id, np.int32))
        cols["row_offset"] = pa.array(np.arange(offset, offset + n))
        offset += n
        if lineage is not None:
            row_hash ^= np.bitwise_xor.reduce(spark_xxhash64(
                cols["url"], cols["warc_ts"], cols["text_sha256"]))
            if use_html:
                html_bytes += int(byte_lengths(batch.column("html")).sum())
            text_len = byte_lengths(text)
            text_bytes += int(text_len.sum())
            empty_text += int(np.count_nonzero(text_len == 0))
        yield pa.RecordBatch.from_pydict(cols)
    if lineage is not None and offset:
        lineage.add({part_id: {
            "partition_id": part_id,
            "first_offset": 0,
            "last_offset": offset - 1,
            "n_rows": offset,
            "feature_hash": str(row_hash),
            "html_bytes": html_bytes,
            "text_bytes": text_bytes,
            "empty_text": empty_text,
            "extract_fallback": extract_fallback,
        }})


def featurize(
    pages: DataFrame,
    use_html: bool = True,
    include_text: bool = False,
    *,
    _lineage: Accumulator | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html[, text]) -> features DataFrame
    (url, warc_ts[, text], text_sha256, feat, feat_version, part_id,
    row_offset).

    use_html=True runs the frozen extractor on the html bytes; False
    trusts an existing text column (e.g. re-featurizing the store). A
    null html or text cell featurizes as the empty text. ``_lineage``
    is the commit path's sink: a ``LineageMerge`` accumulator that
    receives one lineage row per non-empty partition.
    """
    src = "html" if use_html else "text"
    return pages.select("url", "warc_ts", src).mapInArrow(
        lambda it: _featurize_iter(it, use_html, include_text, _lineage),
        schema=_schema(include_text),
    )
