"""Bit parity of the numpy ``spark_xxhash64`` with Spark's own
``xxhash64``: the in-flight lineage hash must equal the
``bit_xor(xxhash64(url, warc_ts, text_sha256))`` Spark computes, so
manifests written by either agree."""

from __future__ import annotations

import datetime
import random
import time

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from crawlfe.hashing import byte_lengths, spark_xxhash64

_CHARS = {1: "a/.:?=x0", 2: "éßж", 3: "€中", 4: "😀𝄞"}
_EPOCH = datetime.datetime(1970, 1, 1)


def _utf8_of_len(rnd: random.Random, n_bytes: int) -> str:
    out, left = [], n_bytes
    while left:
        width = rnd.choice([w for w in _CHARS if w <= left])
        out.append(rnd.choice(_CHARS[width]))
        left -= width
    return "".join(out)


def _rows(n: int, seed: int = 7) -> list[tuple]:
    """Every url byte length 0..300 (so every length mod 32), then
    random ones; negative, zero and positive timestamps; ~5 % nulls in
    each column."""
    rnd = random.Random(seed)
    lengths = list(range(301)) + [rnd.randint(0, 300) for _ in range(n - 301)]
    rows = []
    for length in lengths:
        url = _utf8_of_len(rnd, length)
        us = rnd.choice([0, -1, rnd.randint(-2**50, -1), rnd.randint(1, 2**50)])
        ts = _EPOCH + datetime.timedelta(microseconds=us)
        sha = "%064x" % rnd.getrandbits(256)
        rows.append(tuple(
            None if rnd.random() < 0.05 else v for v in (url, ts, sha)
        ))
    return rows


def _arrow(rows: list[tuple]) -> list[pa.Array]:
    url, ts, sha = zip(*rows)
    return [pa.array(url, pa.string()), pa.array(ts, pa.timestamp("us")),
            pa.array(sha, pa.string())]


def test_spark_xxhash64_matches_spark(spark):
    rows = _rows(3000)
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp_ntz, text_sha256 string")
    want = np.array(
        [r[0] for r in df.select(
            F.xxhash64("url", "warc_ts", "text_sha256")).collect()],
        np.int64,
    )
    cols = _arrow(rows)
    assert (spark_xxhash64(*cols) != want).sum() == 0
    # sliced arrays (non-zero offset into shared buffers)
    lo, hi = 333, 2501
    got = spark_xxhash64(*(c.slice(lo, hi - lo) for c in cols))
    assert (got != want[lo:hi]).sum() == 0
    # 64-bit offsets (Arrow large_string)
    large = [cols[0].cast(pa.large_string()), cols[1],
             cols[2].cast(pa.large_string())]
    assert (spark_xxhash64(*large) != want).sum() == 0
    # the XOR the lineage commits is Spark's bit_xor
    spark_xor = df.agg(
        F.bit_xor(F.xxhash64("url", "warc_ts", "text_sha256"))).first()[0]
    assert int(np.bitwise_xor.reduce(spark_xxhash64(*cols))) == spark_xor


def test_spark_xxhash64_binary_and_long_match_spark(spark):
    rnd = random.Random(3)
    rows = [
        (bytes(rnd.getrandbits(8) for _ in range(rnd.randint(0, 90))),
         rnd.randint(-2**63, 2**63 - 1))
        for _ in range(400)
    ] + [(None, 5), (b"", None)]
    df = spark.createDataFrame(rows, "b binary, n long")
    want = [r[0] for r in df.select(F.xxhash64("b", "n")).collect()]
    b, n = zip(*rows)
    got = spark_xxhash64(pa.array(b, pa.binary()), pa.array(n, pa.int64()))
    assert got.tolist() == want


def test_spark_xxhash64_empty_and_unsupported():
    assert spark_xxhash64(pa.array([], pa.string())).size == 0
    with pytest.raises(TypeError, match="unsupported"):
        spark_xxhash64(pa.array([1.5]))


def test_byte_lengths_sliced_with_nulls():
    vals = ["ab", None, "é€", "", None, "xyz"]
    for typ in (pa.string(), pa.large_string()):
        assert byte_lengths(pa.array(vals, typ).slice(1, 4)).tolist() == [
            0, 5, 0, 0]
    assert byte_lengths(pa.array([b"\0" * 9, None])).tolist() == [9, 0]
    assert byte_lengths(pa.array([], pa.binary())).size == 0


def test_spark_xxhash64_cost_per_row():
    """A 4,096-row batch of (url, warc_ts, text_sha256) with url lengths
    uniform in 10-200 bytes hashes in at most 6 us/row, single process
    (the masked kernel measures 1-5 us/row; grouping rows by length
    measured 14)."""
    rng = np.random.default_rng(0)
    n = 4096
    url = pa.array(["u" * int(k) for k in rng.integers(10, 201, n)])
    ts = pa.array(rng.integers(0, 2**50, n)).cast(pa.timestamp("us"))
    sha = pa.array(["%064x" % i for i in range(n)])
    best = float("inf")
    for _ in range(15):
        t0 = time.perf_counter()
        spark_xxhash64(url, ts, sha)
        best = min(best, time.perf_counter() - t0)
    assert best / n * 1e6 <= 6.0
