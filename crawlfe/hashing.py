"""Stable, pure, seedable hashing — the only "randomness" in crawlfe.

Every synthetic value and every hashed feature bucket is a pure function of
(seed, integer key) via splitmix64 (public-domain finalizer, Steele et al.,
"Fast Splittable Pseudorandom Number Generators", OOPSLA 2014). No RNG
state anywhere, so the distributed Spark generator and the single-node
pandas oracle produce identical bytes (SURVEY.md §7 hard-part #5).

Both a scalar-int and a numpy-vectorized uint64 implementation are given;
they are bit-identical.

``spark_xxhash64`` is the other kind: Spark's own ``xxhash64`` over Arrow
columns, so a hash taken in a Python task equals the one Spark SQL takes
(the committed lineage's ``feature_hash``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_MASK = (1 << 64) - 1

_GAMMA = 0x9E3779B97F4A7C15
_M1 = 0xBF58476D1CE4E5B9
_M2 = 0x94D049BB133111EB


def splitmix64(x: int) -> int:
    """Scalar splitmix64 finalizer of a 64-bit integer."""
    x = (x + _GAMMA) & _MASK
    x = ((x ^ (x >> 30)) * _M1) & _MASK
    x = ((x ^ (x >> 27)) * _M2) & _MASK
    return x ^ (x >> 31)


def splitmix64_np(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 over a uint64 ndarray (bit-identical to scalar)."""
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x += np.uint64(_GAMMA)
        x ^= x >> np.uint64(30)
        x *= np.uint64(_M1)
        x ^= x >> np.uint64(27)
        x *= np.uint64(_M2)
        x ^= x >> np.uint64(31)
    return x


def h64(seed: int, *keys: int) -> int:
    """Stable scalar hash of (seed, keys...) -> uint64 int."""
    acc = splitmix64(seed & _MASK)
    for k in keys:
        acc = splitmix64((acc ^ (k & _MASK)) & _MASK)
    return acc


# ---------------------------------------------------------------------------
# Batch-vectorized token hashing (no per-token Python in the hot path).
#
# Spec (shared by the Spark kernels and the plain-python oracles): a token
# is a maximal run of non-ASCII-whitespace bytes of the UTF-8 encoding;
# its hash is  splitmix64(polyhash(bytes) ^ (byte_len * GAMMA))  where
# polyhash is the Horner fold  h = h * B + (byte + 1)  mod 2^64, B odd.
# The vectorized form computes every token of every document in an Arrow
# batch with O(batch_bytes) numpy work via modular prefix sums:
#     S[j]   = sum_{i<j} x[i] * B^-i          (x = byte + 1, mod 2^64)
#     pw[j]  = B^j
#     poly(l..r) = (S[r+1] - S[l]) * pw[r]    == Horner fold over [l, r]
# B odd makes B invertible mod 2^64, so the prefix trick is exact; all
# arithmetic wraps in uint64, bit-identical to the scalar fold.
# ---------------------------------------------------------------------------

_POLY_B = 0x100000001B3  # FNV64 prime (odd -> invertible mod 2^64)
_POLY_BINV = pow(_POLY_B, -1, 1 << 64)

# bytes Python's str.split() treats as whitespace that are single-byte in
# UTF-8: \t \n \v \f \r FS GS RS US space
_WS_LUT = np.zeros(256, dtype=bool)
_WS_LUT[[0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x1C, 0x1D, 0x1E, 0x1F, 0x20]] = True


def ascii_tokens(text: str) -> list[str]:
    """Oracle-side tokenizer matching the kernel's byte-level whitespace
    set (ASCII + C0 separators; multi-byte Unicode spaces are content)."""
    for ch in "\x0b\x0c\x1c\x1d\x1e\x1f\t\n\r":
        text = text.replace(ch, " ")
    return [t for t in text.split(" ") if t]


def token_hash_scalar(token: str) -> int:
    """Scalar twin of the vectorized token hash (oracle/tests only)."""
    data = token.encode("utf-8")
    h = 0
    for byte in data:
        h = (h * _POLY_B + byte + 1) & _MASK
    return splitmix64((h ^ ((len(data) * _GAMMA) & _MASK)) & _MASK)


def token_hashes_batch(
    texts, chunk_bytes: int = 1 << 18
) -> tuple[np.ndarray, np.ndarray]:
    """All token hashes of an iterable of texts in one vectorized pass.

    Returns (tok_hash uint64[n_tok], tok_doc int64[n_tok]) with tokens in
    document order. Chunked at 256 KB so the prefix arrays (~24 B per
    input byte) stay cache-resident: measured 66k rows/s single-core and
    near-linear 8-core scaling vs 36k/s and sublinear at 4 MB chunks —
    the cache-vs-DRAM trade that decides multi-executor scaling.
    """
    enc = [(t or "").encode("utf-8") for t in texts]
    out_h: list[np.ndarray] = []
    out_d: list[np.ndarray] = []
    lo = 0
    while lo < len(enc):
        hi, size = lo, 0
        while hi < len(enc) and (size == 0 or size < chunk_bytes):
            size += len(enc[hi]) + 1
            hi += 1
        h, d = _token_hashes_chunk(enc[lo:hi])
        out_h.append(h)
        out_d.append(d + lo)
        lo = hi
    if not out_h:
        return (
            np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
        )
    return np.concatenate(out_h), np.concatenate(out_d)


def _token_hashes_chunk(enc: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    doc_lens = np.fromiter(
        (len(e) + 1 for e in enc), dtype=np.int64, count=len(enc)
    )
    doc_off = np.concatenate(([0], np.cumsum(doc_lens)))
    blob = b" ".join(enc) + b" "
    b = np.frombuffer(blob, dtype=np.uint8)
    n = b.size
    if n == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    ws = _WS_LUT[b]
    nw = ~ws
    prev_ws = np.empty(n, dtype=bool)
    prev_ws[0] = True
    np.copyto(prev_ws[1:], ws[:-1])
    next_ws = np.empty(n, dtype=bool)
    next_ws[-1] = True
    np.copyto(next_ws[:-1], ws[1:])
    s_idx = np.flatnonzero(nw & prev_ws)
    e_idx = np.flatnonzero(nw & next_ws)
    if s_idx.size == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    with np.errstate(over="ignore"):
        x = b.astype(np.uint64) + np.uint64(1)
        pwinv = np.ones(n, dtype=np.uint64)
        pwinv[1:] = np.uint64(_POLY_BINV)
        np.cumprod(pwinv, out=pwinv)  # pwinv[i] = B^-i
        pw = np.ones(n, dtype=np.uint64)
        pw[1:] = np.uint64(_POLY_B)
        np.cumprod(pw, out=pw)  # pw[i] = B^i
        S = np.zeros(n + 1, dtype=np.uint64)
        np.cumsum(x * pwinv, out=S[1:])
        poly = (S[e_idx + 1] - S[s_idx]) * pw[e_idx]
        tok_len = (e_idx - s_idx + 1).astype(np.uint64)
        h = splitmix64_np(poly ^ (tok_len * np.uint64(_GAMMA)))
    tok_doc = np.searchsorted(doc_off, s_idx, side="right") - 1
    return h, tok_doc.astype(np.int64)


def shingle_hashes_batch(
    tok_hash: np.ndarray,
    tok_doc: np.ndarray,
    n_docs: int,
    k: int,
    seed: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Hash every k-token shingle of every doc (vectorized h64 chain over
    k shifted views). Docs with fewer than k tokens get ONE shingle: the
    chain over all their tokens (empty docs: the bare seed hash).

    Returns (sh_hash uint64[n_sh], sh_doc int64[n_sh]) in document order.
    """
    tok_counts = np.bincount(tok_doc, minlength=n_docs)
    short = np.flatnonzero(tok_counts < k)
    n_tok = tok_hash.size
    if n_tok >= k:
        acc = np.full(n_tok - k + 1, splitmix64(seed), dtype=np.uint64)
        for j in range(k):
            acc = splitmix64_np(acc ^ tok_hash[j : n_tok - k + 1 + j])
        full = tok_doc[: n_tok - k + 1] == tok_doc[k - 1 :]
        long_h, long_doc = acc[full], tok_doc[: n_tok - k + 1][full]
    else:
        long_h = np.empty(0, dtype=np.uint64)
        long_doc = np.empty(0, dtype=np.int64)
    if short.size == 0:
        return long_h, long_doc
    # short docs: one chain each over <k tokens — vectorize by padding the
    # chain position-wise (at most k-1 rounds, each a batch op)
    tok_off = np.concatenate(([0], np.cumsum(tok_counts)))
    acc_s = np.full(short.size, splitmix64(seed), dtype=np.uint64)
    for j in range(k - 1):
        has = tok_counts[short] > j
        idx = tok_off[short[has]] + j
        acc_s[has] = splitmix64_np(acc_s[has] ^ tok_hash[idx])
    sh_h = np.concatenate([long_h, acc_s])
    sh_doc = np.concatenate([long_doc, short])
    order = np.argsort(sh_doc, kind="stable")
    return sh_h[order], sh_doc[order]


# ---------------------------------------------------------------------------
# Spark's xxhash64, vectorized over Arrow columns.
#
# ``F.xxhash64(c1, c2, ...)`` is XXH64 (Y. Collet) with seed 42, chained
# column to column: a non-null cell is hashed with the running hash as
# its seed, a null cell leaves the running hash unchanged. Strings and
# binaries hash their bytes (Spark's XXH64.hashUnsafeBytes), longs and
# timestamps the 8-byte value (XXH64.hashLong; a timestamp is its long
# of microseconds). The byte kernel reads the Arrow offsets and data
# buffers directly and runs every row of a column together: rows are
# masked in and out of each 32-byte stripe, 8-byte word, 4-byte word
# and tail byte, so the numpy-call count grows with the longest value
# in the batch, never with the number of distinct lengths.
# ---------------------------------------------------------------------------

_SPARK_SEED = 42

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_LANES = np.arange(0, 32, 8, dtype=np.int64)[:, None]


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * _P2, 31) * _P1


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def _xxh64_long(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    h = seed + (_P5 + np.uint64(8))
    h ^= _round(np.uint64(0), v)
    return _fmix(_rotl(h, 27) * _P1 + _P4)


def _xxh64_bytes(
    buf: np.ndarray, start: np.ndarray, length: np.ndarray, seed: np.ndarray
) -> np.ndarray:
    """XXH64 of ``buf[start[i] : start[i] + length[i]]`` per row, seeded
    by ``seed[i]``. ``buf`` must carry 32 zero bytes past its data, so
    a masked-out row may read past its own end."""
    w64 = np.ndarray((buf.size - 7,), "<u8", buf, strides=(1,))
    w32 = np.ndarray((buf.size - 3,), "<u4", buf, strides=(1,))
    h = seed + _P5
    stripes = length >> 5
    big = np.flatnonzero(stripes)
    if big.size:
        # longest first: the rows still inside stripe k are a prefix
        big = big[np.argsort(-stripes[big], kind="stable")]
        ns = stripes[big]
        pos = start[big]
        s = seed[big]
        v = np.stack([s + (_P1 + _P2), s + _P2, s, s - _P1])
        active = np.searchsorted(-ns, -np.arange(ns[0]), side="left")
        for k, m in enumerate(active):
            lanes = w64[pos[:m] + 32 * k + _LANES]
            v[:, :m] = _round(v[:, :m], lanes)
        hb = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for lane in v:
            hb = (hb ^ _round(np.uint64(0), lane)) * _P1 + _P4
        h[big] = hb
    h += length.astype(np.uint64)
    off = start + (stripes << 5)
    words = (length & 31) >> 3
    for j in range(3):
        k1 = w64[off + 8 * j]
        h = np.where(
            words > j, _rotl(h ^ _round(np.uint64(0), k1), 27) * _P1 + _P4, h
        )
    off = start + (length & ~7)
    k4 = w32[off].astype(np.uint64)
    h = np.where(length & 4, _rotl(h ^ (k4 * _P1), 23) * _P2 + _P3, h)
    off += length & 4
    tail = length & 3
    for j in range(3):
        b = buf[off + j].astype(np.uint64)
        h = np.where(tail > j, _rotl(h ^ (b * _P5), 11) * _P1, h)
    return _fmix(h)


def _offsets(col) -> np.ndarray:
    """The n + 1 value offsets of a (possibly sliced) non-empty Arrow
    string or binary array, as int64."""
    t = col.type
    large = pa.types.is_large_string(t) or pa.types.is_large_binary(t)
    otype = np.dtype(np.int64 if large else np.int32)
    return np.frombuffer(
        col.buffers()[1], otype, count=len(col) + 1,
        offset=otype.itemsize * col.offset,
    ).astype(np.int64)


def _valid(col) -> np.ndarray:
    """Validity of each row of a (possibly sliced) Arrow array with
    nulls, unpacked from its bitmap."""
    bits = np.frombuffer(col.buffers()[0], np.uint8)
    return np.unpackbits(bits, bitorder="little")[
        col.offset : col.offset + len(col)].astype(bool)


def byte_lengths(col) -> np.ndarray:
    """Byte length of each row of an Arrow string or binary array
    (0 for a null), read from its offsets buffer."""
    if not len(col):
        return np.zeros(0, np.int64)
    lengths = np.diff(_offsets(col))
    if col.null_count:
        lengths[~_valid(col)] = 0
    return lengths


def _hash_column(col, seed: np.ndarray) -> np.ndarray:
    t = col.type
    n = len(col)
    if n == 0:
        return seed
    if pa.types.is_int64(t) or (pa.types.is_timestamp(t) and t.unit == "us"):
        vals = np.frombuffer(
            col.buffers()[1], np.uint64, count=n, offset=8 * col.offset
        )
        h = _xxh64_long(vals, seed)
    elif (pa.types.is_string(t) or pa.types.is_binary(t)
          or pa.types.is_large_string(t) or pa.types.is_large_binary(t)):
        offs = _offsets(col)
        lo, hi = int(offs[0]), int(offs[-1])
        buf = np.zeros(hi - lo + 32, np.uint8)
        if hi > lo:
            buf[: hi - lo] = np.frombuffer(col.buffers()[2], np.uint8)[lo:hi]
        h = _xxh64_bytes(buf, offs[:-1] - lo, np.diff(offs), seed)
    else:
        raise TypeError(f"spark_xxhash64: unsupported column type {t}")
    if col.null_count:
        h = np.where(_valid(col), h, seed)
    return h


def spark_xxhash64(*columns) -> np.ndarray:
    """Per-row hashes bit-identical to Spark's ``F.xxhash64(*columns)``,
    as int64. Each column is a pyarrow string, binary, int64 or
    microsecond timestamp Array of the same length (sliced arrays are
    fine)."""
    n = len(columns[0])
    h = np.full(n, _SPARK_SEED, np.uint64)
    with np.errstate(over="ignore"):
        for col in columns:
            h = _hash_column(col, h)
    return h.view(np.int64)
