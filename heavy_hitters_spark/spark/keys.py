"""Key extraction + key→uint32-id hashing, Spark-side and driver-side.

The reference's engine consumes uint32 item ids; string inputs are
packed to uint32 before entering it (precision_hh.c:543,597). Our
analog: hash tokens/urls/hosts to the 32-bit universe with Spark's
built-in ``xxhash64`` (JVM-side, whole-stage-codegen — no Python in the
hot path), masked to 32 bits. Two Python implementations of the public
xxHash64 algorithm (seed 42, matching Spark's XxHash64 expression) give
bit-identical ids outside the JVM:

- ``xxh64`` hashes one ``bytes`` value, so point queries can hash probe
  keys on the driver without a Spark job;
- ``xxh64_array`` hashes every value of an Arrow string or binary
  array in numpy lanes, with no per-value Python; the fused text build
  hashes its distinct tokens with it.

Collisions: with a 32-bit universe and ~10^9+ distinct keys at 100 TB,
hash collisions fold key mass together (standard for the dyadic-HH
construction, which needs an integer universe). Top-k / φ-HH answers are
resolved back to strings by an exact second pass filtered to candidate
ids, which also eliminates collision false-positives.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MASK32 = (1 << 32) - 1

_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_M = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """Public xxHash64; bit-parity with Spark's xxhash64 expression."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = (_rotl((v1 + int.from_bytes(data[i : i + 8], "little") * _P2) & _M, 31) * _P1) & _M
            v2 = (_rotl((v2 + int.from_bytes(data[i + 8 : i + 16], "little") * _P2) & _M, 31) * _P1) & _M
            v3 = (_rotl((v3 + int.from_bytes(data[i + 16 : i + 24], "little") * _P2) & _M, 31) * _P1) & _M
            v4 = (_rotl((v4 + int.from_bytes(data[i + 24 : i + 32], "little") * _P2) & _M, 31) * _P1) & _M
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ ((_rotl((v * _P2) & _M, 31) * _P1) & _M)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        k = (_rotl((int.from_bytes(data[i : i + 8], "little") * _P2) & _M, 31) * _P1) & _M
        h = ((_rotl(h ^ k, 27) * _P1) + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = ((_rotl(h ^ ((int.from_bytes(data[i : i + 4], "little") * _P1) & _M), 23) * _P2) + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


_U64 = np.uint64
_V1, _V2, _V3, _V4, _V5 = (_U64(p) for p in (_P1, _P2, _P3, _P4, _P5))


def _vrotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U64(r)) | (x >> _U64(64 - r))


def _vround(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _vrotl(acc + lane * _V2, 31) * _V1


def xxh64_array(arr: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """``xxh64`` (seed 42) of every value of a string or binary array
    (int32 or int64 offsets, sliced or not) as uint64, bit-equal to
    ``xxh64``. numpy uint64 arithmetic wraps like the algorithm's
    mod-2^64 steps. Values hash in lanes: those of >= 32 bytes step
    their 32-byte stripes together, longest first, then every value
    consumes its < 32-byte tail in at most three 8-byte, one 4-byte and
    three 1-byte steps. Nulls have no bytes to hash and raise
    ``ValueError``."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_string(arr.type) or pa.types.is_binary(arr.type):
        off_t = np.int32
    elif pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type):
        off_t = np.int64
    else:
        raise TypeError(f"xxh64_array hashes string or binary arrays, not {arr.type}")
    if arr.null_count:
        raise ValueError("xxh64_array: null values have no bytes to hash")
    _, obuf, dbuf = arr.buffers()
    offs = np.frombuffer(obuf, off_t, len(arr) + 1, arr.offset * np.dtype(off_t).itemsize).astype(np.int64)
    lo, hi = int(offs[0]), int(offs[-1])
    # the spanned bytes plus 8 zero bytes, so every unaligned u64/u32
    # load below stays inside the buffer
    data = np.zeros(hi - lo + 8, np.uint8)
    if hi > lo:
        data[: hi - lo] = np.frombuffer(dbuf, np.uint8, hi - lo, lo)
    u64 = np.ndarray((len(data) - 7,), "<u8", data, 0, (1,))
    u32 = np.ndarray((len(data) - 3,), "<u4", data, 0, (1,))
    pos, end, n = offs[:-1] - lo, offs[1:] - lo, np.diff(offs)
    seed = 42  # Spark's XxHash64 seed, as in xxh64
    h = np.full(len(arr), (seed + _P5) & _M, np.uint64)

    big = np.flatnonzero(n >= 32)
    if len(big):
        # longest first: the values still striping are a prefix
        big = big[np.argsort(-(n[big] // 32), kind="stable")]
        stripes = n[big] // 32
        p = pos[big]
        v = [np.full(len(big), c & _M, np.uint64) for c in (seed + _P1 + _P2, seed + _P2, seed, seed - _P1)]
        for s in range(int(stripes[0])):
            k = int(np.count_nonzero(stripes > s))
            q = p[:k] + 32 * s
            for j in range(4):
                v[j][:k] = _vround(v[j][:k], u64[q + 8 * j])
        hb = _vrotl(v[0], 1) + _vrotl(v[1], 7) + _vrotl(v[2], 12) + _vrotl(v[3], 18)
        for vj in v:
            hb = (hb ^ _vround(_U64(0), vj)) * _V1 + _V4
        h[big] = hb
        pos[big] += 32 * stripes
    h += n.astype(np.uint64)
    for _ in range(3):
        sel = np.flatnonzero(pos + 8 <= end)
        h[sel] = _vrotl(h[sel] ^ _vround(_U64(0), u64[pos[sel]]), 27) * _V1 + _V4
        pos[sel] += 8
    sel = np.flatnonzero(pos + 4 <= end)
    h[sel] = _vrotl(h[sel] ^ (u32[pos[sel]].astype(np.uint64) * _V1), 23) * _V2 + _V3
    pos[sel] += 4
    for _ in range(3):
        sel = np.flatnonzero(pos < end)
        h[sel] = _vrotl(h[sel] ^ (data[pos[sel]].astype(np.uint64) * _V5), 11) * _V1
        pos[sel] += 1
    h ^= h >> _U64(33)
    h *= _V2
    h ^= h >> _U64(29)
    h *= _V3
    h ^= h >> _U64(32)
    return h


def key_id(key: str) -> int:
    """uint32 item id of a string key — driver-side parity with key_id_col."""
    return xxh64(key.encode("utf-8")) & MASK32


def key_id_col(col: str | Column) -> Column:
    """uint32 item id column (JVM-side xxhash64, codegen'd)."""
    c = F.col(col) if isinstance(col, str) else col
    # xxhash64 is signed int64; mask the low 32 bits
    return F.xxhash64(c).bitwiseAND(F.lit(MASK32))


def ip_to_uint32_col(col: str | Column) -> Column:
    """Pack a dotted-quad IPv4 string into a uint32 item id — the
    reference's NUST/DARPA input path packs source IPs the same way
    before they enter the engine (precision_hh.c:543,597). Pure
    Catalyst (split + shifts), codegen'd."""
    c = F.col(col) if isinstance(col, str) else col
    p = F.split(c, r"\.")
    return (
        p.getItem(0).cast("long") * F.lit(1 << 24)
        + p.getItem(1).cast("long") * F.lit(1 << 16)
        + p.getItem(2).cast("long") * F.lit(1 << 8)
        + p.getItem(3).cast("long")
    )


def tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """text → one row per token (stock Catalyst explode/split)."""
    return df.select(F.explode(F.split(F.col(text_col), " ")).alias("token")).where(
        F.col("token") != ""
    )


def hosts(df: DataFrame, url_col: str = "url") -> DataFrame:
    return df.select(F.parse_url(F.col(url_col), F.lit("HOST")).alias("host"))
