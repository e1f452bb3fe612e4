"""Key extraction + key→uint32-id hashing, Spark-side and driver-side.

The reference's engine consumes uint32 item ids; string inputs are
packed to uint32 before entering it (precision_hh.c:543,597). Our
analog: hash tokens/urls/hosts to the 32-bit universe with Spark's
built-in ``xxhash64`` (JVM-side, whole-stage-codegen — no Python in the
hot path), masked to 32 bits. ``xxh64`` below is a pure-Python
implementation of the public xxHash64 algorithm producing bit-identical
ids on the driver (seed 42, matching Spark's XxHash64 expression), so
point queries can hash probe keys without a Spark job.

Collisions: with a 32-bit universe and ~10^9+ distinct keys at 100 TB,
hash collisions fold key mass together (standard for the dyadic-HH
construction, which needs an integer universe). Top-k / φ-HH answers are
resolved back to strings by an exact second pass filtered to candidate
ids, which also eliminates collision false-positives.
"""

from __future__ import annotations

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
