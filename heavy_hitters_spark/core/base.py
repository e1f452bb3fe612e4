"""Mergeable-sketch base contract + versioned binary serde.

Every sketch is *aggregation state*: ``update_batch`` folds a vectorized
batch of (item, count) updates in, ``merge`` combines two states built
with identical seeds, and ``to_bytes``/``from_bytes`` round-trip the
state through Spark ``BinaryType`` rows between the partial and final
stages of the distributed aggregation (SURVEY.md §3.4).

Wire format: ``b"HHS1" + <u32 header_len> + header_json + payload``.
The JSON header carries {type, params, seeds, norm, ...}; payload is the
raw little-endian counter table(s). This keeps states self-describing
and mergeable across processes with zero pickling.
"""

from __future__ import annotations

import json
import struct
import zlib
from typing import Any

import numpy as np

MAGIC = b"HHS1"
WIRE_MAGIC = b"HHZ1"  # zlib-compressed envelope around a raw HHS1 blob

_REGISTRY: dict[str, type] = {}


def register(cls):
    """Class decorator: make a sketch type discoverable by ``from_bytes``."""
    _REGISTRY[cls.TYPE] = cls
    return cls


class Sketch:
    """Common interface for all mergeable sketch states.

    ``update_batch(items, counts)`` takes weighted updates, and every
    type honours ``counts``: feeding a pre-aggregated (unique_items,
    counts) batch is a valid feed of the raw stream it collapses, so
    map-side combiners (spark/fused.py) hand every sketch the collapsed
    batch. CM, CS, MG and KLL give equal bytes either way (MG and KLL
    collapse every batch themselves); HLL and Bloom ignore multiplicity
    by set semantics; t-digest keeps its error bound."""

    TYPE = "abstract"

    # --- updates -----------------------------------------------------
    def update_batch(self, items: np.ndarray, counts: np.ndarray | None = None) -> None:
        raise NotImplementedError

    # --- merge (associative; same seeds required) --------------------
    def merge(self, other: "Sketch") -> "Sketch":
        raise NotImplementedError

    # --- serde --------------------------------------------------------
    def _header(self) -> dict[str, Any]:
        raise NotImplementedError

    def _payload(self) -> bytes:
        raise NotImplementedError

    @classmethod
    def _from_parts(cls, header: dict[str, Any], payload: bytes) -> "Sketch":
        raise NotImplementedError

    def to_bytes(self) -> bytes:
        header = dict(self._header())
        header["type"] = self.TYPE
        hj = json.dumps(header, separators=(",", ":")).encode()
        return MAGIC + struct.pack("<I", len(hj)) + hj + self._payload()

    @staticmethod
    def from_bytes(data: bytes) -> "Sketch":
        if data[:4] != MAGIC:
            raise ValueError("bad sketch magic")
        (hlen,) = struct.unpack("<I", data[4:8])
        header = json.loads(data[8 : 8 + hlen].decode())
        payload = data[8 + hlen :]
        if header["type"] not in _REGISTRY:
            _load_builtin_types()
        cls = _REGISTRY[header["type"]]
        return cls._from_parts(header, payload)


def pack_state(sk: "Sketch") -> bytes:
    """Wire form of a sketch state for Spark shipping: zlib(level 1)
    over the raw HHS1 blob. Sketch payloads are mostly-small int64
    counter tables (5x typical, 150x for a fresh template), so packing
    turns the serial driver-side collect of N partial states — the
    Amdahl term of the distributed build — into ~1/5 the bytes for
    ~20 ms/partition of PARALLEL worker CPU."""
    return pack_state_bytes(sk.to_bytes())


def pack_state_bytes(raw: bytes) -> bytes:
    """pack_state for a caller that already has the raw blob (lets the
    emitter report the RAW size for space accounting while shipping the
    packed form, without serializing twice)."""
    return WIRE_MAGIC + zlib.compress(raw, 1)


def unpack_state(data) -> "Sketch":
    """Inverse of pack_state; transparently accepts raw HHS1 blobs too
    (durable checkpoints written before compression, direct to_bytes
    output), so readers never need to know which form they hold."""
    b = bytes(data)
    if b[:4] == WIRE_MAGIC:
        b = zlib.decompress(b[4:])
    return Sketch.from_bytes(b)


def _load_builtin_types() -> None:
    """Import every module that registers a sketch type — needed inside
    Spark Python workers, which may deserialize a type whose defining
    module was only imported on the driver."""
    import importlib

    for mod in (
        "heavy_hitters_spark.core.countmin",
        "heavy_hitters_spark.core.countsketch",
        "heavy_hitters_spark.core.misra_gries",
        "heavy_hitters_spark.core.hll",
        "heavy_hitters_spark.core.bloom",
        "heavy_hitters_spark.core.kll",
        "heavy_hitters_spark.core.multi",
        "heavy_hitters_spark.core.tdigest",
        "heavy_hitters_spark.hh.dyadic",
        "heavy_hitters_spark.hh.const_sketch",
    ):
        importlib.import_module(mod)


def merge_all(states: list[Sketch]) -> Sketch:
    """Left fold; all sketches here are associative so the fold shape is
    irrelevant (verified by the permuted-merge tests)."""
    if not states:
        raise ValueError("nothing to merge")
    acc = states[0]
    for s in states[1:]:
        acc = acc.merge(s)
    return acc


# Hot-path updates are processed in bounded chunks so numpy temporaries
# stay small and reuse warm heap pages (see core.memtune — fresh page
# faults are ~100x slower than reuse on virtualized hosts).
CHUNK = 1 << 15


def chunked_update(fn, items: np.ndarray, counts: np.ndarray | None) -> None:
    n = len(items)
    if n <= CHUNK:
        fn(items, counts)
        return
    for i in range(0, n, CHUNK):
        fn(items[i : i + CHUNK], None if counts is None else counts[i : i + CHUNK])


def scatter_add(table: np.ndarray, idx: np.ndarray, weights: np.ndarray | None = None) -> None:
    """``table[idx] += weights`` (1 per index when ``weights`` is None),
    exact in int64. Dense unweighted batches amortize one full-table
    bincount; sparse ones touch only their own cells via ``np.add.at``.
    Weighted batches always take ``np.add.at``: a float64-weighted
    bincount loses integer precision past 2^53, which would silently
    corrupt turnstile counters."""
    if weights is None and len(idx) >= 2 * len(table):
        table += np.bincount(idx, minlength=len(table))
    else:
        np.add.at(table, idx, 1 if weights is None else weights)


def frame(blobs) -> bytes:
    """Concatenate blobs, each prefixed with its u64 little-endian length."""
    return b"".join(struct.pack("<Q", len(b)) + b for b in blobs)


def unframe(data: bytes) -> list[bytes]:
    """Inverse of ``frame``."""
    out, off = [], 0
    while off < len(data):
        (n,) = struct.unpack_from("<Q", data, off)
        out.append(data[off + 8 : off + 8 + n])
        off += 8 + n
    return out


def pack_i64(arr: np.ndarray) -> bytes:
    """Serialize an int64 array at the smallest width that fits its
    range (1-byte dtype tag prefix). Partial-state counter tables are
    usually far below int64 range, so this cuts merge-shuffle and
    driver-collect bytes 2-8x."""
    a = np.ascontiguousarray(arr).ravel()
    lo = int(a.min()) if a.size else 0
    hi = int(a.max()) if a.size else 0
    for tag, dt in ((1, np.int8), (2, np.int16), (4, np.int32)):
        info = np.iinfo(dt)
        if info.min <= lo and hi <= info.max:
            return bytes([tag]) + a.astype(f"<i{tag}").tobytes()
    return bytes([8]) + a.astype("<i8").tobytes()


def unpack_i64(data: bytes) -> np.ndarray:
    tag = data[0]
    return np.frombuffer(data[1:], dtype=f"<i{tag}").astype(np.int64)


def as_u64(items) -> np.ndarray:
    a = np.asarray(items)
    if a.dtype != np.uint64:
        a = a.astype(np.int64).astype(np.uint64)  # tolerate signed inputs
    return a


def collapse(items: np.ndarray, counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Sorted (unique items, summed counts) of a weighted batch: one
    stable argsort and one ``np.add.reduceat`` over runs of equal items
    (exact in int64, unlike a float-weighted bincount)."""
    order = np.argsort(items, kind="stable")
    xs, cs = items[order], counts[order]
    starts = np.flatnonzero(np.r_[True, xs[1:] != xs[:-1]])
    if len(starts) < len(xs):
        xs, cs = xs[starts], np.add.reduceat(cs, starts)
    return xs, cs


def as_i64(counts, n: int) -> np.ndarray:
    if counts is None:
        return np.ones(n, dtype=np.int64)
    a = np.asarray(counts)
    return a.astype(np.int64) if a.dtype != np.int64 else a
