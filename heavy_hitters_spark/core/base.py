"""Mergeable-sketch base contract + versioned binary serde.

Every sketch is *aggregation state*: ``update_batch`` folds a vectorized
batch of (item, count) updates in, ``merge`` combines two states built
with identical seeds, and ``to_bytes``/``from_bytes`` round-trip the
state through Spark ``BinaryType`` rows between the partial and final
stages of the distributed aggregation (SURVEY.md §3.4).

State format: ``b"HHS1" + <u32 header_len> + header_json + payload``.
The JSON header carries {type, params, seeds, norm, ...}; payload is the
raw little-endian counter table(s). This keeps states self-describing
and mergeable across processes with zero pickling.

Wire format: ``pack_state`` writes one envelope, ``b"HHL1" + <u64
raw_len> + <u32 crc32> + an LZ4 frame`` of the raw HHS1 blob
(pyarrow's bundled codec, whose frame carries no content checksum; the
crc32 of the raw blob stands in for it). ``unpack_state`` reads it,
the older zlib envelope ``b"HHZ1" + zlib stream`` and a raw HHS1 blob,
because durable checkpoints and streaming state stores hold the older
forms; those are never written. Serving is bound by unpacking, and
LZ4 inflates several times faster than zlib for ~1.5x the bytes.

Merge contract: ``Sketch.merge`` is the only merge entry point. It
checks the whole state tree first: same type, equal ``IDENTITY``
attributes (dims, seeds, params), and for composites every child too.
Only then does it call ``_merge``, so an incompatible merge raises
``ValueError`` naming the differing field and leaves the receiver's
bytes as they were.

Decode contract: ``from_bytes``/``unpack_state`` accept a state only
if it is whole. A short blob, a bad magic, a header past the end, a
non-object header, an unknown type or missing field, a packed blob
that does not inflate, inflates to another length than it declares or
fails its checksum, or a payload whose length disagrees with its
header raises ``ValueError``. Payloads are cut by ``payload_arrays``,
``unframe`` and ``unpack_i64``, which all check lengths against the
header and work on memoryviews: nothing is copied but the arrays each
type keeps (a decoded table is adopted, not written over a fresh zero
one). Neither contract relies on ``assert``, so both hold under
``python -O``.
"""

from __future__ import annotations

import json
import struct
import zlib
from typing import Any

import numpy as np
import pyarrow as pa

MAGIC = b"HHS1"
WIRE_MAGIC = b"HHL1"  # LZ4 frame around a raw HHS1 blob: the one written form
HHL1_HEAD = struct.Struct("<QI")  # raw length, crc32 of the raw blob
ZLIB_MAGIC = b"HHZ1"  # zlib envelope of older checkpoints: read, never written
# an LZ4 sequence emits at most 255 bytes per input byte, so a frame of
# n bytes cannot inflate past 255 * n; a larger declared length is
# rejected before anything is allocated for it
LZ4_MAX_RATIO = 255

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
    the Spark task body (spark/aggregate.py) hands every sketch the
    task's collapsed rows in ONE update. CM, CS, MG and KLL give equal
    bytes either way (MG and KLL collapse every batch themselves); HLL
    and Bloom ignore multiplicity by set semantics; t-digest keeps its
    error bound.

    ``merge`` is concrete here and nowhere else: it raises ValueError
    on a different type or a differing ``IDENTITY`` attribute of the
    state or of any of its ``_children`` before it touches either
    state, then calls the type's ``_merge``. A composite's ``_merge``
    calls its children's ``_merge``, so one merge checks the whole tree
    once. ``from_bytes`` raises ValueError on any state that
    is not whole."""

    TYPE = "abstract"
    # attributes two states must share to merge (dims, seeds, params)
    IDENTITY: tuple[str, ...] = ()

    # --- updates -----------------------------------------------------
    def update_batch(self, items: np.ndarray, counts: np.ndarray | None = None) -> None:
        raise NotImplementedError

    # --- merge (associative; same seeds required) --------------------
    def merge(self, other: "Sketch") -> "Sketch":
        self._check_mergeable(other)
        return self._merge(other)

    def _check_mergeable(self, other: "Sketch") -> None:
        if type(other) is not type(self):
            raise ValueError(f"cannot merge {type(other).__name__} into {type(self).__name__}")
        for f in self.IDENTITY:
            a, b = getattr(self, f), getattr(other, f)
            if a != b:
                raise ValueError(f"cannot merge {self.TYPE} states with different {f}: {a!r} vs {b!r}")
        for a, b in zip(self._children(), other._children()):
            a._check_mergeable(b)

    def _children(self) -> list["Sketch"]:
        """The child states a composite merges, in a fixed order."""
        return []

    def _merge(self, other: "Sketch") -> "Sketch":
        """Fold ``other`` in; called only after ``_check_mergeable``."""
        raise NotImplementedError

    # --- serde --------------------------------------------------------
    def _header(self) -> dict[str, Any]:
        raise NotImplementedError

    def _payload(self) -> bytes:
        raise NotImplementedError

    @classmethod
    def _from_parts(cls, header: dict[str, Any], payload: memoryview) -> "Sketch":
        raise NotImplementedError

    def to_bytes(self) -> bytes:
        header = dict(self._header())
        header["type"] = self.TYPE
        hj = json.dumps(header, separators=(",", ":")).encode()
        return MAGIC + struct.pack("<I", len(hj)) + hj + self._payload()

    @staticmethod
    def from_bytes(data) -> "Sketch":
        """Decode a raw HHS1 blob (bytes or any buffer). The payload and
        its frames are handed down as memoryviews of ``data``; each type
        copies out only the arrays it keeps."""
        data = memoryview(data).cast("B")  # unsigned bytes, whatever the exporter's format
        if len(data) < 8 or data[:4] != MAGIC:
            raise ValueError("not a sketch state: bad magic or fewer than 8 bytes")
        (hlen,) = struct.unpack_from("<I", data, 4)
        if 8 + hlen > len(data):
            raise ValueError(f"state header of {hlen} bytes runs past the {len(data)}-byte state")
        header = json.loads(bytes(data[8 : 8 + hlen]).decode())  # raises a ValueError subclass
        if not isinstance(header, dict):
            raise ValueError("state header is not a JSON object")
        kind = header.get("type")
        if kind not in _REGISTRY:
            _load_builtin_types()
        if kind not in _REGISTRY:
            raise ValueError(f"unknown sketch type {kind!r}")
        try:
            return _REGISTRY[kind]._from_parts(header, data[8 + hlen :])
        except KeyError as e:
            raise ValueError(f"{kind} state header misses {e}") from None


def pack_state(sk: "Sketch") -> bytes:
    """Wire form of a sketch state for Spark shipping and serving: the
    ``HHL1`` envelope, a checksummed LZ4 frame of the raw HHS1 blob.
    Counter tables are mostly small values, so the six-sketch partial of
    the benchmark packs 1.17 MB into ~0.32 MB, and a fresh template far
    smaller."""
    return pack_state_bytes(sk.to_bytes())


def pack_state_bytes(raw: bytes) -> bytes:
    """pack_state for a caller that already has the raw blob (lets the
    emitter report the RAW size for space accounting while shipping the
    packed form, without serializing twice). The output depends only
    on ``raw``."""
    head = HHL1_HEAD.pack(len(raw), zlib.crc32(raw))
    return WIRE_MAGIC + head + pa.compress(raw, codec="lz4", asbytes=True)


def unpack_state(data) -> "Sketch":
    """Inverse of pack_state; also reads the older ``HHZ1`` zlib envelope
    and raw HHS1 blobs (durable checkpoints, streaming state stores,
    direct to_bytes output), so readers never need to know which form
    they hold."""
    view = memoryview(data).cast("B")
    magic = bytes(view[:4])
    if magic == WIRE_MAGIC:
        view = _inflate_lz4(view[4:])
    elif magic == ZLIB_MAGIC:
        try:
            view = zlib.decompress(view[4:])
        except zlib.error as e:
            raise ValueError(f"packed state does not inflate: {e}") from None
    return Sketch.from_bytes(view)


def _inflate_lz4(body: memoryview):
    """The raw blob of an ``HHL1`` body (u64 length + u32 crc32 + LZ4
    frame); raises ValueError unless the frame inflates to exactly that
    length and checksum."""
    if len(body) < HHL1_HEAD.size:
        raise ValueError(f"packed state of {len(body)} bytes has no {HHL1_HEAD.size}-byte length and checksum")
    n, crc = HHL1_HEAD.unpack_from(body)
    lz4 = body[HHL1_HEAD.size :]
    if n > LZ4_MAX_RATIO * len(lz4):
        raise ValueError(f"packed state declares {n} bytes; its {len(lz4)}-byte frame cannot hold them")
    try:
        # reading one byte past the declared length catches a frame
        # that inflates to more than it declares
        with pa.CompressedInputStream(pa.py_buffer(lz4), "lz4") as stream:
            raw = stream.read(n + 1)
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"packed state does not inflate: {e}") from None
    if len(raw) != n:
        raise ValueError(f"packed state declares {n} bytes but inflates to {len(raw)}")
    if zlib.crc32(raw) != crc:
        raise ValueError("packed state fails its checksum: the blob is corrupt")
    return raw


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


def unframe(data: memoryview, n: int) -> list[memoryview]:
    """Inverse of ``frame`` for the ``n`` blobs a header declares, as
    views of ``data``; raises ValueError unless they cover it exactly."""
    out, off = [], 0
    for _ in range(n):
        end = off + 8
        if end <= len(data):
            end += struct.unpack_from("<Q", data, off)[0]
        if end > len(data):
            raise ValueError(f"frame {len(out)} of {n} runs past the {len(data)}-byte payload")
        out.append(data[off + 8 : end])
        off = end
    if off != len(data):
        raise ValueError(f"payload has {len(data) - off} bytes after its {n} frames")
    return out


def payload_arrays(payload: memoryview, parts) -> list[np.ndarray]:
    """Cut ``payload`` into the arrays its header declares, one per
    ``(dtype, length)`` in ``parts``, as writable copies; raises
    ValueError unless together they cover it exactly."""
    parts = [(np.dtype(dt), int(n)) for dt, n in parts]
    want = sum(dt.itemsize * n for dt, n in parts)
    if want != len(payload) or any(n < 0 for _, n in parts):
        raise ValueError(f"payload is {len(payload)} bytes; its header declares {want}")
    out, off = [], 0
    for dt, n in parts:
        out.append(np.frombuffer(payload, dtype=dt, count=n, offset=off).copy())
        off += dt.itemsize * n
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


def unpack_i64(data: memoryview, n: int) -> np.ndarray:
    """Inverse of ``pack_i64`` for ``n`` values; raises ValueError on
    an unknown width tag or a length that is not ``n`` values wide."""
    tag = data[0] if len(data) else 0
    if tag not in (1, 2, 4, 8) or len(data) != 1 + tag * n:
        raise ValueError(f"{len(data)}-byte packed array is not {n} values at a known width")
    return np.frombuffer(data, dtype=f"<i{tag}", offset=1).astype(np.int64)


def as_u64(items) -> np.ndarray:
    a = np.asarray(items)
    if a.dtype != np.uint64:
        a = a.astype(np.int64).astype(np.uint64)  # tolerate signed inputs
    return a


def collapse(items: np.ndarray, counts: np.ndarray | None) -> tuple[np.ndarray, np.ndarray]:
    """Sorted (unique items, summed counts) of a weighted batch: one
    stable argsort and one ``np.add.reduceat`` over runs of equal items
    (exact in int64, unlike a float-weighted bincount). With ``counts``
    None (one per item), integer items take a plain sort and run
    lengths instead, several times cheaper: equal integers are equal
    bits, so their order cannot show."""
    if counts is None:
        if items.dtype.kind in "iu":
            xs = np.sort(items)
            starts = np.flatnonzero(np.r_[True, xs[1:] != xs[:-1]])
            return xs[starts], np.diff(np.r_[starts, len(xs)])
        counts = np.ones(len(items), dtype=np.int64)
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
