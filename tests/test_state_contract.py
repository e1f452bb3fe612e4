"""The merge and decode contract every registered sketch type keeps.

- An incompatible merge raises ValueError naming the differing field,
  before any byte of the receiver changes — including a mismatch deep
  in a composite (a late MultiSketch child, a hierarchy's level table,
  ConstSketchHH with a different ``m``).
- A merge across types raises ValueError.
- Merging in an empty state (the template an empty partition emits)
  leaves the receiver's bytes unchanged.
- Every prefix truncation of a state raises ValueError, raw or packed;
  so do a packed blob that does not inflate or inflates to another
  length than it declares, and a malformed header.
- No single-bit flip of a packed state decodes to another state: it
  raises ValueError (the envelope's checksum catches the flips the LZ4
  frame does not) or decodes to the very same bytes.

None of this may rest on ``assert``: the module is run again in a
``python -O`` subprocess, which strips asserts.
"""

from __future__ import annotations

import json
import os
import struct
import subprocess
import sys
import zlib

import numpy as np
import pyarrow as pa
import pytest

from heavy_hitters_spark.core import (
    HLL,
    KLL,
    Bloom,
    CountMin,
    CountSketch,
    MisraGries,
    MultiSketch,
    SeedStream,
    TDigest,
)
from heavy_hitters_spark.core.base import (
    _REGISTRY,
    HHL1_HEAD,
    MAGIC,
    WIRE_MAGIC,
    ZLIB_MAGIC,
    Sketch,
    _load_builtin_types,
    pack_state,
    pack_state_bytes,
    unpack_state,
)
from heavy_hitters_spark.hh import ConstSketchHH, DyadicHH

M = (1 << 12) - 1


def _cm(seed=1):
    return CountMin(width=64, depth=2, seed_stream=SeedStream(seed, 2))


def _dyadic(m=M, seed=1):
    return DyadicHH(
        phi=0.1, epsilon=0.05, delta=0.1, m=m, gran=4, width=64, depth=2,
        seed_stream=SeedStream(seed, 2),
    )


def _const(m=M):
    return ConstSketchHH(phi=0.1, epsilon=0.05, delta=0.1, m=m, gran=4, seed_stream=SeedStream(1, 2))


# one small sketch of each registered type, by TYPE
MAKE = {
    "count_min": _cm,
    "count_sketch": lambda: CountSketch(width=64, depth=3, seed_stream=SeedStream(1, 2)),
    "misra_gries": lambda: MisraGries(k=8),
    "hll": lambda: HLL(p=4),
    "bloom": lambda: Bloom(capacity=50, seed=1),
    "kll": lambda: KLL(k=16),
    "tdigest": lambda: TDigest(compression=20),
    "multi": lambda: MultiSketch({"a": _cm(), "b": HLL(p=4)}),
    "dyadic_hh": _dyadic,
    "const_sketch_hh": _const,
}

# (type, field the error must name, a state of that type that differs in it)
INCOMPATIBLE = [
    ("count_min", "seeds", lambda: _cm(seed=3)),
    ("count_min", "family", lambda: CountMin(width=64, depth=2, hash_family="cw")),
    ("count_sketch", "d", lambda: CountSketch(width=64, depth=5, seed_stream=SeedStream(1, 2))),
    ("misra_gries", "k", lambda: MisraGries(k=16)),
    ("hll", "p", lambda: HLL(p=5)),
    ("bloom", "seed", lambda: Bloom(capacity=50, seed=2)),
    ("kll", "seed", lambda: KLL(k=16, seed=1)),
    ("tdigest", "compression", lambda: TDigest(compression=40)),
    ("multi", "names", lambda: MultiSketch({"a": _cm(), "c": HLL(p=4)})),
    ("multi", "p", lambda: MultiSketch({"a": _cm(), "b": HLL(p=5)})),
    ("dyadic_hh", "m", lambda: _dyadic(m=(1 << 10) - 1)),
    ("dyadic_hh", "seeds", lambda: _dyadic(seed=3)),
    ("const_sketch_hh", "m", lambda: _const(m=(1 << 10) - 1)),
]


def _filled(sk: Sketch, seed: int = 0) -> Sketch:
    rng = np.random.default_rng(seed)
    ids = (rng.zipf(1.3, 400) % 1024).astype(np.uint64)  # inside every m used here
    sk.update_batch(ids, rng.integers(1, 5, len(ids)))
    return sk


def test_cases_cover_every_registered_type():
    _load_builtin_types()
    assert set(MAKE) == set(_REGISTRY)
    assert {t for t, _, _ in INCOMPATIBLE} == set(_REGISTRY)


@pytest.mark.parametrize(
    "kind,field,make_other", INCOMPATIBLE, ids=[f"{t}-{f}" for t, f, _ in INCOMPATIBLE]
)
def test_incompatible_merge_raises_before_mutation(kind, field, make_other):
    recv = _filled(MAKE[kind]())
    before = recv.to_bytes()
    # the message is checked by a plain assert: pytest.raises(match=)
    # checks with an assert of its own, which -O strips
    with pytest.raises(ValueError) as err:
        recv.merge(_filled(make_other(), seed=1))
    assert f"different {field}:" in str(err.value)
    assert recv.to_bytes() == before
    # the receiver still merges a compatible state afterwards
    recv.merge(_filled(MAKE[kind](), seed=1))


@pytest.mark.parametrize("kind", sorted(MAKE))
def test_cross_type_merge_raises(kind):
    recv = _filled(MAKE[kind]())
    before = recv.to_bytes()
    for other in sorted(MAKE):
        if other != kind:
            with pytest.raises(ValueError) as err:
                recv.merge(_filled(MAKE[other]()))
            assert "cannot merge" in str(err.value)
    assert recv.to_bytes() == before


@pytest.mark.parametrize("kind", sorted(MAKE))
def test_merging_an_empty_state_changes_nothing(kind):
    """Every empty partition emits the template, and serving starts
    from an empty template, so an empty state is the merge identity on
    either side: the merged bytes are the filled state's."""
    recv = _filled(MAKE[kind]())
    before = recv.to_bytes()
    recv.merge(MAKE[kind]())
    assert recv.to_bytes() == before
    empty = MAKE[kind]()
    empty.merge(_filled(MAKE[kind]()))
    assert empty.to_bytes() == before


@pytest.mark.parametrize("kind", sorted(MAKE))
def test_every_truncation_raises(kind):
    sk = _filled(MAKE[kind]())
    raw = sk.to_bytes()
    assert Sketch.from_bytes(raw).to_bytes() == raw
    assert unpack_state(pack_state(sk)).to_bytes() == raw
    assert pack_state(sk)[:4] == b"HHL1"  # the truncations below cut the written envelope
    accepted = []
    for i in range(len(raw)):
        for decode in (Sketch.from_bytes, lambda b: unpack_state(pack_state_bytes(b))):
            try:
                decode(raw[:i])
            except ValueError:
                continue
            accepted.append(i)
    packed = pack_state(sk)
    for i in range(len(packed)):
        try:
            unpack_state(packed[:i])
        except ValueError:
            continue
        accepted.append(("packed", i))
    assert accepted == []


@pytest.mark.parametrize("kind", sorted(MAKE))
def test_no_bit_flip_decodes_to_another_state(kind):
    sk = _filled(MAKE[kind]())
    raw, packed = sk.to_bytes(), pack_state(sk)
    other = []
    for bit in range(8 * len(packed)):
        try:
            if unpack_state(_with_flipped_bit(packed, bit)).to_bytes() != raw:
                other.append(bit)
        except ValueError:
            pass
    assert other == []


def _with_flipped_bit(data: bytes, bit: int) -> bytes:
    b = bytearray(data)
    b[bit // 8] ^= 1 << (bit % 8)
    return bytes(b)


def _flip_only_the_checksum_sees(packed: bytes) -> bytes:
    """``packed`` with the first single-bit flip of its LZ4 frame that
    still inflates to a whole state of the declared length, but another
    one: only the checksum tells it from the state that was packed."""
    n, crc = HHL1_HEAD.unpack_from(packed, 4)
    start = 4 + HHL1_HEAD.size
    for bit in range(8 * start, 8 * len(packed)):
        flipped = _with_flipped_bit(packed, bit)
        try:
            with pa.CompressedInputStream(pa.py_buffer(flipped[start:]), "lz4") as stream:
                raw = stream.read(n + 1)
        except (OSError, pa.ArrowException):
            continue
        if len(raw) != n or zlib.crc32(raw) == crc:
            continue
        try:
            Sketch.from_bytes(raw)
        except ValueError:
            continue
        return flipped
    raise AssertionError("every flip of the frame is caught without the checksum")


def _blob(header, payload: bytes = b"") -> bytes:
    hj = header if isinstance(header, bytes) else json.dumps(header).encode()
    return MAGIC + struct.pack("<I", len(hj)) + hj + payload


def _with_width_tag(raw: bytes, tag: int) -> bytes:
    (hlen,) = struct.unpack_from("<I", raw, 4)
    return raw[: 8 + hlen] + bytes([tag]) + raw[9 + hlen :]


def _with_declared_length(packed: bytes, delta: int) -> bytes:
    """An HHL1 blob whose valid LZ4 frame sits under a declared raw
    length ``delta`` bytes off the true one."""
    (n,) = struct.unpack_from("<Q", packed, 4)
    return WIRE_MAGIC + struct.pack("<Q", n + delta) + packed[12:]


_PACKED_HLL = pack_state(_filled(HLL(p=4)))


@pytest.mark.parametrize(
    "data",
    [
        ZLIB_MAGIC + b"not a zlib stream",
        ZLIB_MAGIC,
        WIRE_MAGIC + HHL1_HEAD.pack(64, 0) + b"not an lz4 frame",
        WIRE_MAGIC,
        WIRE_MAGIC + b"\x10\0\0",
        WIRE_MAGIC + struct.pack("<Q", 64) + b"\0\0",  # a length but half a checksum
        _with_declared_length(_PACKED_HLL, 1),
        _with_declared_length(_PACKED_HLL, -1),
        _with_declared_length(_PACKED_HLL, 1 << 62),  # refused before it is allocated
        _flip_only_the_checksum_sees(_PACKED_HLL),
        _blob(b"{not json"),
        _blob([1, 2]),
        _blob({"type": "no_such_sketch"}),
        _blob({"type": "hll", "seed": 1}),  # no "p"
        _filled(HLL(p=4)).to_bytes() + b"\0",  # trailing byte
        _with_width_tag(_filled(_cm()).to_bytes(), 3),
    ],
    ids=["hhz1-garbage", "hhz1-empty", "hhl1-garbage", "hhl1-empty", "hhl1-short-length",
         "hhl1-short-checksum", "hhl1-length-mismatch-long", "hhl1-length-mismatch-short",
         "hhl1-huge-length", "hhl1-bit-flip",
         "bad-json", "non-object",
         "unknown-type", "missing-field", "trailing-byte", "bad-width-tag"],
)
def test_malformed_state_raises(data):
    with pytest.raises(ValueError):
        unpack_state(data)


@pytest.mark.parametrize("delta", [1, -1], ids=["long", "short"])
def test_hhl1_length_mismatch_is_named(delta):
    """The declared length itself is checked, not left to the decoder
    to trip over the bytes it leaves."""
    with pytest.raises(ValueError) as err:
        unpack_state(_with_declared_length(_PACKED_HLL, delta))
    assert "inflates to" in str(err.value)


def test_contract_holds_under_python_O():
    """Re-runs this module with asserts stripped."""
    if sys.flags.optimize:
        pytest.skip("already running under -O")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-O", "-m", "pytest", "-q", "-p", "no:cacheprovider",
         os.path.abspath(__file__), "-k", "not python_O"],
        env=dict(os.environ, PYTHONPATH=root), cwd=root, capture_output=True, text=True,
    )
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-3000:]
