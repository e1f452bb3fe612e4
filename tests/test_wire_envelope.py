"""The wire envelope: what ``pack_state`` writes and what
``unpack_state`` still reads.

- ``pack_state`` writes the ``HHL1`` envelope (an LZ4 frame), and the
  same state always packs to the same bytes, in this process and in a
  fresh one; folds and set-up checks compare packed states byte for
  byte.
- ``HHZ1`` (zlib) blobs written by earlier versions still decode to the
  states they held: the two below were recorded with the zlib writer,
  and the sha256 of their decoded ``to_bytes()`` is pinned.
- A fold over a mix of ``HHZ1``, ``HHL1`` and raw ``HHS1`` partials, as a
  resumed checkpoint directory holds, equals the fold over all-``HHL1``
  partials byte for byte.
"""

from __future__ import annotations

import base64
import hashlib
import os
import subprocess
import sys
import zlib

import numpy as np
import pytest

from heavy_hitters_spark.core import HLL, KLL, CountMin, CountSketch, MisraGries, MultiSketch, SeedStream
from heavy_hitters_spark.core.base import ZLIB_MAGIC, merge_all, pack_state, pack_state_bytes, unpack_state
from heavy_hitters_spark.hh import DyadicHH

# (base64 HHZ1 blob, sha256 of the decoded state's to_bytes()); built as
#   ids = (np.arange(300, dtype=np.uint64) * 7919) % 97
#   count_min: CountMin(width=64, depth=2, seed_stream=SeedStream(1, 2)),
#              update_batch(ids)
#   multi: MultiSketch({"cm": CountMin(width=32, depth=2,
#              seed_stream=SeedStream(3, 4)), "mg": MisraGries(k=8)}),
#              update_batch(ids, ids % 5 + 1)
HHZ1_PINS = {
    "count_min": (
        "SEhaMXgBTYpBasMwEEUnOEjEvcWsRZHHqSzrBNlnaUxxGwUMthwiNyWE3qfHzMjuoiD9mTfvHw7H"
        "4hcAHviNzuwVntCRwo8l/SX2wxTQ6VetC3Z+mLuFGM7d2A93dDhGVBi9P0V0TUN7Ilua0paqqE1l"
        "a9KtashWhqimqlameKu01dS2CsN0HdGVWiv8nEL011s39zeP7twN0Suc7xcGdl9hfh/7gD+bfAcC"
        "dvxSvIBMKDiWmf9zrHOQqbi6VMglbDMhRCYFD5nWLRNAtgIfeFtdOv4Bd9KNP8ATJmIzVA==",
        "af08b50ea46f370b3f0d7b972dd84c7976106f7b51d57caa7e84b7c674a7e057",
    ),
    "multi": (
        "SEhaMXgBdVBRS8MwED5BH3ydL4JY2DEcSpBknV0bBUERqw8i+CRjjNplI9iko8kmo+z/+Pf8B17H"
        "GPjghdx3xyX3fXdp+iY6AFCjzYxyKIeYG2RoZjhi6FdzhRLNovAa1z/0rrGU/nwT1viFMuwxnKAk"
        "/7Hxau50UVqU/JJzQTVV+GyTUTLNjC5WTUdHHE6pScM47CWDsN/noUiYEDEf9HgSjdgwjKMwossE"
        "50lMZzAiTbasDMo4Ica8tE5Vy8zrJcmcZoVTO815ubB+bLTF9d49wCs8AjxAAvAMdwC38ATwAilc"
        "N/H+ReusE5x2g3bQRK3zTvu4e9IOGEWHNKhvpiZrBr8hrPGTFPyRMlF5pYyyHqW4ogotZifFaFdl"
        "41mlab/ro00ngGiL71s8+Ad/AasQWo8=",
        "54c49204afc3ecddf0cade9416a5075337239cd375e2fad2058a91fa602038c1",
    ),
}


@pytest.mark.parametrize("name", sorted(HHZ1_PINS))
def test_hhz1_blob_still_decodes(name):
    b64, digest = HHZ1_PINS[name]
    blob = base64.b64decode(b64)
    assert blob[:4] == ZLIB_MAGIC
    sk = unpack_state(blob)
    assert hashlib.sha256(sk.to_bytes()).hexdigest() == digest
    # re-packed, it travels in the written envelope and keeps its bytes
    assert unpack_state(pack_state(sk)).to_bytes() == sk.to_bytes()


def _template():
    return MultiSketch(
        {
            "cm": CountMin(width=1 << 10, depth=4, seed_stream=SeedStream(7, 8)),
            "cs": CountSketch(width=1 << 9, depth=3, seed_stream=SeedStream(7, 8)),
            "mg": MisraGries(k=64),
            "hll": HLL(p=10, seed=7),
            "kll": KLL(k=200, seed=7),
            "hh": DyadicHH(phi=0.01, epsilon=0.005, m=(1 << 20) - 1, gran=4, seed_stream=SeedStream(7, 8)),
        }
    )


def _partials(n: int) -> list[bytes]:
    """Raw HHS1 blobs of ``n`` partial states over seeded Zipf ids."""
    rng = np.random.default_rng(11)
    out = []
    for _ in range(n):
        sk = _template()
        sk.update_batch((rng.zipf(1.2, 5000) % (1 << 20)).astype(np.uint64), rng.integers(1, 4, 5000))
        out.append(sk.to_bytes())
    return out


def test_mixed_envelope_fold_equals_hhl1_fold():
    raws = _partials(6)
    writers = [lambda r: ZLIB_MAGIC + zlib.compress(r, 1), pack_state_bytes, bytes]
    mixed = [writers[i % 3](r) for i, r in enumerate(raws)]
    assert [b[:4] for b in mixed] == [b"HHZ1", b"HHL1", b"HHS1"] * 2
    want = merge_all([unpack_state(pack_state_bytes(r)) for r in raws]).to_bytes()
    assert merge_all([unpack_state(b) for b in mixed]).to_bytes() == want


_PACK_DIGEST = """
import hashlib, sys
sys.path.insert(0, {root!r})
from tests.test_wire_envelope import _partials
from heavy_hitters_spark.core.base import pack_state_bytes
print(hashlib.sha256(pack_state_bytes(_partials(1)[0])).hexdigest())
"""


def test_pack_state_is_deterministic():
    raw = _partials(1)[0]
    sk = unpack_state(raw)
    first, second = pack_state(sk), pack_state(sk)
    assert first[:4] == b"HHL1"
    assert first == second == pack_state_bytes(raw)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _PACK_DIGEST.format(root=root)],
        cwd=root, capture_output=True, text=True,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip() == hashlib.sha256(first).hexdigest()
