"""Pins the serialized state bytes of every sketch type.

Durable checkpoints and streaming state stores hold ``to_bytes()``
output, so a refactor that changes a header key order, a seed draw, a
scatter rule or the level framing would strand every stored state. Each
sketch here is built from one seeded stream — a dense unweighted part,
a sparse part and a weighted part — as two partial states that are then
merged, and the merged bytes are checked against a recorded sha256.
"""

from __future__ import annotations

import hashlib

import numpy as np
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
from heavy_hitters_spark.core.base import Sketch
from heavy_hitters_spark.hh import ConstSketchHH, DyadicHH

M = (1 << 20) - 1


def _dyadic(**kw):
    return DyadicHH(phi=0.01, epsilon=0.005, delta=0.05, m=M, seed_stream=SeedStream(7, 8), **kw)


FACTORIES = {
    "count_min": lambda: CountMin(width=1 << 10, depth=4, seed_stream=SeedStream(7, 8)),
    "count_min_conservative": lambda: CountMin(
        width=1 << 10, depth=4, conservative=True, seed_stream=SeedStream(7, 8)
    ),
    "count_min_cw": lambda: CountMin(
        epsilon=0.01, delta=0.01, hash_family="cw", seed_stream=SeedStream(7, 8)
    ),
    "count_sketch": lambda: CountSketch(width=1 << 10, depth=5, seed_stream=SeedStream(7, 8)),
    "dyadic_gran8": lambda: _dyadic(gran=8),
    "dyadic_gran1": lambda: _dyadic(gran=1),
    "dyadic_count_sketch": lambda: _dyadic(
        gran=8, sketch_type="count_sketch", width=1 << 12, depth=5
    ),
    "const_sketch_hh": lambda: ConstSketchHH(
        phi=0.01, epsilon=0.005, delta=0.05, m=M, gran=8, seed_stream=SeedStream(7, 8)
    ),
    "multi": lambda: MultiSketch(
        {
            "cm": CountMin(width=1 << 10, depth=4, seed_stream=SeedStream(7, 8)),
            "hll": HLL(p=10),
            "hh": _dyadic(gran=8),
        }
    ),
    "kll": lambda: KLL(k=200, seed=7),
    "misra_gries": lambda: MisraGries(k=256),
    "hll": lambda: HLL(p=10, seed=7),
    "bloom": lambda: Bloom(capacity=20_000, fpp=0.01, seed=7),
    "tdigest": lambda: TDigest(compression=100.0),
}

PINNED = {
    "count_min": "2f0609bcc3119d3a7ac489df2728ff91245736c8ce876f5ab4fc8744ebfdfd86",
    "count_min_conservative": "8e755695e55bedefa27f850ff8d7a531158dd81c0ff218cf0a973ae4ee0b65a1",
    "count_min_cw": "a4cdc11f6199bad2534a2e646834fba82220c1cbc01c3b96c66707cdfb44acc2",
    "count_sketch": "c179720881330194234d50119609dc04bae9d0d3ceb222303026db12f0c3eef4",
    "dyadic_gran8": "67c4bb7a5b4f05ca1e4d01a92a0931101edd7f381b2e1a2ce8b91280ae6899f0",
    "dyadic_gran1": "fc3859b303b87cb971035742abb97f4742cd1db63cd8e19bdf310a2c24380381",
    "dyadic_count_sketch": "0297b46a5dd4bb4e936a295c7a91b637818d3ec175f1dd8a7b469ea2d0a3102e",
    "const_sketch_hh": "34bfb2b00aa2d2aea3ae1b18bee99ba7a16f4ecee1c8622dd3fa825c12ee46fe",
    "multi": "cac99cb2e29f272f66406fb4a4bb03e3569b672271cd549c037ca36e62bc34c8",
    "kll": "40f2a5a159b54e76418687321233e18fc56fbda34fd1d9c0fdc967d7605488f7",
    "misra_gries": "f27646f8c3a113d95f45a7e66c7436904da596a236750003bde53b17ec7bbef1",
    "hll": "b198a70984284f1416d24e6c631332cf50f6204622bb6c6eac0f896929ac5686",
    "bloom": "54dea83fc60194c26eeaa284676c352294887bf0c55997524da1ca80a9ac864f",
    "tdigest": "cf7d0d92e36621e7910f651995cadb8cc9c173061102a8410b16007b0115db6c",
}


def _stream():
    """(dense unweighted ids, sparse ids, weighted ids, their weights).
    The dense part spans two update chunks and takes the bincount
    scatter; the sparse and weighted parts take ``np.add.at``."""
    rng = np.random.default_rng(20240607)
    dense = (rng.zipf(1.3, 50000) % (M + 1)).astype(np.uint64)
    sparse = rng.integers(0, M + 1, 300, dtype=np.uint64)
    weighted = (rng.zipf(1.5, 2000) % (M + 1)).astype(np.uint64)
    weights = rng.integers(1, 9, len(weighted)).astype(np.int64)
    return dense, sparse, weighted, weights


def _merged(name: str) -> Sketch:
    dense, sparse, weighted, weights = _stream()
    a, b = FACTORIES[name](), FACTORIES[name]()
    a.update_batch(dense)
    b.update_batch(sparse)
    b.update_batch(weighted, weights)
    return a.merge(b)


@pytest.mark.parametrize("name", list(FACTORIES))
def test_state_bytes_pinned(name):
    raw = _merged(name).to_bytes()
    assert hashlib.sha256(raw).hexdigest() == PINNED[name], name
    assert Sketch.from_bytes(raw).to_bytes() == raw
