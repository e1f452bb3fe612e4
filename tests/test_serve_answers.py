"""Pins the answers the serve read paths give.

The read side of every counter sketch — point estimates, phi-heavy
hitter queries, dyadic range counts, range sums, the Count-Sketch
single-row estimate and L2 norm, and the Misra-Gries candidate list —
is a pure function of the state. A change that speeds up a read path
must give the same answers, so each configuration here is built from
one seeded stream, asked a fixed set of seeded reads, and the sha256 of
its answers is checked against a recorded value (as
``tests/test_wire_format.py`` does for the state bytes).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from heavy_hitters_spark.core import CountMin, CountSketch, MisraGries, SeedStream
from heavy_hitters_spark.hh import ConstSketchHH, DyadicHH

PHIS = (0.01, 0.02, 0.05)
N_RANGES = 30


def _dyadic(gran, **kw):
    return DyadicHH(phi=0.01, epsilon=0.005, delta=0.05, gran=gran, seed_stream=SeedStream(7, 8), **kw)


def _const(gran):
    return ConstSketchHH(phi=0.01, epsilon=0.005, delta=0.05, gran=gran, seed_stream=SeedStream(7, 8))


TABLES = {
    "cm": lambda: CountMin(width=1 << 10, depth=4, seed_stream=SeedStream(7, 8)),
    "cm_conservative": lambda: CountMin(
        width=1 << 10, depth=4, conservative=True, seed_stream=SeedStream(7, 8)
    ),
    "cm_cw": lambda: CountMin(epsilon=0.01, delta=0.01, hash_family="cw", seed_stream=SeedStream(7, 8)),
    "cm_ms2": lambda: CountMin(width=1 << 10, depth=4, hash_family="ms2", seed_stream=SeedStream(7, 8)),
    "cm_published": lambda: CountMin(
        epsilon=0.01, delta=0.01, parameterization="published", seed_stream=SeedStream(7, 8)
    ),
    "cs_fixed": lambda: CountSketch(width=1 << 10, depth=5, seed_stream=SeedStream(7, 8)),
    "cs_derived": lambda: CountSketch(epsilon=0.05, delta=0.05, seed_stream=SeedStream(7, 8)),
}

HIERARCHIES = {
    **{f"dyadic_cm_gran{g}": (lambda g=g: _dyadic(g)) for g in (1, 4, 8, 16)},
    **{f"dyadic_conservative_gran{g}": (lambda g=g: _dyadic(g, conservative=True)) for g in (1, 4, 8, 16)},
    **{
        f"dyadic_cs_gran{g}": (lambda g=g: _dyadic(g, sketch_type="count_sketch", width=1 << 12, depth=5))
        for g in (1, 4, 8, 16)
    },
    "const_gran4": lambda: _const(4),
    "const_gran8": lambda: _const(8),
}

PINNED = {
    "cm": "ff26e007b0b182bf5613c9fef6c3569bcaf4b81e9bbb6261d60c1d1adbe21489",
    "cm_conservative": "87ad917d16720efbd734e6444b38b0dd1ae4cb203da235d7506ec2673832dcf9",
    "cm_cw": "699cfe9bfc6e1b7c7ec6d9914232395d930799f4c8cdaef689336b5158bec07c",
    "cm_ms2": "aa04c86357a123c0a70e7bcaeb9f1eaef2feb8f6bf8442eaa5e166a3000ad05e",
    "cm_published": "8de82d00053163d55e8a14d283b7edc58105e3584f931e480fa70f75d5115f03",
    "cs_fixed": "a1d27d8bdbf21b3eac75c257abcb88c0e70a6640c156a06114bd97e899e11e5f",
    "cs_derived": "e21d36ac1b9aacd1b1914a26df44eeacf2232bbf707332b3825ff24612086c66",
    "dyadic_cm_gran1": "28d10c9945ae1805690529321807eef983d48f8e2e1a224276140b680f5aa144",
    "dyadic_cm_gran4": "58690275807c434070e5edeb57011d44a36dcd32315f97b371e1cf631345193b",
    "dyadic_cm_gran8": "06c35174f0b49822418aac9a32b4ab47a66c47e6ffdc7d5858616d93b90e36db",
    "dyadic_cm_gran16": "ce23dabb8525f7bfa09c33a3140dc7736dd0a848c8dcbb5ccc3ee804238b0255",
    "dyadic_conservative_gran1": "fd48a89ed7d5dd59f3bad5781475ab5d246afb756011b6db9765ecd808b971cd",
    "dyadic_conservative_gran4": "db0655d4d41afbdacc0a539323d6bbfa3ded704f8d4ea09b2c30f991c3e8ea0b",
    "dyadic_conservative_gran8": "86eb249533ffe9455ded1696950a7122264549fbe5e670be581808901e8ec372",
    "dyadic_conservative_gran16": "303ef5c61ccfac90ac836cf4465574ae41332318486b17a5b5b551e6f19732d0",
    "dyadic_cs_gran1": "2c76824facb61584636f03e118d15675647946662b8cadd5deca2322c6bc2a30",
    "dyadic_cs_gran4": "a09e5f407eaa7aec47c37b20aeff555134d0471fde0aa229c947295153151a9d",
    "dyadic_cs_gran8": "9ac7a261e159dfe53f88e3f1eab368decdd3d743a0c01943f39bf3f3142da27e",
    "dyadic_cs_gran16": "40a929b18643b7a09223fe1b6e2dfa908782cc5b0c4172accbe1130c52214847",
    "const_gran4": "ec788f041d460429874f1d69269b05f867ab441ef1a6281bdf7df33fa0ff34c1",
    "const_gran8": "ec788f041d460429874f1d69269b05f867ab441ef1a6281bdf7df33fa0ff34c1",
    "misra_gries": "6b30881014e3cd6ed0f4555140f4c9f5a77258fc7475a8ec7671510ecfd94644",
}


def _stream():
    """(unweighted ids, weighted ids, their weights): Zipf ranks spread
    over the 32-bit universe by an odd multiplier, so heavy items fall
    under distinct top-level prefixes."""
    rng = np.random.default_rng(20240611)

    def spread(ranks):
        return (ranks.astype(np.uint64) * np.uint64(0x9E3779B1)) & np.uint64(0xFFFFFFFF)

    ids = spread(rng.zipf(1.2, 60000))
    weighted = spread(rng.zipf(1.4, 3000))
    weights = rng.integers(1, 9, len(weighted)).astype(np.int64)
    return ids, weighted, weights


def _built(factory):
    ids, weighted, weights = _stream()
    sk = factory()
    sk.update_batch(ids)
    sk.update_batch(weighted, weights)
    return sk


def _probes() -> np.ndarray:
    """500 hot ids of the stream and 500 random 32-bit ids."""
    ids, _, _ = _stream()
    rng = np.random.default_rng(99)
    uniq, cnt = np.unique(ids, return_counts=True)
    hot = uniq[np.argsort(-cnt, kind="stable")[:100]]
    return np.concatenate([rng.choice(hot, 500), rng.integers(0, 1 << 32, 500, dtype=np.uint64)])


def _ranges(m: int) -> list[tuple[int, int]]:
    rng = np.random.default_rng(31)
    out = []
    for _ in range(N_RANGES):
        lo = int(rng.integers(0, m))
        out.append((lo, min(m, lo + int(rng.integers(1, 1 << 28)))))
    return out


def _digest(answers) -> str:
    def canon(a):
        if isinstance(a, np.ndarray):
            return a.tolist()
        if isinstance(a, (list, tuple)):
            return [canon(v) for v in a]
        return a

    return hashlib.sha256(repr(canon(answers)).encode()).hexdigest()


def _table_answers(sk) -> list:
    out = [sk.point(_probes()), sk.range_sum(1000, 6000)]
    if isinstance(sk, CountSketch):
        out += [sk.point_partial(_probes(), row=2), sk.l2_norm()]
    return out


def _hierarchy_answers(hh) -> list:
    out = [hh.point(_probes()), *(hh.query(phi) for phi in PHIS)]
    if isinstance(hh, DyadicHH):
        out += [hh.range_count(lo, hi) for lo, hi in _ranges(hh.m)]
    return out


@pytest.mark.parametrize("name", list(TABLES))
def test_table_answers_pinned(name):
    assert _digest(_table_answers(_built(TABLES[name]))) == PINNED[name], name


@pytest.mark.parametrize("name", list(HIERARCHIES))
def test_hierarchy_answers_pinned(name):
    assert _digest(_hierarchy_answers(_built(HIERARCHIES[name]))) == PINNED[name], name


def test_misra_gries_candidates_pinned():
    assert _digest(_built(lambda: MisraGries(k=256)).candidates()) == PINNED["misra_gries"]
