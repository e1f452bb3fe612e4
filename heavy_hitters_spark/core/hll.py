"""HyperLogLog cardinality sketch (dense, 2^p registers), from scratch.

Not in the reference (added per BASELINE.json north_rule); follows the
published Flajolet et al. 2007 algorithm with the standard small-range
(linear counting) correction. 64-bit hashing (splitmix64) removes the
need for the large-range correction. Relative standard error is
~1.04/sqrt(2^p).

Merge = elementwise register max — a lattice join, hence exactly
merge-order-invariant (byte-identical under any merge tree).
"""

from __future__ import annotations

import math

import numpy as np

from .base import Sketch, as_u64, chunked_update, payload_arrays, register
from .hashing import splitmix64

_U64 = np.uint64


def _bit_length64(w: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for uint64 (0 -> 0)."""
    bl = np.zeros(w.shape, dtype=np.int64)
    w = w.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        mask = w >= (_U64(1) << _U64(shift))
        bl[mask] += shift
        w[mask] >>= _U64(shift)
    bl[w > 0] += 1
    return bl


# leading-zero count of the TOP 16 bits (one LUT gather instead of the
# 6-pass masked bit_length loop, which was ~80% of the HLL kernel); the
# top 16 bits of a 64-bit hash are zero with prob 2^-16, and only those
# rare rows take the exact loop fallback
_CLZ16 = (16 - _bit_length64(np.arange(65536, dtype=np.uint64))).astype(np.uint8)


def _rank64(w: np.ndarray) -> np.ndarray:
    """rank = leading zeros of w (64-bit) + 1, exact."""
    clz = _CLZ16[(w >> _U64(48)).astype(np.int64)]
    rank = clz + np.uint8(1)
    rare = np.flatnonzero(clz == 16)
    if len(rare):
        rank[rare] = (64 - _bit_length64(w[rare]) + 1).astype(np.uint8)
    return rank


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


@register
class HLL(Sketch):
    TYPE = "hll"
    IDENTITY = ("p", "seed")

    def __init__(self, p: int = 14, seed: int = 0xC0FFEE) -> None:
        if not 4 <= p <= 18:
            raise ValueError(f"HLL precision p={p} is outside [4, 18]")
        self.p = int(p)
        self.m = 1 << self.p
        self.seed = int(seed)
        self.registers = np.zeros(self.m, dtype=np.uint8)

    def update_batch(self, items, counts=None) -> None:  # noqa: ARG002 (weights irrelevant)
        chunked_update(self._update_chunk, as_u64(items), None)

    def _update_chunk(self, items, counts=None) -> None:  # noqa: ARG002
        h = splitmix64(as_u64(items), self.seed)
        idx = (h >> _U64(64 - self.p)).astype(np.int64)
        w = (h << _U64(self.p)) & _U64(0xFFFFFFFFFFFFFFFF)
        rank = _rank64(w)  # leading zeros + 1
        np.maximum.at(self.registers, idx, rank)

    def estimate(self) -> float:
        regs = self.registers.astype(np.float64)
        est = _alpha(self.m) * self.m * self.m / np.sum(np.exp2(-regs))
        if est <= 2.5 * self.m:
            zeros = int(np.count_nonzero(self.registers == 0))
            if zeros:
                est = self.m * math.log(self.m / zeros)
        return float(est)

    def rel_std_error(self) -> float:
        return 1.04 / math.sqrt(self.m)

    def _merge(self, other: "HLL") -> "HLL":
        np.maximum(self.registers, other.registers, out=self.registers)
        return self

    def _header(self):
        return {"p": self.p, "seed": self.seed}

    def _payload(self) -> bytes:
        return self.registers.tobytes()

    @classmethod
    def _from_parts(cls, header, payload) -> "HLL":
        s = cls(p=header["p"], seed=header["seed"])
        (s.registers,) = payload_arrays(payload, [(np.uint8, s.m)])
        return s
