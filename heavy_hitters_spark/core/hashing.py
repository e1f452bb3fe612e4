"""Vectorized (numpy) seeded hash families, semantics-parity with the
reference's ``src/util/hash.c`` / ``hash.h``.

Families (``c`` = universality width factor, hash.h:25):

- ``ms``    multiply-shift, c=1    (hash.c:65-82)    — power-of-2 widths
- ``ms2``   2-wise multiply-shift  (hash.c:95-108)
- ``cw``    Carter-Wegman mod-p    (hash.c:13-28), p = 2^61-1
- ``cwp2``  CW, power-of-2 width   (hash.c:30-42)
- ``cw2``/``cw2p2`` 2-wise CW      (hash.c:123-143)
- ``sign_ms`` / ``sign_cw`` ±1     (hash.h:74-93 / 45-55)

The multiply-shift family (``ms``, ``ms2``, ``sign_ms``) runs in
``np.uint32`` lanes: uint32 arithmetic wraps mod 2^32, which is exactly
hash.c's ``(uint32)`` cast, and ids at or above 2^32 keep their low 32
bits, as ``(uint32)(a*x+b)`` does for a 64-bit ``x``. The Carter-Wegman
family runs in ``np.uint64`` lanes with the mod-p mask. Seeds may be
scalars or ``(d, 1)`` columns; a column broadcasts against the ``n``
ids into a ``d x n`` result. ``M`` is ``floor(log2(w))``
(hash.c:203-205).
"""

from __future__ import annotations

import math

import numpy as np

from .prng import MOD_P, SeedStream

_U64 = np.uint64
_MODP = _U64(MOD_P)


def hash_M(w: int) -> int:
    """M = floor(log2(w)); hash.c:203-205."""
    return int(math.floor(math.log2(w)))


def is_pow2(w: int) -> bool:
    return w > 0 and (w & (w - 1)) == 0


def _u32(v) -> np.ndarray:
    """Ids or seeds as uint32 lanes: the low 32 bits, as C's cast."""
    return np.asarray(v, dtype=_U64).astype(np.uint32)


def ms(x: np.ndarray, w: int, M: int, a, b) -> np.ndarray:  # noqa: ARG001
    """(uint32)(a*x+b) >> (32-M); requires power-of-2 w (hash.c:65-82)."""
    return (_u32(a) * _u32(x) + _u32(b)) >> np.uint32(32 - M)


def ms2(x: np.ndarray, w: int, M: int, a, b) -> np.ndarray:  # noqa: ARG001
    return (_u32(a) * _u32(x)) >> np.uint32(32 - M)


def cw(x: np.ndarray, w: int, M: int, a, b) -> np.ndarray:  # noqa: ARG001
    """((a*x+b) & MOD_P) % w — uint64 wraparound then mask (hash.c:13-28)."""
    r = (_U64(a) * x.astype(_U64) + _U64(b)) & _MODP
    return (r % _U64(w)).astype(np.int64)


def cwp2(x: np.ndarray, w: int, M: int, a, b) -> np.ndarray:  # noqa: ARG001
    r = (_U64(a) * x.astype(_U64) + _U64(b)) & _MODP
    return (r & _U64(w - 1)).astype(np.int64)


def cw2(x: np.ndarray, w: int, M: int, a, b) -> np.ndarray:  # noqa: ARG001
    r = (_U64(a) * x.astype(_U64)) & _MODP
    return (r % _U64(w)).astype(np.int64)


def cw2p2(x: np.ndarray, w: int, M: int, a, b) -> np.ndarray:  # noqa: ARG001
    r = (_U64(a) * x.astype(_U64)) & _MODP
    return (r & _U64(w - 1)).astype(np.int64)


def sign_ms(x: np.ndarray, a, b) -> np.ndarray:
    """+1 if top bit of (uint32)(a*x+b) set, else -1 (hash.h:74-85).
    Branch-free form 2*bit - 1 (np.where + astype(bool) measured ~3x
    slower in the hot Count-Sketch path)."""
    r = (_u32(a) * _u32(x) + _u32(b)) >> np.uint32(31)
    return (r.astype(np.int64) << 1) - 1


def sign_cw(x: np.ndarray, a, b) -> np.ndarray:
    x = x if x.dtype == _U64 else x.astype(_U64)
    r = (_U64(a) * x + _U64(b)) & _MODP
    bit = ((r >> _U64(31)) & _U64(1)).astype(np.int64)
    return (bit << 1) - 1


class HashFamily:
    """Named family: kernel + seed generators + universality factor c."""

    def __init__(self, name: str, fn, agen_name: str, bgen_name: str, c: int):
        self.name = name
        self.fn = fn
        self.agen_name = agen_name
        self.bgen_name = bgen_name
        self.c = c

    def gen_seeds(self, stream: SeedStream, M: int) -> tuple[int, int]:
        a = getattr(stream, self.agen_name)()
        b = getattr(stream, self.bgen_name)(M)
        return a, b

    def __call__(self, x: np.ndarray, w: int, M: int, a, b) -> np.ndarray:
        return self.fn(x, w, M, a, b)

    def __repr__(self) -> str:
        return repr(self.name)


# kernels that cover only 2^M of w columns unless w is a power of 2;
# HashedTable rejects any other width for them at construction
POW2_FAMILIES = {"ms", "ms2", "cwp2", "cw2p2"}


def next_pow_2(v: int) -> int:
    """Smallest power of two >= v (xutil.h:18-27)."""
    return 1 if v <= 1 else 1 << (v - 1).bit_length()


FAMILIES: dict[str, HashFamily] = {
    "ms": HashFamily("ms", ms, "ms_agen", "ms_bgen", 1),
    "ms2": HashFamily("ms2", ms2, "ms2_agen", "ms2_bgen", 2),
    "cw": HashFamily("cw", cw, "cw_agen", "cw_bgen", 1),
    "cwp2": HashFamily("cwp2", cwp2, "cw_agen", "cw_bgen", 1),
    "cw2": HashFamily("cw2", cw2, "cw_agen", "cw2_bgen", 2),
    "cw2p2": HashFamily("cw2p2", cw2p2, "cw_agen", "cw2_bgen", 2),
}


def splitmix64(x: np.ndarray, seed: int = 0) -> np.ndarray:
    """Fast 64-bit mixer (public splitmix64 constants) for HLL / Bloom /
    MinHash / SimHash — vectorized, uint64-wrapping."""
    z = x.astype(_U64) + _U64((seed * 0x9E3779B97F4A7C15 + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
    z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
    return z ^ (z >> _U64(31))
