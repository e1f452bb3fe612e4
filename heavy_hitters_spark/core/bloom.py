"""Bloom filter (packed bits, double hashing), from scratch.

Not in the reference (added per BASELINE.json north_rule); standard
published construction: ``n_bits`` bit array, ``k`` index functions via
Kirsch-Mitzenmacher double hashing ``h1 + i*h2``. For capacity n and
false-positive rate fpp: ``n_bits = -n ln(fpp) / ln(2)^2``,
``k = (n_bits/n) ln 2``.

Merge = bitwise OR — lattice join, exactly merge-order-invariant.
"""

from __future__ import annotations

import math

import numpy as np

from .base import Sketch, as_u64, chunked_update, payload_arrays, register
from .hashing import splitmix64

_U64 = np.uint64


@register
class Bloom(Sketch):
    TYPE = "bloom"
    IDENTITY = ("n_bits", "k", "seed")

    def __init__(
        self,
        capacity: int = 1_000_000,
        fpp: float = 0.01,
        n_bits: int | None = None,
        k: int | None = None,
        seed: int = 0xB100F,
    ) -> None:
        if n_bits is None:
            n_bits = int(math.ceil(-capacity * math.log(fpp) / (math.log(2) ** 2)))
        if k is None:
            k = max(1, int(round(n_bits / max(capacity, 1) * math.log(2))))
        # round bits up to a byte boundary
        n_bits = (n_bits + 7) // 8 * 8
        self.n_bits = int(n_bits)
        self.k = int(k)
        self.seed = int(seed)
        self.bits = np.zeros(self.n_bits // 8, dtype=np.uint8)

    def _indices(self, items: np.ndarray) -> np.ndarray:
        """k x n matrix of bit indices (double hashing)."""
        h1 = splitmix64(items, self.seed)
        h2 = splitmix64(items, self.seed + 1) | _U64(1)
        ks = np.arange(self.k, dtype=np.uint64)[:, None]
        return ((h1[None, :] + ks * h2[None, :]) % _U64(self.n_bits)).astype(np.int64)

    def update_batch(self, items, counts=None) -> None:  # noqa: ARG002
        chunked_update(self._update_chunk, as_u64(items), None)

    def _update_chunk(self, items, counts=None) -> None:  # noqa: ARG002
        idx = self._indices(as_u64(items)).ravel()
        np.bitwise_or.at(self.bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))

    def contains(self, items) -> np.ndarray:
        x = as_u64(np.atleast_1d(np.asarray(items)))
        idx = self._indices(x)
        hit = (self.bits[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
        return hit.all(axis=0)

    def fill_ratio(self) -> float:
        return float(np.unpackbits(self.bits).mean())

    def _merge(self, other: "Bloom") -> "Bloom":
        np.bitwise_or(self.bits, other.bits, out=self.bits)
        return self

    def _header(self):
        return {"n_bits": self.n_bits, "k": self.k, "seed": self.seed}

    def _payload(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def _from_parts(cls, header, payload) -> "Bloom":
        s = cls(n_bits=header["n_bits"], k=header["k"], seed=header["seed"], capacity=1)
        (s.bits,) = payload_arrays(payload, [(np.uint8, s.n_bits // 8)])
        return s
