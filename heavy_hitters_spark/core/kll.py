"""KLL quantile sketch, from scratch per the published algorithm
(Karnin-Lang-Liberty 2016: "Optimal Quantile Approximation in Streams").

Not in the reference (added per BASELINE.json north_rule). Compactor
hierarchy with geometrically-decaying capacities (c = 2/3); level h
items carry weight 2^h. Coin flips come from a deterministic counter
PRNG (splitmix64), so a fixed op order reproduces exactly; merge is
bound-preserving under any merge tree but not byte-identical
(SURVEY.md §7 hard parts — tests assert rank-error bounds, not bytes).

Updates are weighted, as in Apache DataSketches'
``KllSketch.update(item, weight)``: a batch is collapsed to sorted
(value, count) pairs and each value is inserted at every level h where
bit h of its count is set, so it enters with exactly its weight. The
insertion itself is exact; only the later compactions add rank error.
An unweighted batch is the same batch with unit counts, so feeding raw
items or their pre-aggregated (unique, count) form gives equal bytes.
State is numpy float64 arrays end to end.

Rank error: |est_rank - true_rank| <= eps*n with eps ~ O(1/k)
(empirically ~1.5/k at k=200 for the constants used here).
"""

from __future__ import annotations

import math

import numpy as np

from .base import Sketch, as_i64, collapse, payload_arrays, register
from .hashing import splitmix64

_C = 2.0 / 3.0
_EMPTY = np.empty(0, dtype=np.float64)


@register
class KLL(Sketch):
    TYPE = "kll"
    IDENTITY = ("k", "seed")

    def __init__(self, k: int = 200, seed: int = 0x5EED) -> None:
        self.k = int(k)
        self.seed = int(seed)
        self.compactors: list[np.ndarray] = [_EMPTY]
        self.n = 0
        self._coins = 0  # deterministic coin counter

    # ------------------------------------------------------------------
    def _capacity(self, h: int) -> int:
        height = len(self.compactors)
        return max(2, int(math.ceil(self.k * (_C ** (height - 1 - h)))))

    def _coin(self) -> int:
        self._coins += 1
        h = splitmix64(np.array([self._coins], dtype=np.uint64), self.seed)
        return int(h[0]) & 1

    def _size(self) -> int:
        return sum(len(c) for c in self.compactors)

    def _grow_to(self, h: int) -> None:
        while len(self.compactors) <= h:
            self.compactors.append(_EMPTY)

    def _compress(self) -> None:
        while self._size() > sum(self._capacity(h) for h in range(len(self.compactors))):
            for h in range(len(self.compactors)):
                if len(self.compactors[h]) > self._capacity(h):
                    self._compact(h)
                    break
            else:
                break

    def _compact(self, h: int) -> None:
        self._grow_to(h + 1)
        items = np.sort(self.compactors[h])
        if len(items) % 2 == 1:  # odd tail stays at this level
            keep = items[-1:]
            items = items[:-1]
        else:
            keep = _EMPTY
        promoted = items[self._coin() :: 2]
        self.compactors[h] = keep
        self.compactors[h + 1] = np.concatenate([self.compactors[h + 1], promoted])

    # ------------------------------------------------------------------
    def update_batch(self, items, counts=None) -> None:
        vals = np.asarray(items, dtype=np.float64)
        if not len(vals):
            return
        if counts is not None:
            counts = as_i64(counts, len(vals))
            if counts.min() < 0:
                # cash-register only: a deletion has no place in the
                # compactors and would break the rank guarantee
                raise ValueError("KLL is insert-only; negative weights rejected")
        vals, cnts = collapse(vals, counts)
        self.n += int(cnts.sum())
        # a count of w is sum(2^h for set bits h): one item per set bit
        for h in range(int(cnts.max()).bit_length()):
            sel = vals[(cnts >> h) & 1 == 1]
            if len(sel):
                self._grow_to(h)
                self.compactors[h] = np.concatenate([self.compactors[h], sel])
        self._compress()

    def _weighted(self) -> tuple[np.ndarray, np.ndarray]:
        vs, ws = [], []
        for h, c in enumerate(self.compactors):
            if len(c):
                vs.append(c)
                ws.append(np.full(len(c), 1 << h, dtype=np.int64))
        if not vs:
            return np.empty(0), np.empty(0, dtype=np.int64)
        v = np.concatenate(vs)
        w = np.concatenate(ws)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantile(self, q) -> np.ndarray:
        """Batch quantile query, q in [0,1]."""
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        v, w = self._weighted()
        if len(v) == 0:
            return np.full(len(qs), np.nan)
        cw = np.cumsum(w)
        targets = np.clip(qs, 0, 1) * cw[-1]
        idx = np.searchsorted(cw, targets, side="left")
        return v[np.minimum(idx, len(v) - 1)]

    def rank(self, values) -> np.ndarray:
        """Estimated number of items <= value."""
        xs = np.atleast_1d(np.asarray(values, dtype=np.float64))
        v, w = self._weighted()
        if len(v) == 0:
            return np.zeros(len(xs), dtype=np.int64)
        cw = np.concatenate([[0], np.cumsum(w)])
        idx = np.searchsorted(v, xs, side="right")
        return cw[idx].astype(np.int64)

    def _merge(self, other: "KLL") -> "KLL":
        # an empty side is the identity, not even a coin: an empty
        # partition's template, or the empty state serving starts from
        if not other.n:
            return self
        if not self.n:
            self.compactors, self.n, self._coins = list(other.compactors), other.n, other._coins
            return self
        self._grow_to(len(other.compactors) - 1)
        for h, c in enumerate(other.compactors):
            if len(c):
                self.compactors[h] = np.concatenate([self.compactors[h], c])
        self.n += other.n
        self._coins = max(self._coins, other._coins) + 1
        self._compress()
        return self

    # ------------------------------------------------------------------
    def _header(self):
        return {
            "k": self.k,
            "seed": self.seed,
            "n": self.n,
            "coins": self._coins,
            "lens": [len(c) for c in self.compactors],
        }

    def _payload(self) -> bytes:
        parts = [np.ascontiguousarray(c, dtype="<f8").tobytes() for c in self.compactors]
        return b"".join(parts)

    @classmethod
    def _from_parts(cls, header, payload) -> "KLL":
        s = cls(k=header["k"], seed=header["seed"])
        s.n = header["n"]
        s._coins = header["coins"]
        s.compactors = payload_arrays(payload, [("<f8", ln) for ln in header["lens"]])
        return s
