"""Count-Min sketch (plain + conservative-update) on the hashed table.

Semantics parity with the reference ``src/sketch/count_min.c``:

- dims (reference parameterization): ``w = ceil(b/eps) * hash.c``,
  ``d = ceil(log2(1/delta)/log2(b))``            (count_min.c:20-21)
- dims (published Cormode-Muthukrishnan parameterization, selectable):
  ``w = ceil(e/eps)``, ``d = ceil(ln(1/delta))`` (BASELINE.md)
- update: ``table[d][h_d(i)] += c`` (count_min.c:64-81); the
  conservative-update variant (Estan-Varghese) is our addition per
  BASELINE.json north_rule — batched: per unique key,
  ``table[d][h] = max(table[d][h], min_d(table) + c)``
- point: ``min_d table[d][h_d(i)]`` (count_min.c:83-111)
- above_threshold: point >= th  (count_min.c:124-145)
- HH threshold policy: identity (count_min.h:45-50) — CM never
  underestimates.

The conservative variant is conservative *within* a partition and
plain-add *across* partitions (documented in SURVEY.md §7): estimates
stay between exact and plain-CM.
"""

from __future__ import annotations

import math

import numpy as np

from .base import as_i64, as_u64, register, scatter_add
from .prng import SeedStream
from .table import HashedTable


def cm_dims(
    epsilon: float,
    delta: float,
    b: int = 2,
    hash_c: int = 1,
    parameterization: str = "reference",
) -> tuple[int, int]:
    if parameterization == "reference":
        w = int(math.ceil(b / epsilon)) * hash_c
        d = int(math.ceil(math.log2(1 / delta) / math.log2(b)))
    elif parameterization == "published":
        w = int(math.ceil(math.e / epsilon))
        d = int(math.ceil(math.log(1 / delta)))
    else:
        raise ValueError(parameterization)
    return w, d


@register
class CountMin(HashedTable):
    TYPE = "count_min"
    dims = staticmethod(cm_dims)
    FLAGS = ("conservative",)

    def __init__(
        self,
        epsilon: float = 0.001,
        delta: float = 0.01,
        b: int = 2,
        hash_family: str = "ms",
        width: int | None = None,
        depth: int | None = None,
        seed_stream: SeedStream | None = None,
        seeds: list[tuple[int, int]] | None = None,
        conservative: bool = False,
        parameterization: str = "reference",
        _table=None,
    ) -> None:
        self.conservative = conservative
        super().__init__(epsilon, delta, b, hash_family, width, depth, seed_stream, seeds, parameterization, _table)

    def _update_chunk(self, x, counts) -> None:
        c = None if counts is None else as_i64(counts, len(x))
        self.norm += len(x) if c is None else int(c.sum())
        if self.conservative:
            # pre-aggregate duplicates so each key is applied once
            ux, inv = np.unique(x, return_inverse=True)
            uc = np.zeros(len(ux), dtype=np.int64)
            scatter_add(uc, inv, c)
            h = self._rows(ux)
            target = self._cells(h).min(axis=0) + uc
            for di in range(self.d):
                np.maximum.at(self.table[di], h[di], target)
        else:
            cc = None if c is None else np.broadcast_to(c, (self.d, len(c))).ravel()
            scatter_add(self.table.reshape(-1), self._flat(self._rows(x)), cc)

    def point(self, items) -> np.ndarray:
        """Batch point query: min over rows (count_min.c:83-111). One
        broadcast hash, then each row's gather folds into a running
        minimum, with no d x n flat-index or counter matrix."""
        h = self._rows(as_u64(np.atleast_1d(np.asarray(items))))
        est = self.table[0].take(h[0])
        for r in range(1, self.d):
            np.minimum(est, self.table[r].take(h[r]), out=est)
        return est

    def point_ge(self, items, th: float) -> tuple[np.ndarray, np.ndarray]:
        """Row-pruned ``point`` >= ``th``: the min over rows is >= th
        only if every row is, so each row hashes only the survivors of
        the rows before it."""
        x = as_u64(np.atleast_1d(np.asarray(items)))
        idx = np.arange(len(x))
        est = None
        for r in range(self.d):
            a, b = self.seeds[r][:2]
            v = self.table[r].take(self.family(x, self.w, self.M, a, b))
            est = v if est is None else np.minimum(est, v)
            keep = np.flatnonzero(est >= th)
            idx, x, est = idx[keep], x[keep], est[keep]
        return idx, est

    def above_threshold(self, items, th: int) -> np.ndarray:
        return self.point(items) >= th

    @staticmethod
    def hh_threshold(l1: int, epsilon: float, th: float) -> float:
        """CM policy: identity (count_min.h:45-50)."""
        return th
