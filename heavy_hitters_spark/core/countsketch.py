"""Count-Sketch (the reference's "count-median") on the hashed table.

Parity with ``src/sketch/count_median.c``:

- dims: ``w = ceil(b/eps^2) * hash.c``,
  ``d = ceil(log(1/delta) / (1/6 - 1/(3b)))``, ``b >= 3``
  (count_median.c:25-26,36)
- per-row seeds: bucket hash (a,b) + sign hash (sign_ms a,b), drawn in
  that order (count_median.c:47-52)
- update: ``table[h(i)] += c * sign(i)`` (count_median.c:81-100)
- point: LOWER median over rows of ``table[h_d(i)] * sign_d(i)`` —
  Wirth selection picks order statistic (d-1)//2 (median.c:76-108,
  count_median.c:102-124)
- point_partial: single-row estimate (count_median.c:126-143), used by
  the L2/AMS norm
- HH threshold policy: ``th - eps*L1`` (count_median.h:46-49) —
  two-sided error lowers the cutoff
- L2 norm (src/norm/l2-sketch.c, computed associatively on the merged
  table instead of incrementally): ``lower_median_d sqrt(sum_j table[d][j]^2)``

A conservative-update variant makes no sense for signed sketches, so the
conservative knob lives only on CountMin.
"""

from __future__ import annotations

import math

import numpy as np

from .base import as_i64, as_u64, register
from .hashing import sign_ms
from .prng import SeedStream
from .table import HashedTable


def cs_dims(
    epsilon: float,
    delta: float,
    b: int = 4,
    hash_c: int = 1,
    parameterization: str = "reference",
) -> tuple[int, int]:
    if parameterization == "reference":
        if b < 3:
            raise ValueError(f"count-sketch dims need b >= 3, got {b} (count_median.c:36)")
        w = int(math.ceil(b / (epsilon * epsilon))) * hash_c
        d = int(math.ceil(math.log(1.0 / delta) / ((1.0 / 6.0) - 1.0 / (3.0 * b))))
    elif parameterization == "published":
        w = int(math.ceil(3.0 / (epsilon * epsilon)))
        d = int(math.ceil(math.log(1.0 / delta)))
    else:
        raise ValueError(parameterization)
    return w, d


def lower_median(v: np.ndarray, axis: int = 0) -> np.ndarray:
    """Order statistic (n-1)//2, matching median_wirth (median.c:76-108).
    np.median would average the middle pair for even n — different."""
    n = v.shape[axis]
    k = (n - 1) // 2
    return np.partition(v, k, axis=axis).take(k, axis=axis)


@register
class CountSketch(HashedTable):
    TYPE = "count_sketch"
    dims = staticmethod(cs_dims)

    def __init__(
        self,
        epsilon: float = 0.01,
        delta: float = 0.01,
        b: int = 4,
        hash_family: str = "ms",
        width: int | None = None,
        depth: int | None = None,
        seed_stream: SeedStream | None = None,
        seeds: list[tuple[int, int, int, int]] | None = None,
        parameterization: str = "reference",
        _table=None,
    ) -> None:
        super().__init__(epsilon, delta, b, hash_family, width, depth, seed_stream, seeds, parameterization, _table)

    def _draw_seeds(self, stream) -> tuple[int, ...]:
        # bucket hash, then sign hash (count_median.c:47-52)
        return (*super()._draw_seeds(stream), stream.sign_ms_agen(), stream.sign_ms_bgen())

    def _signs(self, items: np.ndarray) -> np.ndarray:
        """d x n matrix of +-1 signs."""
        return sign_ms(items, self._seed_cols[2], self._seed_cols[3])

    def _update_chunk(self, x, counts) -> None:
        c = as_i64(counts, len(x))
        self.norm += int(c.sum())
        flat = self._flat(self._rows(x))
        cc = (self._signs(x) * c).ravel()  # d x n signed weights
        ft = self.table.reshape(-1)
        # scatter_add's density rule, split by sign: dense unweighted
        # batches take two exact unweighted bincounts, the rest np.add.at
        if counts is None and len(x) >= 2 * self.w:
            pos = cc > 0
            ft += np.bincount(flat[pos], minlength=self.d * self.w)
            ft -= np.bincount(flat[~pos], minlength=self.d * self.w)
        else:
            np.add.at(ft, flat, cc)

    def point(self, items) -> np.ndarray:
        x = as_u64(np.atleast_1d(np.asarray(items)))
        return lower_median(self._cells(self._rows(x)) * self._signs(x), axis=0)

    def point_partial(self, items, row: int) -> np.ndarray:
        """Single-row estimate (count_median.c:126-143)."""
        x = as_u64(np.atleast_1d(np.asarray(items)))
        a, b, sa, sb = self.seeds[row]
        h = self.family(x, self.w, self.M, a, b)
        return self.table[row].take(h) * sign_ms(x, sa, sb)

    @staticmethod
    def hh_threshold(l1: int, epsilon: float, th: float) -> float:
        """CS policy: th - eps*L1 (count_median.h:46-49)."""
        return th - epsilon * l1

    def l2_norm(self) -> float:
        """AMS L2 from the merged table — associative-friendly equivalent
        of the reference's incremental l2-sketch (l2-sketch.c:35-80)."""
        sums = (self.table.astype(np.float64) ** 2).sum(axis=1)
        return float(lower_median(np.sqrt(sums)))
