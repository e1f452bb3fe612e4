"""Hashed counter table: the state Count-Min and Count-Sketch share.

Both reference counter sketches (``src/sketch/count_min.c``,
``src/sketch/count_median.c``) keep a ``d x w`` int64 table with one
seeded bucket hash per row:

- dims from (eps, delta, b) by the subclass's ``dims`` rule, or an
  explicit ``width=``/``depth=`` pair mirroring the reference's global
  ``-w/-h`` flags (sketch.h:48-56); pow2-only hash families widen the
  derived width to the next power of two
- per-row seeds drawn from one ``SeedStream`` in row order
- ``norm``: the running L1, as src/hh/sketch.c:121
- range_sum: naive point-sum (count_min.c:147-156); the scalable range
  query lives in hh.dyadic

Both are linear in their updates, so merge is an elementwise table add
and the distributed partial+final aggregation is exactly
merge-order-invariant. Subclasses add only their update, point and
heavy-hitter threshold rules.
"""

from __future__ import annotations

import numpy as np

from .base import Sketch, as_u64, chunked_update, pack_i64, unpack_i64
from .hashing import FAMILIES, POW2_FAMILIES, hash_M, is_pow2, next_pow_2
from .prng import SeedStream


class HashedTable(Sketch):
    # (eps, delta, b, hash_c, parameterization) -> (w, d); set by subclasses
    dims = None
    # extra constructor flags carried in the header, after ``norm``
    FLAGS: tuple[str, ...] = ()
    IDENTITY = ("family", "w", "d", "seeds")

    def __init__(
        self,
        epsilon: float,
        delta: float,
        b: int,
        hash_family: str,
        width: int | None,
        depth: int | None,
        seed_stream: SeedStream | None,
        seeds: list[tuple[int, ...]] | None,
        parameterization: str,
        table: np.ndarray | None = None,
    ) -> None:
        """``table``: a decoded ``d x w`` counter table to adopt in place
        of a fresh zero one."""
        fam = FAMILIES[hash_family]
        if (width is None) != (depth is None):
            # a partial override would silently fall back to the
            # (eps, delta)-derived dims (ADVICE r04 #1)
            raise ValueError("width and depth must be overridden together")
        if width is not None and depth is not None:
            w, d = width, depth
            if fam.name in POW2_FAMILIES and not is_pow2(w):
                raise ValueError(f"hash family {fam.name!r} needs a power-of-2 width, got {w}")
        else:
            w, d = self.dims(epsilon, delta, b, fam.c, parameterization)
            if fam.name in POW2_FAMILIES:
                w = next_pow_2(w)  # pow2-only families; wider never hurts
        self.w, self.d = int(w), int(d)
        self.M = hash_M(self.w)
        self.epsilon, self.delta, self.b = epsilon, delta, b
        self.family = fam
        if seeds is None:
            stream = seed_stream or SeedStream()
            seeds = [self._draw_seeds(stream) for _ in range(self.d)]
        self.seeds = [tuple(int(v) for v in s) for s in seeds]
        # each seed as a (d, 1) column: one kernel call hashes every row
        self._seed_cols = np.array(self.seeds, dtype=np.uint64).T[:, :, None]
        self._offsets = (np.arange(self.d, dtype=np.int64) * self.w)[:, None]
        self.table = np.zeros((self.d, self.w), dtype=np.int64) if table is None else table
        self.norm = 0

    def _draw_seeds(self, stream: SeedStream) -> tuple[int, ...]:
        """One row's seeds; the bucket hash (a, b) comes first."""
        return self.family.gen_seeds(stream, self.M)

    def _rows(self, items: np.ndarray) -> np.ndarray:
        """d x n matrix of bucket indices."""
        return self.family(items, self.w, self.M, self._seed_cols[0], self._seed_cols[1])

    def _flat(self, h: np.ndarray) -> np.ndarray:
        """Bucket indices ``h`` as indices into ``table.reshape(-1)``."""
        return (h + self._offsets).ravel()

    def _cells(self, h: np.ndarray) -> np.ndarray:
        """d x n counters at bucket indices ``h``."""
        return self.table.take(self._flat(h)).reshape(h.shape)

    def point_ge(self, items, th: float) -> tuple[np.ndarray, np.ndarray]:
        """(indices into ``items``, estimates) of the items whose point
        estimate is >= ``th``, in input order."""
        est = self.point(items)
        ok = np.flatnonzero(est >= th)
        return ok, est[ok]

    def update_batch(self, items, counts=None) -> None:
        chunked_update(self._update_chunk, as_u64(items), None if counts is None else np.asarray(counts))

    def range_sum(self, lo: int, hi: int) -> int:
        return int(self.point(np.arange(lo, hi + 1, dtype=np.uint64)).sum())

    # ------------------------------------------------------------------
    def _merge(self, other: "HashedTable") -> "HashedTable":
        self.table += other.table
        self.norm += other.norm
        return self

    def _header(self):
        return {
            "w": self.w,
            "d": self.d,
            "b": self.b,
            "epsilon": self.epsilon,
            "delta": self.delta,
            "family": self.family.name,
            "seeds": self.seeds,
            "norm": self.norm,
            **{f: getattr(self, f) for f in self.FLAGS},
        }

    def _payload(self) -> bytes:
        return pack_i64(self.table)

    @classmethod
    def _from_parts(cls, header, payload) -> "HashedTable":
        w, d = int(header["w"]), int(header["d"])
        s = cls(
            epsilon=header["epsilon"],
            delta=header["delta"],
            b=header["b"],
            hash_family=header["family"],
            width=w,
            depth=d,
            seeds=header["seeds"],
            _table=unpack_i64(payload, d * w).reshape(d, w),
            **{f: header[f] for f in cls.FLAGS},
        )
        s.norm = header["norm"]
        return s
