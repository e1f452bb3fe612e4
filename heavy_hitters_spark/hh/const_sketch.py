"""'Constant-time' hierarchical heavy hitters on the level hierarchy
(``hh.levels``), semantics-parity with the reference's
``hh_const_sketch`` (src/hh/const_sketch.c):

- per-level SINGLE-ROW hash arrays of width ``ceil(1/(eps*0.25))``
  (per-level error 1/4; const_sketch.c:15-71) instead of full sketches,
  held as depth-1 CountMin tables and serialized as bare counter rows
  plus their ``level_seeds``
- one shared VERIFICATION Count-Min sketch with ``delta' =
  delta^2 * phi / 16`` (const_sketch.c:38); the exact-level cutoff is
  ``next_pow_2(w*d)`` of that sketch
- update: verification sketch + per-level rows + exact tops
  (const_sketch.c:101-134)
- query: BFS down the levels on the cheap rows; a candidate leaf is
  emitted only if the verification sketch confirms
  ``above_threshold(phi*L1)`` (const_sketch.c:217-286)
"""

from __future__ import annotations

import math

from ..core.base import Sketch, as_i64, frame, pack_i64, register, unframe, unpack_i64
from ..core.countmin import CountMin
from ..core.hashing import next_pow_2
from ..core.prng import SeedStream
from .levels import UNIVERSE_32, LevelHierarchy


@register
class ConstSketchHH(LevelHierarchy):
    TYPE = "const_sketch_hh"

    def __init__(
        self,
        phi: float = 0.01,
        epsilon: float | None = None,
        delta: float = 0.05,
        m: int = UNIVERSE_32,
        gran: int = 8,
        b: int = 4,
        hash_family: str = "ms",
        seed_stream: SeedStream | None = None,
        _state: tuple | None = None,
    ) -> None:
        super().__init__(phi, epsilon, delta, m, gran, b, hash_family)
        if _state is not None:
            self.verify, self.levels = _state
            return

        stream = seed_stream or SeedStream()
        self.verify = CountMin(
            epsilon=self.epsilon, delta=delta * delta * phi / 16.0, b=b,
            hash_family=hash_family, seed_stream=stream,
        )
        row_w = self._row_width()
        self.levels = self._layout(
            next_pow_2(self.verify.w * self.verify.d), "row",
            lambda: CountMin(width=row_w, depth=1, hash_family=hash_family, seed_stream=stream),
        )

    def _row_width(self) -> int:
        """Per-level row width ``ceil(1/(eps*0.25))`` (const_sketch.c:15-71)."""
        return next_pow_2(int(math.ceil(1.0 / (self.epsilon * 0.25))))

    # ------------------------------------------------------------------
    def _update_chunk(self, x, counts) -> None:
        self.verify.update_batch(x, as_i64(counts, len(x)))
        super()._update_chunk(x, counts)

    def _confirm(self, ids, est, th):
        # leaf: confirm against the verification sketch (const_sketch.c:267)
        ok, est = self.verify.point_ge(ids, th)
        return ids[ok], est

    def point(self, items):
        return self.verify.point(items)

    # ------------------------------------------------------------------
    def _children(self) -> list[Sketch]:
        return [self.verify, *super()._children()]

    def _merge(self, other: "ConstSketchHH") -> "ConstSketchHH":
        self.verify._merge(other.verify)
        return super()._merge(other)

    def _header(self):
        return {
            "phi": self.phi, "epsilon": self.epsilon, "delta": self.delta,
            "m": self.m, "gran": self.gran, "b": self.b,
            "family": self.hash_family, "norm": self.norm,
            "level_kinds": self.level_kinds,
            "level_seeds": [None if k == "exact" else s.seeds[0] for k, s in self.levels],
        }

    def _pack_table(self, table) -> bytes:
        return pack_i64(table.table)

    def _payload(self) -> bytes:
        return frame([self.verify.to_bytes(), *self._level_blobs()])

    @classmethod
    def _from_parts(cls, header, payload) -> "ConstSketchHH":
        kinds = header["level_kinds"]
        verify, *blobs = unframe(payload, 1 + len(kinds))
        s = cls(
            phi=header["phi"], epsilon=header["epsilon"], delta=header["delta"],
            m=header["m"], gran=header["gran"], b=header["b"],
            hash_family=header["family"], _state=(Sketch.from_bytes(verify), []),
        )
        row_w = s._row_width()

        def row(lvl, blob):
            r = CountMin(
                width=row_w, depth=1, hash_family=s.hash_family, seeds=[header["level_seeds"][lvl]],
                _table=unpack_i64(blob, row_w).reshape(1, row_w),
            )
            r.norm = header["norm"]
            return r

        s.levels = s._unpack_levels(kinds, blobs, row)
        s.norm = header["norm"]
        return s
