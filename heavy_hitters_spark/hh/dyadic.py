"""Hierarchical k-ary (dyadic when gran=1) heavy-hitter structure +
dyadic range queries on the level hierarchy (``hh.levels``), with a
full Count-Min or Count-Sketch table per hashed level:

- per-level failure budget ``delta' = delta*phi/(k*logm)`` (ktree.c:26;
  binary case sketch.c's ``delta*phi/(2*logm)``); the exact-level cutoff
  is ``next_pow_2(w*d)`` of those level tables
- guarantee (phi-HH): every item with freq >= phi*L1 reported (recall),
  nothing below (phi-eps)*L1 reported (precision), w.p. >= 1-delta
- ``range_count(lo, hi)``: sum over O(k·log_k m) canonical k-ary
  intervals — the scalable range query the level decomposition exists
  for (the reference only exposes the naive per-point ``*_range_sum``,
  count_min.c:147-156)
"""

from __future__ import annotations

import numpy as np

from ..core.base import Sketch, as_u64, frame, register, unframe
from ..core.countmin import CountMin
from ..core.countsketch import CountSketch
from ..core.hashing import next_pow_2
from ..core.prng import SeedStream
from .levels import UNIVERSE_32, LevelHierarchy


@register
class DyadicHH(LevelHierarchy):
    TYPE = "dyadic_hh"

    def __init__(
        self,
        phi: float = 0.01,
        epsilon: float | None = None,
        delta: float = 0.05,
        m: int = UNIVERSE_32,
        gran: int = 8,
        sketch_type: str = "count_min",
        b: int = 4,
        hash_family: str = "ms",
        seed_stream: SeedStream | None = None,
        conservative: bool = False,
        width: int | None = None,
        depth: int | None = None,
        _levels: list | None = None,
    ) -> None:
        """``width``/``depth``: global per-level sketch dimension
        override — the reference's ``-w``/``-h`` CLI flags, which apply
        inside ``sketch_create`` to EVERY sketch including the
        hierarchy's level sketches (precision_hh.c:116-150); like those
        flags they travel as a pair. The (ε, δ′)-derived dims are the
        guarantee-carrying default; the override is the reference's own
        space/accuracy trade (essential for the count-sketch hierarchy,
        whose δ′ sizing is quadratic in 1/ε — callers that verify
        candidates exactly only need recall, not the full (ε, δ)
        estimate guarantee)."""
        super().__init__(phi, epsilon, delta, m, gran, b, hash_family)
        self.sketch_type = sketch_type
        self.conservative = conservative
        self.width, self.depth = width, depth
        if _levels is not None:
            self.levels = _levels
            return

        delta_lvl = delta * phi / (self.k * self.logm)  # ktree.c:26
        stream = seed_stream or SeedStream()
        # reference sizes the exact-level cutoff from the leaf sketch dims
        proto = self._make_sketch(delta_lvl, SeedStream(1, 2))
        self.levels = self._layout(
            next_pow_2(proto.w * proto.d), "sketch", lambda: self._make_sketch(delta_lvl, stream)
        )

    def _make_sketch(self, delta_lvl: float, stream: SeedStream):
        if self.sketch_type == "count_min":
            return CountMin(
                epsilon=self.epsilon, delta=delta_lvl, b=self.b,
                hash_family=self.hash_family, seed_stream=stream,
                conservative=self.conservative,
                width=self.width, depth=self.depth,
            )
        if self.sketch_type == "count_sketch":
            return CountSketch(
                epsilon=self.epsilon, delta=delta_lvl, b=max(self.b, 3),
                hash_family=self.hash_family, seed_stream=stream,
                width=self.width, depth=self.depth,
            )
        raise ValueError(self.sketch_type)

    def point(self, items) -> np.ndarray:
        return self._estimate(0, as_u64(np.atleast_1d(np.asarray(items))))

    def range_count(self, lo: int, hi: int) -> int:
        """Sum of frequencies over [lo, hi] via canonical k-ary intervals:
        O(k log_k m) point queries instead of the reference's O(hi-lo)."""
        if not 0 <= lo <= hi <= self.m:
            raise ValueError(f"range [{lo}, {hi}] is not inside [0, m={self.m}]")
        total, lvl, k = 0, 0, self.k
        while lo <= hi and lvl < self.logm:
            if lvl == self.logm - 1:
                # top level: enumerate the residual block directly
                ids = np.arange(lo, hi + 1, dtype=np.uint64)
                total += int(self._estimate(lvl, ids).sum())
                break
            # the level's partial blocks, left and right, in one estimate
            blocks = []
            if lo % k != 0 or (hi - lo + 1) < k:
                up = min(hi, (lo // k + 1) * k - 1)
                blocks.append(np.arange(lo, up + 1, dtype=np.uint64))
                lo = up + 1
            if lo <= hi and (hi + 1) % k != 0:
                down = max(lo, (hi // k) * k)
                blocks.append(np.arange(down, hi + 1, dtype=np.uint64))
                hi = down - 1
            if blocks:
                total += int(self._estimate(lvl, np.concatenate(blocks)).sum())
            if lo > hi:
                break
            lo, hi, lvl = lo // k, (hi + 1) // k - 1, lvl + 1
        return total

    # ------------------------------------------------------------------
    def _header(self):
        return {
            "phi": self.phi, "epsilon": self.epsilon, "delta": self.delta,
            "m": self.m, "gran": self.gran, "sketch_type": self.sketch_type,
            "b": self.b, "family": self.hash_family, "norm": self.norm,
            "conservative": self.conservative,
            "level_kinds": self.level_kinds,
            "level_sizes": [
                (len(s) if k == "exact" else -1) for k, s in self.levels
            ],
        }

    def _pack_table(self, table) -> bytes:
        return table.to_bytes()

    def _payload(self) -> bytes:
        return frame(self._level_blobs())

    @classmethod
    def _from_parts(cls, header, payload) -> "DyadicHH":
        s = cls(
            phi=header["phi"], epsilon=header["epsilon"], delta=header["delta"],
            m=header["m"], gran=header["gran"], sketch_type=header["sketch_type"],
            b=header["b"], hash_family=header["family"],
            conservative=header["conservative"], _levels=[],
        )
        kinds = header["level_kinds"]
        s.levels = s._unpack_levels(
            kinds, unframe(payload, len(kinds)), lambda _lvl, blob: Sketch.from_bytes(blob)
        )
        s.norm = header["norm"]
        return s
