"""Level hierarchy: the prefix-level skeleton both hierarchical
heavy-hitter structures share, semantics-parity with the reference's
``src/hh/`` (sketch.c, ktree.c, const_sketch.c):

- level decomposition over prefixes ``x >> (gran*level)`` with branch
  factor ``k = 2^gran`` and ``logm = floor(log_k(m)) + 1`` levels
  (hh_ktree: ktree.c:19-22,54-68; gran=1 gives the binary ``hh_sketch``
  of sketch.c:47-70; reference CLI default gran=8, precision_hh.c:116)
- guard ``phi > epsilon`` (sketch.c:27); epsilon defaults to phi/2, the
  reference experiment convention
- exact dense counter arrays for the top levels whose universe fits in
  a cutoff sized from the hashed tables' dims — the reference's
  exact-top-levels space/accuracy trade (sketch.c:48-70,
  cormode_cmh.c:89-93); hashed counter tables below
- update: every level in a single pass over each batch, one shift per
  level (sketch.c:113-135); ``norm += c`` (sketch.c:121)
- query: breadth-first search from the top level, expanding children
  whose level estimate >= threshold; threshold = ``phi * L1`` adjusted
  by the level table's policy (CM: identity, count_min.h:45-50; CS:
  ``th - eps*L1``, count_median.h:46-49); emit leaves >= threshold
  (sketch.c:204-262)

Every level is linear, so merge is a level-wise add and the structure
is exactly merge-order-invariant when its level tables are (CM plain /
CS). Levels are serialized as u64-length-framed blobs after the header.
"""

from __future__ import annotations

import math

import numpy as np

from ..core.base import Sketch, as_i64, as_u64, chunked_update, pack_i64, scatter_add, unpack_i64

UNIVERSE_32 = (1 << 32) - 1


class LevelHierarchy(Sketch):
    """``levels[lvl]`` is ``("exact", counts)`` or ``(kind, table)`` with
    ``table`` a CountMin or CountSketch over the level's prefixes."""

    IDENTITY = ("m", "gran", "level_kinds")

    def __init__(self, phi, epsilon, delta, m, gran, b, hash_family) -> None:
        if epsilon is None:
            epsilon = phi / 2.0
        if not phi > epsilon:
            raise ValueError(f"phi={phi} must exceed epsilon={epsilon} (sketch.c:27)")
        self.phi, self.epsilon, self.delta = phi, epsilon, delta
        self.m, self.gran = int(m), int(gran)
        self.k = 1 << gran
        self.b, self.hash_family = b, hash_family
        self.logm = int(math.floor(math.log(max(self.m, 2), self.k))) + 1
        self.norm = 0

    def _universes(self) -> list[int]:
        """Number of prefixes at each level, bottom up."""
        return [(self.m >> (self.gran * lvl)) + 1 for lvl in range(self.logm)]

    def _layout(self, cutoff: int, kind: str, make_table) -> list:
        """Exact counts for each level whose universe fits in ``cutoff``,
        else ``(kind, make_table())``, built in level order."""
        return [
            ("exact", np.zeros(u, dtype=np.int64)) if u <= cutoff else (kind, make_table())
            for u in self._universes()
        ]

    @property
    def level_kinds(self) -> list[str]:
        return [k for k, _ in self.levels]

    # ------------------------------------------------------------------
    def update_batch(self, items, counts=None) -> None:
        x = as_u64(items)
        if len(x) and int(x.max()) > self.m:
            # checked before any level (or norm) is touched
            raise ValueError(f"item id {int(x.max())} is outside the universe [0, m={self.m}]")
        chunked_update(self._update_chunk, x, None if counts is None else np.asarray(counts))

    def _update_chunk(self, x, counts) -> None:
        c = as_i64(counts, len(x))
        self.norm += int(c.sum())
        for lvl, (kind, state) in enumerate(self.levels):
            pref = x >> np.uint64(self.gran * lvl)
            if kind == "exact":
                scatter_add(state, pref.astype(np.int64), None if counts is None else c)
            else:
                state.update_batch(pref, c)

    def _estimate(self, lvl: int, ids: np.ndarray) -> np.ndarray:
        kind, state = self.levels[lvl]
        if kind == "exact":
            return state[ids.astype(np.int64)]
        return state.point(ids)

    def _survivors(self, lvl: int, ids: np.ndarray, th: float):
        """(ids, estimates) of the level's ``ids`` whose estimate clears
        the level threshold: ``th`` on exact levels, else ``th`` adjusted
        by the level table's policy."""
        kind, state = self.levels[lvl]
        if kind == "exact":
            est = state[ids.astype(np.int64)]
            ok = np.flatnonzero(est >= th)
            return ids[ok], est[ok]
        ok, est = state.point_ge(ids, state.hh_threshold(self.norm, self.epsilon, th))
        return ids[ok], est

    def _confirm(self, ids: np.ndarray, est: np.ndarray, th: float):
        """Leaves that passed the level-0 threshold -> (ids, estimates)
        to report."""
        return ids, est

    def query(self, phi: float | None = None) -> list[tuple[int, int]]:
        """phi-heavy hitters: [(item, estimate)] sorted by item id.

        Top-down BFS, batch-vectorized per level (sketch.c:204-262).
        ``phi`` must exceed ``epsilon``, as at construction: below it a
        count-sketch level threshold ``phi*L1 - eps*L1`` is <= 0 and
        every prefix survives."""
        phi = self.phi if phi is None else phi
        if phi <= self.epsilon:
            raise ValueError(f"phi={phi} must exceed epsilon={self.epsilon} (sketch.c:27)")
        th = phi * self.norm
        if self.norm == 0:
            return []
        top = self.logm - 1
        cand = np.arange((self.m >> (self.gran * top)) + 1, dtype=np.uint64)
        for lvl in range(top, -1, -1):
            if len(cand) == 0:
                return []
            cand, est = self._survivors(lvl, cand, th)
            if lvl == 0:
                ids, est = self._confirm(cand, est, th)
                return list(zip(ids.tolist(), est.tolist()))
            # expand each surviving prefix into its k children
            children = (cand[:, None] << np.uint64(self.gran)) + np.arange(self.k, dtype=np.uint64)
            cand = children.ravel()
            cand = cand[cand <= (self.m >> (self.gran * (lvl - 1)))]
        return []

    # ------------------------------------------------------------------
    def _children(self) -> list[Sketch]:
        return [s for k, s in self.levels if k != "exact"]

    def _merge(self, other: "LevelHierarchy") -> "LevelHierarchy":
        for (kind, sa), (_, sb) in zip(self.levels, other.levels):
            if kind == "exact":
                sa += sb
            else:
                sa._merge(sb)
        self.norm += other.norm
        return self

    def _level_blobs(self) -> list[bytes]:
        return [pack_i64(s) if k == "exact" else self._pack_table(s) for k, s in self.levels]

    def _unpack_levels(self, kinds: list[str], blobs: list[bytes], unpack_table) -> list:
        """Levels from their blobs: an exact level must hold its
        universe's counts; ``unpack_table(lvl, blob)`` decodes the
        others."""
        if len(kinds) != self.logm:
            raise ValueError(f"state declares {len(kinds)} levels; m and gran give {self.logm}")
        return [
            (kind, unpack_i64(blob, u) if kind == "exact" else unpack_table(lvl, blob))
            for lvl, (kind, blob, u) in enumerate(zip(kinds, blobs, self._universes()))
        ]
