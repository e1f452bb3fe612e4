"""Misra-Gries heavy-hitter summary (k counters), batched + mergeable.

Not in the reference (added per BASELINE.json north_rule/north_star);
follows the published algorithm: maintain at most ``k`` counters; on
overflow subtract the (k+1)-th largest count from all and drop the
non-positive ones (the summary-merge formulation of Agarwal et al.,
"Mergeable Summaries"). Guarantees, for total stream weight N:

    true_count - N/(k+1)  <=  estimate  <=  true_count

The cumulative subtraction is tracked exactly in ``decrement`` (through
merges), so hybrid queries can gate on the true worst-case undercount.

Merge = counter-wise add followed by the same (k+1)-th-largest
subtraction — bound-preserving under any merge tree (representation is
merge-order-sensitive; tests assert bounds, not byte equality —
SURVEY.md §7 hard parts).

State is a pair of parallel numpy arrays sorted by item id (sorted-
merge updates, searchsorted point queries) — a python dict of counters
costs one dict op per unique key per batch, which dominated the fused
build kernel.
"""

from __future__ import annotations

import numpy as np

from .base import Sketch, as_i64, as_u64, collapse, payload_arrays, register


@register
class MisraGries(Sketch):
    TYPE = "misra_gries"
    IDENTITY = ("k",)

    def __init__(self, k: int = 1024) -> None:
        self.k = int(k)
        self.items = np.empty(0, dtype=np.uint64)  # sorted
        self.cnts = np.empty(0, dtype=np.int64)
        self.norm = 0  # total weight seen (L1)
        self.decrement = 0  # cumulative subtraction (error bound witness)

    @property
    def counters(self) -> dict[int, int]:
        """Dict view of the summary (compat/introspection)."""
        return dict(zip(self.items.tolist(), self.cnts.tolist()))

    # ------------------------------------------------------------------
    def _combine(self, ux: np.ndarray, uc: np.ndarray) -> None:
        """Add (unique, counted) batch into the sorted state + shrink.
        ``ux`` must be sorted unique; the state is sorted unique, so a
        searchsorted merge (matched: in-place add; new: one stable sort
        over state+new) replaces the concat+unique re-sort, which
        dominated the fused build kernel (np.add.at at ~10x bincount
        cost)."""
        if len(self.items):
            idx = np.searchsorted(self.items, ux)
            idx_c = np.minimum(idx, len(self.items) - 1)
            hit = self.items[idx_c] == ux
            sc_state = self.cnts.copy()
            sc_state[idx_c[hit]] += uc[hit]
            si = np.concatenate([self.items, ux[~hit]])
            sc = np.concatenate([sc_state, uc[~hit]])
            order = np.argsort(si, kind="stable")
            si, sc = si[order], sc[order]
        else:
            si, sc = ux.copy(), uc.copy()
        if len(si) > self.k:
            # subtract the (k+1)-th largest; keep strictly-positive rest
            cut = int(np.partition(sc, len(sc) - self.k - 1)[len(sc) - self.k - 1])
            keep = sc > cut
            si, sc = si[keep], sc[keep] - cut
            self.decrement += cut
        self.items, self.cnts = si, sc

    def update_batch(self, items, counts=None) -> None:
        x = as_u64(items)
        if not len(x):
            return
        c = as_i64(counts, len(x))
        if c.min() < 0:
            # Misra-Gries is a cash-register summary: a deletion would
            # silently corrupt the decrement certificate and the
            # N/(k+1) undercount bound. Turnstile streams belong in
            # CountSketch (signed counters).
            raise ValueError("MisraGries is insert-only; negative weights rejected")
        self.norm += int(c.sum())
        ux, uc = collapse(x, None if counts is None else c)
        if not uc.all():
            # a zero weight must not leave a (id, 0) candidate
            keep = uc > 0
            ux, uc = ux[keep], uc[keep]
        self._combine(ux, uc)

    def point(self, items) -> np.ndarray:
        x = as_u64(np.atleast_1d(np.asarray(items)))
        idx = np.searchsorted(self.items, x)
        idx_c = np.minimum(idx, max(len(self.items) - 1, 0))
        if not len(self.items):
            return np.zeros(len(x), dtype=np.int64)
        hit = self.items[idx_c] == x
        out = np.where(hit, self.cnts[idx_c], 0)
        return out.astype(np.int64)

    def candidates(self) -> list[tuple[int, int]]:
        """(item, lower-bound estimate) pairs, count-desc. Any item with
        true count > N/(k+1) is guaranteed present."""
        order = np.lexsort((self.items, -self.cnts))
        return list(zip(self.items[order].tolist(), self.cnts[order].tolist()))

    def _merge(self, other: "MisraGries") -> "MisraGries":
        self._combine(other.items, other.cnts)
        self.norm += other.norm
        self.decrement += other.decrement
        return self

    def _header(self):
        return {"k": self.k, "norm": self.norm, "decrement": self.decrement,
                "n": len(self.items)}

    def _payload(self) -> bytes:
        return (
            np.ascontiguousarray(self.items, dtype="<u8").tobytes()
            + np.ascontiguousarray(self.cnts, dtype="<i8").tobytes()
        )

    @classmethod
    def _from_parts(cls, header, payload) -> "MisraGries":
        s = cls(k=header["k"])
        n = header["n"]
        s.items, s.cnts = payload_arrays(payload, [("<u8", n), ("<i8", n)])
        s.norm = header["norm"]
        s.decrement = header["decrement"]
        return s
