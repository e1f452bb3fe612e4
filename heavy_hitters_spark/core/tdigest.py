"""Merging t-digest (Dunning's published algorithm, k0-style size
bound), deterministic (no RNG): centroids (mean, weight) kept under the
q-dependent size limit ``4*n*q*(1-q)/compression``, so accuracy is
finest at the tails. Merge = concatenate + recompress: bound-preserving
under any merge tree, not byte-identical (same invariance class as KLL;
tests assert quantile error, not bytes).

Complements KLL: t-digest gives better relative tail accuracy on
skewed numeric data; KLL gives worst-case rank guarantees.
"""

from __future__ import annotations

import numpy as np

from .base import Sketch, payload_arrays, register


@register
class TDigest(Sketch):
    TYPE = "tdigest"
    IDENTITY = ("compression",)

    def __init__(self, compression: float = 200.0) -> None:
        self.compression = float(compression)
        self.means = np.empty(0, dtype=np.float64)
        self.weights = np.empty(0, dtype=np.int64)
        self.n = 0
        self._buf: list[np.ndarray] = []
        self._buf_n = 0

    # ------------------------------------------------------------------
    def update_batch(self, items, counts=None) -> None:
        v = np.asarray(items, dtype=np.float64)
        if counts is not None:
            c = np.asarray(counts, dtype=np.int64)
            if len(c) and c.min() < 0:
                # insert-only, as MisraGries and KLL: a deletion has no
                # centroid to leave
                raise ValueError("TDigest is insert-only; negative weights rejected")
            v = np.repeat(v, c)
        if not len(v):
            return
        self._buf.append(v)
        self._buf_n += len(v)
        self.n += len(v)
        if self._buf_n > 8 * self.compression:
            self._flush()

    def _flush(self) -> None:
        if not self._buf:
            return
        vals = np.concatenate(self._buf)
        self._buf, self._buf_n = [], 0
        means = np.concatenate([self.means, vals])
        weights = np.concatenate([self.weights, np.ones(len(vals), dtype=np.int64)])
        order = np.argsort(means, kind="stable")
        self.means, self.weights = self._compress(means[order], weights[order])

    def _compress(self, means: np.ndarray, weights: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        total = int(weights.sum())
        if total == 0:
            return means[:0], weights[:0]
        out_m, out_w = [], []
        cur_m, cur_w, cum = float(means[0]), int(weights[0]), 0
        for m, w in zip(means[1:].tolist(), weights[1:].tolist()):
            q = (cum + cur_w / 2.0) / total
            limit = max(1.0, 4.0 * total * q * (1.0 - q) / self.compression)
            if cur_w + w <= limit:
                cur_m = (cur_m * cur_w + m * w) / (cur_w + w)
                cur_w += w
            else:
                out_m.append(cur_m)
                out_w.append(cur_w)
                cum += cur_w
                cur_m, cur_w = m, w
        out_m.append(cur_m)
        out_w.append(cur_w)
        return np.array(out_m), np.array(out_w, dtype=np.int64)

    # ------------------------------------------------------------------
    def quantile(self, q) -> np.ndarray:
        self._flush()
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        if not len(self.means):
            return np.full(len(qs), np.nan)
        cw = np.cumsum(self.weights) - self.weights / 2.0
        targets = np.clip(qs, 0, 1) * self.n
        return np.interp(targets, cw, self.means)

    def cdf(self, values) -> np.ndarray:
        self._flush()
        xs = np.atleast_1d(np.asarray(values, dtype=np.float64))
        if not len(self.means):
            return np.zeros(len(xs))
        cw = np.cumsum(self.weights) - self.weights / 2.0
        return np.interp(xs, self.means, cw / self.n)

    def _merge(self, other: "TDigest") -> "TDigest":
        self._flush()
        other._flush()
        means = np.concatenate([self.means, other.means])
        weights = np.concatenate([self.weights, other.weights])
        order = np.argsort(means, kind="stable")
        self.means, self.weights = self._compress(means[order], weights[order])
        self.n += other.n
        return self

    # ------------------------------------------------------------------
    def _header(self):
        self._flush()
        return {"compression": self.compression, "n": self.n, "k": len(self.means)}

    def _payload(self) -> bytes:
        return self.means.astype("<f8").tobytes() + self.weights.astype("<i8").tobytes()

    @classmethod
    def _from_parts(cls, header, payload) -> "TDigest":
        s = cls(compression=header["compression"])
        k = header["k"]
        s.means, s.weights = payload_arrays(payload, [("<f8", k), ("<i8", k)])
        s.n = header["n"]
        return s
