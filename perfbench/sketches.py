"""The six-sketch template every build and the serving workload use,
and the accuracy gates that check a built sketch against exact token
counts."""

from __future__ import annotations

import math

import numpy as np

PHI = 0.01  # heavy-hitter threshold of the gates and of DyadicHH
KLL_RANK_EPS = 0.02  # normalized rank error allowed at k=200
N_PROBES = 1000  # hot probes; as many cold probes are drawn at random
QS = np.array([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99])


def template():
    """CM 2^16x5, CS 2^15x5, MG k=4096, HLL p=14, KLL k=200 and DyadicHH
    phi=0.01 in one MultiSketch (the template of the repository's
    multi-sketch build)."""
    from heavy_hitters_spark.core import HLL, KLL, CountMin, CountSketch, MisraGries, SeedStream
    from heavy_hitters_spark.core.multi import MultiSketch
    from heavy_hitters_spark.hh import DyadicHH
    from heavy_hitters_spark.spark.keys import MASK32

    return MultiSketch(
        {
            "cm": CountMin(width=1 << 16, depth=5, seed_stream=SeedStream(1234, 5678)),
            "cs": CountSketch(width=1 << 15, depth=5, seed_stream=SeedStream(1234, 5678)),
            "mg": MisraGries(k=4096),
            "hll": HLL(p=14),
            "kll": KLL(k=200),
            "hh": DyadicHH(
                phi=PHI, epsilon=PHI / 2, delta=0.05, m=MASK32, gran=16, b=16,
                seed_stream=SeedStream(1234, 5678),
            ),
        }
    )


CHILDREN = ("cm", "cs", "mg", "hll", "kll", "hh")


def child_classes() -> dict:
    """The class of each child of the template, by child name."""
    from heavy_hitters_spark.core import HLL, KLL, CountMin, CountSketch, MisraGries
    from heavy_hitters_spark.hh import DyadicHH

    return {"cm": CountMin, "cs": CountSketch, "mg": MisraGries, "hll": HLL, "kll": KLL, "hh": DyadicHH}


class Truth:
    """Exact frequency of every token id (32-bit ids, so distinct
    tokens whose ids collide are summed, as the sketches see them)."""

    def __init__(self, ids: np.ndarray, freqs: np.ndarray) -> None:
        ids = np.asarray(ids, dtype=np.uint64)
        freqs = np.asarray(freqs, dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        ids, freqs = ids[order], freqs[order]
        starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
        self.ids = ids[starts]
        self.freqs = np.add.reduceat(freqs, starts)
        self.l1 = int(self.freqs.sum())
        self.cum = np.cumsum(self.freqs)

    @classmethod
    def of_text(cls, text) -> "Truth":
        """Exact token counts of an Arrow text column, split on spaces
        (empty tokens dropped, as the fused kernel drops them) and hashed
        with the driver-side key hash, independent of Spark."""
        import pyarrow.compute as pc

        from heavy_hitters_spark.spark.keys import key_id

        vc = pc.value_counts(pc.list_flatten(pc.split_pattern(text, " ")))
        tokens = vc.field("values").to_pylist()
        keep = np.array([t != "" for t in tokens], dtype=bool)
        ids = np.array([key_id(t) for t in tokens], dtype=np.uint64)
        return cls(ids[keep], vc.field("counts").to_numpy()[keep])

    @property
    def distinct(self) -> int:
        return len(self.ids)

    def heavy(self, phi: float) -> set[int]:
        return set(self.ids[self.freqs >= phi * self.l1].tolist())

    def probes(self, rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
        """~N_PROBES hottest ids plus as many random other ids."""
        by_freq = np.argsort(-self.freqs, kind="stable")
        hot = by_freq[:N_PROBES]
        rest = by_freq[N_PROBES:]
        cold = rng.choice(rest, size=min(N_PROBES, len(rest)), replace=False) if len(rest) else rest
        pick = np.concatenate([hot, cold])
        return self.ids[pick], self.freqs[pick]

    def rank_interval(self, v: float) -> tuple[float, float]:
        """[F(v-), F(v)] of the exact id distribution."""
        lo = np.searchsorted(self.ids, np.uint64(v), side="left")
        hi = np.searchsorted(self.ids, np.uint64(v), side="right")
        below = self.cum[lo - 1] if lo > 0 else 0
        upto = self.cum[hi - 1] if hi > 0 else 0
        return below / self.l1, upto / self.l1


def gate_sketch(sk, truth: Truth, gates, rng: np.random.Generator, label: str) -> None:
    """Accuracy gates on a merged six-sketch state:
    CM/CS point error within eps*L1 on at least 1-delta of the probes
    (published parameterization: CM eps=e/w, CS eps=sqrt(3/w),
    delta=e^-d); MG and DyadicHH phi-heavy recall 1.0; HLL within three
    standard errors; KLL rank error within KLL_RANK_EPS."""
    ids, f = truth.probes(rng)
    l1 = truth.l1
    cm, cs = sk["cm"], sk["cs"]
    err = cm.point(ids) - f
    ok = (err >= 0) & (err <= math.e / cm.w * l1)
    gates.check(ok.mean() >= 1 - math.exp(-cm.d), f"{label}: cm point error")
    err = np.abs(cs.point(ids) - f)
    ok = err <= math.sqrt(3.0 / cs.w) * l1
    gates.check(ok.mean() >= 1 - math.exp(-cs.d), f"{label}: cs point error")
    heavy = truth.heavy(PHI)
    mg_ids = {i for i, _ in sk["mg"].candidates()}
    gates.check(heavy <= mg_ids, f"{label}: mg recall")
    hh_ids = {i for i, _ in sk["hh"].query(PHI)}
    gates.check(heavy <= hh_ids, f"{label}: dyadic hh recall")
    hll = sk["hll"]
    gates.check(
        abs(hll.estimate() - truth.distinct) <= 3 * hll.rel_std_error() * truth.distinct,
        f"{label}: hll error",
    )
    worst = 0.0
    for q, v in zip(QS, sk["kll"].quantile(QS)):
        lo, hi = truth.rank_interval(v)
        worst = max(worst, lo - q, q - hi, 0.0)
    gates.check(worst <= KLL_RANK_EPS, f"{label}: kll rank error {worst:.4f}")
