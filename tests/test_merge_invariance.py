"""Merge-order / partition-shape invariance (BASELINE.json north_rule;
FIXTURES.md §7): linear/lattice sketches must be BYTE-identical under
permuted partitions and different merge-tree shapes; MG/KLL/conservative
CM must stay within their published bounds."""

import numpy as np
import pytest

from heavy_hitters_spark.core import (
    HLL,
    KLL,
    Bloom,
    CountMin,
    CountSketch,
    MisraGries,
    SeedStream,
    merge_all,
)
from heavy_hitters_spark.hh import ConstSketchHH, DyadicHH


def _parts(data, n_parts, scheme, rng):
    if scheme == "contiguous":
        return np.array_split(data, n_parts)
    if scheme == "round_robin":
        return [data[i::n_parts] for i in range(n_parts)]
    if scheme == "hash":
        h = (data * np.uint64(2654435761)) % np.uint64(n_parts)
        return [data[h == i] for i in range(n_parts)]
    raise ValueError(scheme)


def _merge_tree(states, shape, rng):
    states = list(states)
    if shape == "left_fold":
        return merge_all(states)
    if shape == "reversed":
        return merge_all(states[::-1])
    if shape == "pairwise":
        while len(states) > 1:
            nxt = []
            for i in range(0, len(states) - 1, 2):
                nxt.append(states[i].merge(states[i + 1]))
            if len(states) % 2:
                nxt.append(states[-1])
            states = nxt
        return states[0]
    if shape == "shuffled":
        rng.shuffle(states)
        return merge_all(states)
    raise ValueError(shape)


LINEAR_FACTORIES = {
    "count_min": lambda: CountMin(width=1024, depth=5, seed_stream=SeedStream(1, 2)),
    "count_sketch": lambda: CountSketch(width=1024, depth=5, seed_stream=SeedStream(1, 2)),
    "hll": lambda: HLL(p=10),
    "bloom": lambda: Bloom(capacity=10000),
    "dyadic_hh": lambda: DyadicHH(
        phi=0.05, epsilon=0.01, delta=0.1, m=(1 << 20) - 1, gran=8,
        seed_stream=SeedStream(1, 2),
    ),
    "dyadic_hh_count_sketch": lambda: DyadicHH(
        phi=0.05, epsilon=0.01, delta=0.1, m=(1 << 20) - 1, gran=8,
        sketch_type="count_sketch", seed_stream=SeedStream(1, 2),
        width=1 << 12, depth=5,
    ),
    "const_sketch_hh": lambda: ConstSketchHH(
        phi=0.05, epsilon=0.01, delta=0.1, m=(1 << 20) - 1, gran=8,
        seed_stream=SeedStream(1, 2),
    ),
}


@pytest.mark.parametrize("name", list(LINEAR_FACTORIES))
@pytest.mark.parametrize("n_parts", [8, 32])
@pytest.mark.parametrize("scheme", ["contiguous", "round_robin", "hash"])
def test_linear_byte_identical(name, n_parts, scheme, rng):
    data = rng.integers(0, 1 << 20, 100000, dtype=np.uint64)
    bulk = LINEAR_FACTORIES[name]()
    bulk.update_batch(data)
    ref_bytes = bulk.to_bytes()
    for shape in ["left_fold", "reversed", "pairwise", "shuffled"]:
        states = []
        for p in _parts(data, n_parts, scheme, rng):
            s = LINEAR_FACTORIES[name]()
            if len(p):
                s.update_batch(p)
            states.append(s)
        merged = _merge_tree(states, shape, rng)
        assert merged.to_bytes() == ref_bytes, (name, n_parts, scheme, shape)


def test_mg_bounds_under_merge_shapes(rng):
    data = (rng.zipf(1.2, 200000) % 10000).astype(np.uint64)
    exact = np.bincount(data.astype(np.int64), minlength=10000).astype(np.int64)
    for shape in ["left_fold", "reversed", "pairwise", "shuffled"]:
        states = []
        for p in _parts(data, 16, "round_robin", rng):
            s = MisraGries(k=256)
            s.update_batch(p)
            states.append(s)
        mg = _merge_tree(states, shape, rng)
        est = mg.point(np.arange(10000))
        assert np.all(est <= exact)
        assert np.all(exact - est <= mg.norm / (mg.k + 1)), shape


def test_kll_bounds_under_merge_shapes(rng):
    n = 100000
    data = rng.permutation(np.arange(n))
    for shape in ["left_fold", "pairwise", "shuffled"]:
        states = []
        for p in _parts(data.astype(np.uint64), 16, "contiguous", rng):
            s = KLL(k=200)
            s.update_batch(p)
            states.append(s)
        kll = _merge_tree(states, shape, rng)
        qs = np.linspace(0.05, 0.95, 10)
        assert np.all(np.abs(kll.quantile(qs) - qs * n) <= 0.03 * n), shape


def test_driver_fold_stays_in_invariance_class(rng):
    """The driver fold (spark.aggregate._fold: the in-order left fold of
    every merge path, each packed state decoded only when merged); pin
    its invariance-class claim directly. For LINEAR sketches the folded
    state must be BYTE-identical to the sequential fold. For the
    order-sensitive MisraGries, state bytes may legitimately differ
    between fold shapes — what must agree is the GATED output: both
    folds' candidate sets must contain every true top-k item (the
    decrement-witness recall the hybrid queries rely on), so the
    exact-rescored top-k is identical."""
    from heavy_hitters_spark.core.base import pack_state
    from heavy_hitters_spark.spark.aggregate import _fold

    data = (rng.zipf(1.2, 200000) % 10000).astype(np.uint64)
    exact = np.bincount(data.astype(np.int64), minlength=10000).astype(np.int64)
    parts = _parts(data, 16, "round_robin", rng)

    # linear: byte-identical to the sequential left fold
    lin_states = []
    for p in parts:
        s = CountMin(width=1024, depth=5, seed_stream=SeedStream(1, 2))
        s.update_batch(p)
        lin_states.append(s)
    blobs = [pack_state(s) for s in lin_states]
    folded = _fold(enumerate(blobs))
    seq = merge_all([CountMin.from_bytes(s.to_bytes()) for s in lin_states])
    assert folded.to_bytes() == seq.to_bytes()

    # MisraGries: same decrement bound + same exact-rescored top-k
    mg_states = []
    for p in parts:
        s = MisraGries(k=256)
        s.update_batch(p)
        mg_states.append(s)
    blobs = [pack_state(s) for s in mg_states]
    tree = _fold(enumerate(blobs))
    seq = merge_all([MisraGries.from_bytes(s.to_bytes()) for s in mg_states])
    k = 10
    true_top = sorted(range(10000), key=lambda i: (-exact[i], i))[:k]
    for mg in (tree, seq):
        est = mg.point(np.arange(10000))
        assert np.all(est <= exact)
        assert np.all(exact - est <= mg.norm / (mg.k + 1))
        cand = {int(i) for i, _ in mg.candidates()}
        assert set(true_top) <= cand  # recall certificate for rescoring
        rescored = sorted(cand, key=lambda i: (-exact[i], i))[:k]
        assert rescored == true_top


def test_conservative_cm_bounds_across_partitions(rng):
    """Conservative within partition, plain-add across (SURVEY.md §7):
    merged estimate sandwiched between exact and plain CM."""
    data = rng.integers(0, 2000, 100000, dtype=np.uint64)
    exact = np.bincount(data.astype(np.int64), minlength=2000).astype(np.int64)
    plain = CountMin(width=512, depth=4, seed_stream=SeedStream(1, 2))
    plain.update_batch(data)
    states = []
    for p in _parts(data, 8, "round_robin", rng):
        s = CountMin(width=512, depth=4, seed_stream=SeedStream(1, 2), conservative=True)
        s.update_batch(p)
        states.append(s)
    merged = merge_all(states)
    est = merged.point(np.arange(2000))
    assert np.all(est >= exact)
    assert np.all(est <= plain.point(np.arange(2000)))
