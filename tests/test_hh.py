"""Hierarchical heavy-hitter fixtures ported (in semantics, not code)
from the reference suites tests/test_hh_min_sketch.c and
test_hh_ktree.c, plus dyadic range-count accuracy."""

import numpy as np
import pytest

from heavy_hitters_spark.core import SeedStream, Sketch
from heavy_hitters_spark.hh import ConstSketchHH, DyadicHH


@pytest.mark.parametrize("gran", [1, 4, 8])
@pytest.mark.parametrize("sketch_type", ["count_min", "count_sketch"])
def test_micro_weighted_fixture(micro_pairs, gran, sketch_type):
    """{2,3,8,327} expected at phi=.05, m=2^9 (test_hh_min_sketch.c:14-66)."""
    items, w = micro_pairs
    hh = DyadicHH(
        phi=0.05, epsilon=0.01, delta=0.2, m=(1 << 9) - 1, gran=gran,
        sketch_type=sketch_type, seed_stream=SeedStream(1, 2),
    )
    hh.update_batch(items, w)
    assert sorted(i for i, _ in hh.query()) == [2, 3, 8, 327]


def _planted_stream(rng, m, n, planted, share=0.10):
    draws = rng.integers(0, m + 1, n, dtype=np.uint64)
    sel = rng.random(n)
    lo = 1.0 - share * len(planted)
    for j, p in enumerate(planted):
        mask = (sel >= lo + j * share) & (sel < lo + (j + 1) * share)
        draws[mask] = p
    return draws


def test_planted_hitters(rng):
    """7 planted 10%-mass items recovered exactly at phi=.05
    (test_hh_min_sketch.c:68-131, scaled down)."""
    m = (1 << 20) - 1
    planted = np.array([3, 134, 2345, 38474, 374298, 374299, 1000000], dtype=np.uint64)
    draws = _planted_stream(rng, m, 1 << 20, planted)
    hh = DyadicHH(phi=0.05, epsilon=0.005, delta=0.1, m=m, gran=8,
                  seed_stream=SeedStream(1, 2))
    hh.update_batch(draws)
    assert sorted(i for i, _ in hh.query()) == sorted(int(p) for p in planted)


def test_near_threshold(rng):
    """Items just below phi-eps must NOT be reported; items at/above phi
    must be (test_hh_min_sketch.c:133-203)."""
    m = (1 << 16) - 1
    n = 1 << 20
    phi, eps = 0.05, 1 / 128
    # planted shares: one clearly above phi, one in the allowed gap is
    # not asserted either way, one clearly below phi-eps
    above, below = 777, 888
    draws = rng.integers(0, m + 1, n, dtype=np.uint64)
    sel = rng.random(n)
    draws[sel < 0.06] = above          # 6% > phi
    draws[(sel >= 0.9) & (sel < 0.93)] = below  # 3% < phi - eps
    hh = DyadicHH(phi=phi, epsilon=eps, delta=0.05, m=m, gran=4,
                  seed_stream=SeedStream(1, 2))
    hh.update_batch(draws)
    got = {i for i, _ in hh.query()}
    assert above in got
    assert below not in got


def test_range_count(rng):
    m = (1 << 16) - 1
    draws = rng.integers(0, m + 1, 1 << 19, dtype=np.uint64)
    hh = DyadicHH(phi=0.01, epsilon=0.001, delta=0.05, m=m, gran=4,
                  seed_stream=SeedStream(1, 2))
    hh.update_batch(draws)
    for lo, hi in [(0, 999), (5000, 20000), (0, m), (12345, 12345)]:
        exact = int(((draws >= lo) & (draws <= hi)).sum())
        est = hh.range_count(lo, hi)
        assert abs(est - exact) <= 0.01 * hh.norm + 1e-9, (lo, hi, est, exact)


def test_hh_point_and_serde(micro_pairs):
    items, w = micro_pairs
    hh = DyadicHH(phi=0.05, epsilon=0.01, delta=0.2, m=(1 << 9) - 1, gran=1,
                  seed_stream=SeedStream(1, 2))
    hh.update_batch(items, w)
    r = Sketch.from_bytes(hh.to_bytes())
    assert np.array_equal(r.point(items), hh.point(items))
    assert sorted(i for i, _ in r.query()) == [2, 3, 8, 327]
    assert r.norm == hh.norm == int(w.sum())


@pytest.mark.parametrize("gran", [1, 4, 8])
def test_const_sketch_micro_fixture(micro_pairs, gran):
    """hh_const_sketch variant on the same reference fixture
    (tests/test_hh_const_sketch.c follows test_hh_min_sketch.c)."""
    items, w = micro_pairs
    hh = ConstSketchHH(phi=0.05, epsilon=0.01, delta=0.2, m=(1 << 9) - 1,
                       gran=gran, seed_stream=SeedStream(1, 2))
    hh.update_batch(items, w)
    assert sorted(i for i, _ in hh.query()) == [2, 3, 8, 327]


def test_const_sketch_planted_and_merge(rng):
    m = (1 << 20) - 1
    planted = np.array([3, 134, 2345, 38474, 374298, 374299, 1000000], dtype=np.uint64)
    draws = _planted_stream(rng, m, 1 << 20, planted)
    bulk = ConstSketchHH(phi=0.05, epsilon=0.005, delta=0.1, m=m, gran=8,
                         seed_stream=SeedStream(1, 2))
    bulk.update_batch(draws)
    assert sorted(i for i, _ in bulk.query()) == sorted(int(p) for p in planted)
    # linear: permuted-partition merge byte-identical
    parts = [draws[i::4] for i in range(4)]
    states = []
    for p in parts[::-1]:
        s = ConstSketchHH(phi=0.05, epsilon=0.005, delta=0.1, m=m, gran=8,
                          seed_stream=SeedStream(1, 2))
        s.update_batch(p)
        states.append(s)
    acc = states[0]
    for s in states[1:]:
        acc = acc.merge(s)
    assert acc.to_bytes() == bulk.to_bytes()
    r = Sketch.from_bytes(bulk.to_bytes())
    assert sorted(r.query()) == sorted(bulk.query())


@pytest.mark.parametrize("cls", [DyadicHH, ConstSketchHH])
@pytest.mark.parametrize("n", [10, 50000])
def test_out_of_universe_ids_rejected_before_any_update(cls, n):
    """An id above m must raise ValueError before norm or any level is
    touched, for sparse and for dense (multi-chunk) batches."""
    m = (1 << 20) - 1
    hh = cls(phi=0.05, epsilon=0.01, delta=0.1, m=m, gran=8, seed_stream=SeedStream(1, 2))
    hh.update_batch(np.arange(1000, dtype=np.uint64))
    before, norm = hh.to_bytes(), hh.norm
    bad = np.full(n, 7, dtype=np.uint64)
    bad[-1] = m + 1
    with pytest.raises(ValueError, match=f"m={m}"):
        hh.update_batch(bad)
    assert hh.norm == norm
    assert hh.to_bytes() == before


def test_phi_guard():
    with pytest.raises(ValueError):
        DyadicHH(phi=0.01, epsilon=0.02, delta=0.1)  # phi must exceed eps


@pytest.mark.parametrize(
    "make",
    [
        lambda m: DyadicHH(
            phi=0.01, delta=0.05, m=m, gran=8, sketch_type="count_sketch",
            width=1 << 10, depth=5, seed_stream=SeedStream(1, 2),
        ),
        lambda m: ConstSketchHH(phi=0.01, delta=0.05, m=m, gran=8, seed_stream=SeedStream(1, 2)),
    ],
    ids=["dyadic_count_sketch", "const_sketch"],
)
def test_query_phi_guard(make):
    """query(phi) keeps the constructor's guard phi > epsilon
    (sketch.c:27). At or below epsilon a count-sketch level threshold
    phi*L1 - eps*L1 is <= 0, every prefix survives, and on the 32-bit
    universe the BFS expands every leaf; it must raise instead."""
    m = (1 << 16) - 1
    hh = make(m)
    rng = np.random.default_rng(5)
    hh.update_batch((rng.zipf(1.3, 50000) % (m + 1)).astype(np.uint64))
    default = hh.query()
    for phi in (hh.epsilon, 0.001):
        with pytest.raises(ValueError, match="exceed epsilon"):
            hh.query(phi)
    assert default and hh.query() == default == hh.query(hh.phi)


def test_partial_width_depth_override_raises():
    """ADVICE r04 #1: passing only one of width/depth used to silently
    fall back to the (eps, delta)-derived dims; it must raise."""
    from heavy_hitters_spark.core import CountMin, CountSketch

    for kw in ({"width": 1 << 12}, {"depth": 5}):
        with pytest.raises(ValueError, match="together"):
            CountMin(epsilon=0.01, delta=0.05, **kw)
        with pytest.raises(ValueError, match="together"):
            CountSketch(epsilon=0.01, delta=0.05, **kw)
        with pytest.raises(ValueError, match="together"):
            DyadicHH(phi=0.01, epsilon=0.005, delta=0.05, **kw)


@pytest.mark.parametrize("seed", [3, 11, 29])
def test_cs_hierarchy_recall_at_gated_dims(seed):
    """VERDICT r04 #7: the phi_heavy_users_cs driver query overrides
    the CS hierarchy's level-sketch dims to 2^16 x 7 (the reference's
    -w/-h trade; the derived dims are ~1.5 GB/level) and then relies on
    candidate RECALL only — exact verification filters false positives.
    Pin that contract: under the EXACT production parameters
    (phi=0.005, eps=phi/2, gran=8, m=2^32-1, count_sketch, 2^16 x 7,
    the production seed stream), a user whose NET turnstile frequency
    sits just above phi*L1 must always surface as a candidate, across
    background streams, update chunkings, and partition merges."""
    import math

    from heavy_hitters_spark.spark.keys import MASK32

    rng = np.random.default_rng(seed)
    n_bg = 1200
    users = rng.integers(0, MASK32 + 1, n_bg, dtype=np.uint64)
    # background net counts: skewed positives plus some deletions
    counts = (rng.zipf(1.5, n_bg) % 500).astype(np.int64) + 1
    deletions = -(counts[: n_bg // 4] // 3)
    bg_users = np.concatenate([users, users[: n_bg // 4]])
    bg_counts = np.concatenate([counts, deletions])
    net_bg = int(bg_counts.sum())
    phi = 0.005
    planted = np.uint64(1234567891)
    t = int(math.ceil(phi * net_bg / (1.0 - phi))) + 2  # net just above phi*L1
    d = 50  # planted deletions too: +-(t+d) insert/delete churn, net t
    all_users = np.concatenate([bg_users, [planted, planted]])
    all_counts = np.concatenate([bg_counts, [t + d, -d]]).astype(np.int64)
    total = int(all_counts.sum())
    assert t >= phi * total  # fixture self-check: planted is a true HH

    def make():
        return DyadicHH(
            phi=phi, epsilon=phi / 2, delta=0.05, m=MASK32, gran=8,
            sketch_type="count_sketch", seed_stream=SeedStream(1234, 5678),
            width=1 << 16, depth=7,
        )

    # single-shot build
    perm = rng.permutation(len(all_users))
    hh = make()
    hh.update_batch(all_users[perm], all_counts[perm])
    assert int(planted) in {i for i, _ in hh.query()}

    # 4-partition build + merge (the distributed shape)
    parts = [make() for _ in range(4)]
    for i, p in enumerate(parts):
        sl = perm[i::4]
        p.update_batch(all_users[sl], all_counts[sl])
    acc = parts[0]
    for p in parts[1:]:
        acc = acc.merge(p)
    assert acc.norm == total
    assert int(planted) in {i for i, _ in acc.query()}


def test_dyadic_width_depth_override():
    """Global width/depth override (the reference's -w/-h flags,
    applied to every level sketch) must produce level sketches with
    exactly those dims and still answer queries correctly."""
    import numpy as np

    from heavy_hitters_spark.core import SeedStream
    from heavy_hitters_spark.hh import DyadicHH

    hh = DyadicHH(
        phi=0.01, epsilon=0.005, delta=0.05, m=(1 << 32) - 1, gran=8,
        sketch_type="count_sketch", seed_stream=SeedStream(7, 8),
        width=1 << 12, depth=5,
    )
    for kind, s in hh.levels:
        if kind == "sketch":
            assert (s.w, s.d) == (1 << 12, 5)
    rng = np.random.default_rng(3)
    items = np.concatenate([
        rng.integers(0, 1 << 20, 3000).astype(np.uint64),
        np.full(500, 42, dtype=np.uint64),
    ])
    hh.update_batch(items)
    hits = dict(hh.query())
    assert 42 in hits
    # serde roundtrip preserves the overridden dims
    hh2 = type(hh).from_bytes(hh.to_bytes())
    assert dict(hh2.query()) == hits
