"""Sketch contracts: dims, one/two-sided error, published (eps, delta)
bounds (precision_sketch.c semantics), serde, conservative-update
sandwich, MG/HLL/Bloom/KLL guarantees."""

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
    Sketch,
    TDigest,
)


def exact_counts(items, weights=None, size=None):
    size = size or int(items.max()) + 1
    return np.bincount(
        items.astype(np.int64), weights=weights, minlength=size
    ).astype(np.int64)


def test_cm_exact_on_small_stream(micro_pairs):
    """Single/low-collision streams recover exactly
    (tests/test_sketch_count_min.c:56-86)."""
    items, w = micro_pairs
    cm = CountMin(epsilon=0.01, delta=0.05, b=2, seed_stream=SeedStream(1, 2))
    cm.update_batch(items, w)
    assert np.array_equal(cm.point(items), w)


def test_cm_one_sided(rng):
    data = rng.integers(0, 5000, 200000, dtype=np.uint64)
    cm = CountMin(width=256, depth=4, seed_stream=SeedStream(1, 2))
    cm.update_batch(data)
    exact = exact_counts(data, size=5000)
    assert np.all(cm.point(np.arange(5000)) >= exact)
    assert cm.norm == len(data)


def test_cm_epsilon_delta_bound(rng):
    """|est - exact| <= eps*L1 for >= 1-delta of the universe
    (src/precision_sketch.c:282-308)."""
    eps, delta, b = 1 / 64, 0.1, 4
    data = (rng.zipf(1.3, 100000) % 10000).astype(np.uint64)
    cm = CountMin(epsilon=eps, delta=delta, b=b, seed_stream=SeedStream(1, 2))
    cm.update_batch(data)
    exact = exact_counts(data, size=10000)
    err = cm.point(np.arange(10000)) - exact
    violation_rate = (err > eps * cm.norm).mean()
    assert violation_rate <= delta


def test_cm_above_threshold_and_range(micro_pairs):
    items, w = micro_pairs
    cm = CountMin(epsilon=0.001, delta=0.05, b=2, seed_stream=SeedStream(1, 2))
    cm.update_batch(items, w)
    assert cm.above_threshold(np.array([327]), 78923)[0]
    assert not cm.above_threshold(np.array([4]), 1000)[0]
    # naive range parity: sum of points (count_min.c:147-156)
    assert cm.range_sum(1, 9) == int(cm.point(np.arange(1, 10)).sum())


@pytest.mark.parametrize(
    "make",
    [
        lambda: CountMin(width=256, depth=4, seed_stream=SeedStream(1, 2)),
        lambda: CountMin(width=256, depth=4, conservative=True, seed_stream=SeedStream(1, 2)),
        lambda: CountMin(epsilon=0.01, delta=0.05, hash_family="cw", seed_stream=SeedStream(1, 2)),
        lambda: CountMin(width=256, depth=4, hash_family="ms2", seed_stream=SeedStream(1, 2)),
        lambda: CountSketch(width=256, depth=5, seed_stream=SeedStream(1, 2)),
    ],
    ids=["cm", "cm_conservative", "cm_cw", "cm_ms2", "cs"],
)
def test_point_ge_equals_point_then_filter(make, rng):
    """point_ge(items, th) -> (indices, estimates) of the items whose
    point estimate is >= th, in input order; CountMin prunes row by
    row, so its answer must match the full estimate then the filter."""
    sk = make()
    sk.update_batch((rng.zipf(1.3, 20000) % 5000).astype(np.uint64))
    probes = np.concatenate([np.arange(300, dtype=np.uint64), rng.integers(0, 1 << 32, 300, dtype=np.uint64)])
    est = sk.point(probes)
    for th in (-5, 0, 1, 7.5, 40, int(est.max()), int(est.max()) + 1):
        idx, got = sk.point_ge(probes, th)
        want = np.flatnonzero(est >= th)
        assert np.array_equal(idx, want) and np.array_equal(got, est[want]), th
    idx, got = sk.point_ge(np.empty(0, dtype=np.uint64), 1)
    assert len(idx) == 0 and len(got) == 0


def test_cs_exact_small_and_unbiased(micro_pairs, rng):
    items, w = micro_pairs
    cs = CountSketch(epsilon=0.05, delta=0.05, b=4, seed_stream=SeedStream(1, 2))
    cs.update_batch(items, w)
    assert np.array_equal(cs.point(items), w)
    # two-sided error within eps*L2
    data = (rng.zipf(1.5, 100000) % 4096).astype(np.uint64)
    cs2 = CountSketch(epsilon=1 / 32, delta=0.1, b=4, seed_stream=SeedStream(1, 2))
    cs2.update_batch(data)
    exact = exact_counts(data, size=4096)
    l2 = np.sqrt((exact.astype(float) ** 2).sum())
    err = np.abs(cs2.point(np.arange(4096)) - exact)
    assert (err > (1 / 32) * l2).mean() <= 0.1


def test_cs_turnstile_and_l2(rng):
    """Signed updates (strict turnstile) + AMS L2 in [sqrt(L1), L1]
    (tests/test_norm_l2_sketch.c:49-89)."""
    cs = CountSketch(width=1 << 12, depth=7, seed_stream=SeedStream(1, 2))
    items = rng.integers(0, 100, 5000, dtype=np.uint64)
    cs.update_batch(items, np.full(5000, 2, dtype=np.int64))
    cs.update_batch(items, np.full(5000, -1, dtype=np.int64))  # net +1 each
    exact = exact_counts(items, size=100)
    assert np.array_equal(cs.point(np.arange(100)), exact)
    l1 = exact.sum()
    l2_exact = np.sqrt((exact.astype(float) ** 2).sum())
    assert abs(cs.l2_norm() - l2_exact) / l2_exact < 0.2
    assert np.sqrt(l1) <= cs.l2_norm() <= l1


def test_cs_point_partial(micro_pairs):
    items, w = micro_pairs
    cs = CountSketch(width=1 << 10, depth=5, seed_stream=SeedStream(1, 2))
    cs.update_batch(items, w)
    # lower median of per-row partials equals point (count_median.c:102-143)
    partials = np.stack([cs.point_partial(items, r) for r in range(cs.d)])
    k = (cs.d - 1) // 2
    assert np.array_equal(np.partition(partials, k, axis=0)[k], cs.point(items))


def test_conservative_sandwich(rng):
    data = rng.integers(0, 2000, 100000, dtype=np.uint64)
    exact = exact_counts(data, size=2000)
    cu = CountMin(width=512, depth=4, seed_stream=SeedStream(1, 2), conservative=True)
    pl = CountMin(width=512, depth=4, seed_stream=SeedStream(1, 2))
    for chunk in np.array_split(data, 7):
        cu.update_batch(chunk)
        pl.update_batch(chunk)
    pc, pp = cu.point(np.arange(2000)), pl.point(np.arange(2000))
    assert np.all(pc >= exact)
    assert np.all(pc <= pp)
    assert pc.sum() < pp.sum()  # strictly tighter somewhere on this data


def test_misra_gries_bounds(rng):
    data = (rng.zipf(1.2, 100000) % 5000).astype(np.uint64)
    mg = MisraGries(k=128)
    for chunk in np.array_split(data, 13):
        mg.update_batch(chunk)
    exact = exact_counts(data, size=5000)
    est = mg.point(np.arange(5000))
    assert np.all(est <= exact)
    assert np.all(exact - est <= mg.norm / (mg.k + 1))
    # every item above the bound is in the summary
    heavy = np.where(exact > mg.norm / (mg.k + 1))[0]
    assert all(int(h) in mg.counters for h in heavy)


def test_hll_error(rng):
    for n in (1000, 50000, 300000):
        h = HLL(p=12)
        h.update_batch(rng.integers(0, 2**62, n, dtype=np.uint64))
        # 5-sigma tolerance on 1.04/sqrt(m)
        assert abs(h.estimate() - n) / n < 5 * h.rel_std_error() + 0.01


def test_bloom_rates(rng):
    bl = Bloom(capacity=20000, fpp=0.01)
    keys = rng.integers(0, 2**62, 20000, dtype=np.uint64)
    bl.update_batch(keys)
    assert bl.contains(keys[:1000]).all()  # no false negatives
    probe = rng.integers(2**62, 2**63, 20000, dtype=np.uint64)
    assert bl.contains(probe).mean() < 0.03


def test_kll_rank_error(rng):
    n = 200000
    kll = KLL(k=200)
    for chunk in np.array_split(rng.permutation(np.arange(n)), 9):
        kll.update_batch(chunk)
    qs = np.linspace(0.01, 0.99, 21)
    est = kll.quantile(qs)
    assert np.all(np.abs(est - qs * n) <= 0.02 * n)


def _weighted_rank_error(kll, vals, counts, qs) -> float:
    """Worst distance from each q to the rank interval [F(v-), F(v)]
    of the weighted truth at the estimated q-quantile v."""
    order = np.argsort(vals, kind="stable")
    v = np.asarray(vals, dtype=np.float64)[order]
    cum = np.cumsum(counts[order]) / counts.sum()
    worst = 0.0
    for q, e in zip(qs, kll.quantile(qs)):
        lo = np.searchsorted(v, e, side="left")
        hi = np.searchsorted(v, e, side="right")
        below = cum[lo - 1] if lo else 0.0
        upto = cum[hi - 1] if hi else 0.0
        worst = max(worst, below - q, q - upto, 0.0)
    return worst


def test_kll_weighted_update_honours_counts(rng):
    """``counts`` reach KLL: its weight n is the count sum and its
    quantiles are those of the weighted stream. Negative counts raise
    before any mutation; a zero count is a no-op."""
    kll = KLL()
    kll.update_batch([1, 2, 3], [1000, 1, 1])
    assert kll.n == 1002
    assert kll.quantile(0.5)[0] == 1.0

    vals = rng.integers(0, 5000, 20000).astype(np.float64)
    counts = rng.integers(0, 50, len(vals)).astype(np.int64)
    kll = KLL(k=200)
    for lo in range(0, len(vals), 5000):
        kll.update_batch(vals[lo:lo + 5000], counts[lo:lo + 5000])
    assert kll.n == int(counts.sum())
    qs = np.linspace(0.01, 0.99, 21)
    assert _weighted_rank_error(kll, vals, counts, qs) <= 0.02

    before = kll.to_bytes()
    with pytest.raises(ValueError):
        kll.update_batch([1.0, 2.0], [3, -1])
    kll.update_batch([7.0, 8.0], [0, 0])
    assert kll.to_bytes() == before


def test_kll_weighted_equals_collapsed(rng):
    """One update contract: raw items, items with unit counts and the
    pre-collapsed sorted (unique, counts) batch give byte-equal KLL
    states, over one batch and over a multi-batch stream; a weighted
    batch with duplicates equals its collapsed form."""
    items = (rng.zipf(1.3, 20000) % 3000).astype(np.uint64)
    w = rng.integers(0, 5, len(items)).astype(np.int64)  # includes zeros

    def collapsed(xi, wi):
        ux, inv = np.unique(xi, return_inverse=True)
        uc = np.zeros(len(ux), dtype=np.int64)
        np.add.at(uc, inv, wi)
        return ux, uc

    for step in (len(items), 4096):  # one batch, then five
        raw, unit, pre = KLL(k=64), KLL(k=64), KLL(k=64)
        wt, wt_pre = KLL(k=64), KLL(k=64)
        for lo in range(0, len(items), step):
            xi, wi = items[lo:lo + step], w[lo:lo + step]
            raw.update_batch(xi)
            unit.update_batch(xi, np.ones(len(xi), dtype=np.int64))
            pre.update_batch(*np.unique(xi, return_counts=True))
            wt.update_batch(xi, wi)
            wt_pre.update_batch(*collapsed(xi, wi))
        assert raw.to_bytes() == unit.to_bytes() == pre.to_bytes()
        assert wt.to_bytes() == wt_pre.to_bytes()
        assert raw.n == len(items) and wt.n == int(w.sum())


def test_kll_zipf_weighted_and_unit_rank_error(rng):
    """On a Zipf token stream (32-bit ids, 10k vocabulary) both the
    unit-weight feed and a weighted feed of the collapsed stream in
    shuffled (id, count) chunks stay within 0.02 rank error."""
    vocab = rng.integers(0, 1 << 32, 10_000).astype(np.uint64)
    ids = vocab[(rng.zipf(1.1, 500_000) - 1) % len(vocab)]
    qs = np.linspace(0.01, 0.99, 21)
    ones = np.ones(len(ids), dtype=np.int64)

    unit = KLL(k=200)
    for chunk in np.array_split(ids, 8):
        unit.update_batch(chunk)
    assert unit.n == len(ids)
    assert _weighted_rank_error(unit, ids, ones, qs) <= 0.02

    ux, uc = np.unique(ids, return_counts=True)
    perm = rng.permutation(len(ux))
    weighted = KLL(k=200)
    for part in np.array_split(perm, 3):
        weighted.update_batch(ux[part], uc[part])
    assert weighted.n == len(ids)
    assert _weighted_rank_error(weighted, ux, uc, qs) <= 0.02


def test_kll_merge_rejects_mismatched_params():
    """A KLL merge with a different ``k`` or ``seed`` raises ValueError
    and leaves the receiver unchanged, also under ``python -O`` (which
    strips asserts)."""
    import os
    import subprocess
    import sys

    with pytest.raises(ValueError):
        KLL(k=200).merge(KLL(k=100))
    code = (
        "from heavy_hitters_spark.core import KLL\n"
        "for other in (KLL(k=100), KLL(k=200, seed=1), KLL(k=100, seed=1)):\n"
        "    a = KLL(k=200)\n"
        "    a.update_batch([1.0, 2.0, 3.0])\n"
        "    before = a.to_bytes()\n"
        "    try:\n"
        "        a.merge(other)\n"
        "    except ValueError:\n"
        "        if a.to_bytes() != before:\n"
        "            raise SystemExit('receiver mutated')\n"
        "    else:\n"
        "        raise SystemExit('merge accepted')\n"
        "print('ok')\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root)
    out = subprocess.run(
        [sys.executable, "-O", "-c", code], env=env, cwd=root, capture_output=True, text=True
    )
    assert out.returncode == 0 and out.stdout.strip() == "ok", out.stderr


def test_serde_roundtrip_all(micro_pairs, rng):
    items, w = micro_pairs
    data = rng.integers(0, 1000, 10000, dtype=np.uint64)
    sketches = [
        CountMin(width=256, depth=4, seed_stream=SeedStream(1, 2)),
        CountMin(width=256, depth=4, seed_stream=SeedStream(1, 2), conservative=True),
        CountSketch(width=256, depth=5, seed_stream=SeedStream(1, 2)),
        MisraGries(k=64),
        HLL(p=10),
        Bloom(capacity=5000),
        KLL(k=128),
    ]
    for s in sketches:
        s.update_batch(data)
        r = Sketch.from_bytes(s.to_bytes())
        assert type(r) is type(s)
        if hasattr(s, "point"):
            assert np.array_equal(r.point(np.arange(100)), s.point(np.arange(100)))
        if isinstance(s, HLL):
            assert r.estimate() == s.estimate()
        if isinstance(s, KLL):
            assert np.array_equal(r.quantile([0.5]), s.quantile([0.5]))
        if isinstance(s, Bloom):
            assert np.array_equal(r.contains(data[:50]), s.contains(data[:50]))


def test_tdigest_quantiles(rng):
    from heavy_hitters_spark.core import TDigest

    data = rng.lognormal(0, 2, 100000)
    td = TDigest(200)
    for chunk in np.array_split(data, 9):
        td.update_batch(chunk)
    qs = [0.01, 0.5, 0.99]
    exact = np.quantile(data, qs)
    assert np.all(np.abs(td.quantile(qs) - exact) / exact < 0.02)
    # merge preserves bounds
    t1, t2 = TDigest(200), TDigest(200)
    t1.update_batch(data[::2])
    t2.update_batch(data[1::2])
    t1.merge(t2)
    assert np.all(np.abs(t1.quantile(qs) - exact) / exact < 0.02)
    r = Sketch.from_bytes(t1.to_bytes())
    assert np.allclose(r.quantile(qs), t1.quantile(qs))


def test_weighted_stream(rng):
    """weighted generator mirror (datasets/Weighted/src/weighted.c:131-140):
    item i has weight proportional to (i+1)."""
    n = 500
    items = np.arange(n, dtype=np.uint64)
    weights = ((items.astype(np.int64) + 1)).astype(np.int64)
    cm = CountMin(epsilon=0.001, delta=0.01, b=2, seed_stream=SeedStream(1, 2))
    cm.update_batch(items, weights)
    assert np.array_equal(cm.point(items), weights)


def test_weighted_updates_exact_past_2_53():
    """Weighted batches whose per-cell sums exceed 2^53 must stay exact
    (float64-weighted bincount would truncate silently)."""
    big = (1 << 52) + 1
    n = 64  # dense-path trigger for w=8 (n >= 2*w)
    items = np.full(n, 7, dtype=np.uint64)
    counts = np.full(n, big, dtype=np.int64)
    cm = CountMin(width=8, depth=3, seed_stream=SeedStream(1, 2))
    cm.update_batch(items, counts)
    assert int(cm.point(np.array([7], dtype=np.uint64))[0]) == n * big
    cs = CountSketch(width=8, depth=3, seed_stream=SeedStream(1, 2))
    cs.update_batch(items, counts)
    assert int(cs.point(np.array([7], dtype=np.uint64))[0]) == n * big


def test_misra_gries_decrement_witness_on_ties():
    """Tie-heavy input can shrink MG below k counters (even to zero)
    while decrement > 0 — the decrement witness must reflect the true
    worst-case undercount so hybrid queries can gate on it."""
    mg = MisraGries(k=4)
    mg.update_batch(np.array([1, 2, 3, 4, 5], dtype=np.uint64))
    assert len(mg.counters) < 4
    assert mg.decrement >= 1
    # absent items are undercounted by at most decrement
    assert all(1 - mg.decrement <= int(e) for e in mg.point(np.arange(1, 6, dtype=np.uint64)))


def test_wire_pack_roundtrip():
    """Packed wire states (the HHL1 LZ4 envelope) round-trip and interop
    with raw HHS1 blobs, and pack smaller than the raw state."""
    import numpy as np

    from heavy_hitters_spark.core import CountMin, SeedStream
    from heavy_hitters_spark.core.base import pack_state, unpack_state

    cm = CountMin(width=1 << 12, depth=5, seed_stream=SeedStream(1, 2))
    cm.update_batch(np.arange(1000, dtype=np.uint64))
    raw = cm.to_bytes()
    packed = pack_state(cm)
    assert len(packed) < len(raw)
    for blob in (raw, packed):
        got = unpack_state(blob)
        assert got.to_bytes() == raw  # identical state either way


def test_unpack_state_rejects_garbage():
    import pytest as _pytest

    from heavy_hitters_spark.core.base import unpack_state

    with _pytest.raises(ValueError):
        unpack_state(b"NOPE" + b"\x00" * 16)


def test_pairs_by_size_edges():
    """Kernel pair expansion: empty input and all-singleton buckets
    produce empty output; cap drops oversized buckets only."""
    import numpy as np

    from heavy_hitters_spark.functions.dedup import _pairs_by_size

    e = np.empty(0, dtype=np.int64)
    a, b = _pairs_by_size(e, e, None)
    assert len(a) == 0 and len(b) == 0
    # singletons only
    a, b = _pairs_by_size(np.array([1, 2, 3]), np.array([10, 20, 30]), None)
    assert len(a) == 0
    # one pair bucket + one capped-out bucket
    key = np.array([5, 5, 9, 9, 9, 9])
    ids = np.array([2, 1, 7, 8, 9, 6])
    a, b = _pairs_by_size(key, ids, max_bucket_size=3)
    assert list(zip(a.tolist(), b.tolist())) == [(1, 2)]
    a, b = _pairs_by_size(key, ids, max_bucket_size=None)
    assert len(a) == 1 + 6  # pair + C(4,2)


def test_misra_gries_weighted_equals_collapsed_and_reference(rng):
    """The weighted update path (argsort + reduceat batch collapse,
    round-5 rewrite) must be byte-identical to (a) feeding the batch
    pre-collapsed to sorted (unique, counts) — the map-side-combine
    contract the fused kernel relies on — and (b) the straightforward
    unique(return_inverse) + add.at reference collapse it replaced.
    Also: a weighted batch of unit counts == the unweighted path."""
    items = (rng.zipf(1.3, 20000) % 3000).astype(np.uint64)
    w = rng.integers(0, 5, len(items)).astype(np.int64)  # includes zeros

    mg_w = MisraGries(k=64)
    mg_w.update_batch(items, w)

    # (a) pre-collapsed equivalent batch
    ux, inv = np.unique(items, return_inverse=True)
    uc = np.zeros(len(ux), dtype=np.int64)
    np.add.at(uc, inv, w)
    mg_c = MisraGries(k=64)
    mg_c.update_batch(ux, uc)
    assert mg_w.to_bytes() == mg_c.to_bytes()

    # (b) multi-chunk weighted stream == same chunks collapsed per chunk
    mg_s, mg_s2 = MisraGries(k=64), MisraGries(k=64)
    for lo in range(0, len(items), 4096):
        xi, wi = items[lo:lo + 4096], w[lo:lo + 4096]
        mg_s.update_batch(xi, wi)
        uxi, invi = np.unique(xi, return_inverse=True)
        uci = np.zeros(len(uxi), dtype=np.int64)
        np.add.at(uci, invi, wi)
        mg_s2.update_batch(uxi, uci)
    assert mg_s.to_bytes() == mg_s2.to_bytes()

    # unit weights == unweighted path
    mg_u1, mg_u2 = MisraGries(k=64), MisraGries(k=64)
    mg_u1.update_batch(items)
    mg_u2.update_batch(items, np.ones(len(items), dtype=np.int64))
    assert mg_u1.to_bytes() == mg_u2.to_bytes()


def test_misra_gries_combine_merge_edges():
    """searchsorted-merge edge cases: batch entirely above / below /
    interleaved with the current state keys; empty state."""
    mg = MisraGries(k=8)
    mg.update_batch(np.array([100, 200, 300], dtype=np.uint64),
                    np.array([5, 6, 7], dtype=np.int64))
    # all below
    mg.update_batch(np.array([1, 2], dtype=np.uint64), np.array([1, 1], dtype=np.int64))
    # all above
    mg.update_batch(np.array([900, 1000], dtype=np.uint64), np.array([2, 2], dtype=np.int64))
    # interleaved incl. exact hits
    mg.update_batch(np.array([2, 150, 200, 950], dtype=np.uint64),
                    np.array([3, 1, 4, 1], dtype=np.int64))
    exact = {100: 5, 200: 10, 300: 7, 1: 1, 2: 4, 900: 2, 1000: 2, 150: 1, 950: 1}
    ks = np.array(sorted(exact), dtype=np.uint64)
    est = mg.point(ks)
    for k, e in zip(ks.tolist(), est.tolist()):
        assert e <= exact[k]
        assert exact[k] - e <= mg.norm // (mg.k + 1) + mg.decrement
    assert np.all(np.diff(mg.items.astype(np.int64)) > 0)  # state stays sorted unique


@pytest.mark.parametrize("family", ["ms", "ms2", "cwp2", "cw2p2"])
def test_pow2_families_reject_non_pow2_width(family):
    """A power-of-2-only hash family with an explicit width of 1000
    would hash into only part of the columns (512 of them for ``ms``);
    construction raises instead.
    Power-of-2 and derived widths still construct and hash."""
    from heavy_hitters_spark.core.hashing import POW2_FAMILIES

    assert family in POW2_FAMILIES
    for make in (CountMin, CountSketch):
        with pytest.raises(ValueError) as err:
            make(width=1000, depth=3, hash_family=family)
        assert "power-of-2" in str(err.value)
        for sk in (make(width=1024, depth=3, hash_family=family), make(epsilon=0.1, hash_family=family)):
            sk.update_batch(np.arange(5000, dtype=np.uint64))
            assert sk.w & (sk.w - 1) == 0
    CountMin(width=1000, depth=3, hash_family="cw").update_batch(np.arange(10, dtype=np.uint64))


def test_misra_gries_zero_weight_leaves_no_candidate():
    """A zero weight (a rounded-down weight column) leaves the same
    bytes as a state that never saw the id — no (id, 0) candidate."""
    mg = MisraGries(k=8)
    mg.update_batch(np.array([5, 6], dtype=np.uint64), np.array([0, 3], dtype=np.int64))
    ref = MisraGries(k=8)
    ref.update_batch(np.array([6], dtype=np.uint64), np.array([3], dtype=np.int64))
    assert mg.to_bytes() == ref.to_bytes()
    assert mg.candidates() == [(6, 3)]
    mg.update_batch(np.array([7], dtype=np.uint64), np.array([0], dtype=np.int64))
    assert mg.to_bytes() == ref.to_bytes()


@pytest.mark.parametrize(
    "make", [lambda: MisraGries(k=8), lambda: KLL(k=16), lambda: TDigest(compression=20)],
    ids=["misra_gries", "kll", "tdigest"],
)
def test_insert_only_summaries_reject_negative_weights(make):
    """MG, KLL and t-digest are cash-register summaries: a deletion
    raises ValueError before the state changes, never a silent drop."""
    sk = make()
    sk.update_batch(np.array([1, 2], dtype=np.uint64), np.array([3, 4], dtype=np.int64))
    before = sk.to_bytes()
    with pytest.raises(ValueError) as err:
        sk.update_batch(np.array([1, 2], dtype=np.uint64), np.array([-5, 1], dtype=np.int64))
    assert "negative weights" in str(err.value)
    assert sk.to_bytes() == before


def test_argument_guards_raise_value_error():
    """Argument guards are ValueErrors, not asserts (which -O strips)."""
    from heavy_hitters_spark.core.countsketch import cs_dims
    from heavy_hitters_spark.hh import DyadicHH

    for p in (3, 19):
        with pytest.raises(ValueError):
            HLL(p=p)
    with pytest.raises(ValueError):
        cs_dims(0.01, 0.01, b=2)
    hh = DyadicHH(phi=0.1, epsilon=0.05, delta=0.1, m=255, gran=4, width=64, depth=2)
    for lo, hi in ((-1, 3), (5, 4), (0, 256)):
        with pytest.raises(ValueError):
            hh.range_count(lo, hi)
