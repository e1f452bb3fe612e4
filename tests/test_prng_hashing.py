"""PRNG + hash family contracts (reference parity: src/util/hash.c,
xutil.h; test discipline mirrors tests/test_hash.c)."""

import numpy as np
import pytest

from heavy_hitters_spark.core import MOD_P, SeedStream, cm_dims, cs_dims
from heavy_hitters_spark.core.hashing import (
    FAMILIES,
    cw,
    hash_M,
    ms,
    ms2,
    next_pow_2,
    sign_ms,
    splitmix64,
)


def test_seedstream_deterministic():
    a, b = SeedStream(1234, 5678), SeedStream(1234, 5678)
    assert [a.uni() for _ in range(100)] == [b.uni() for _ in range(100)]


def test_seedstream_range():
    s = SeedStream(1, 2)
    vals = [s.uni() for _ in range(10000)]
    assert all(0.0 <= v < 1.0 for v in vals)
    assert 0.45 < sum(vals) / len(vals) < 0.55  # roughly uniform


def test_seed_generator_contracts():
    """Seed ranges per hash.c:44-59,84-90 and hash.h:57-93."""
    s = SeedStream(1234, 5678)
    for _ in range(1000):
        a = s.ms_agen()
        assert a & 1 and a <= 0xFFFFFFFF
        b = s.ms_bgen(10)
        assert 0 <= b < 2**22
        ca = s.cw_agen()
        assert 0 < ca < MOD_P
        cb = s.cw_bgen()
        assert 0 <= cb < MOD_P


def test_dims_reference_parameterization():
    # tests/test_sketch_count_min.c:9-25: b=2, eps=.25, delta=.2 -> w=8, d=3
    assert cm_dims(0.25, 0.2, b=2) == (8, 3)
    # tests/test_sketch_count_median.c:9-47: b=6, eps=.25, delta=.2 -> w=96, d=15
    assert cs_dims(0.25, 0.2, b=6) == (96, 15)


def test_dims_published_parameterization():
    w, d = cm_dims(0.01, 0.01, parameterization="published")
    assert w == int(np.ceil(np.e / 0.01)) and d == int(np.ceil(np.log(100)))


def test_ms_uint32_wraparound():
    """Explicit wrap semantics of (uint32)(a*x+b) (hash.c:65-82)."""
    x = np.array([0xFFFFFFFF], dtype=np.uint64)
    a, b, M = 0xDEADBEEF | 1, 12345, 10
    expected = ((((a * 0xFFFFFFFF) + b) & 0xFFFFFFFF) >> (32 - M))
    assert ms(x, 1 << M, M, a, b)[0] == expected


def test_multiply_shift_uint32_lanes():
    """ms, ms2 and sign_ms run in uint32 lanes. On ids at or above 2^32
    and on (d, 1) seed columns they must equal the written-out formula
    ((a*x+b) & 0xFFFFFFFF) >> (32-M), with b = 0 for ms2."""
    rng = np.random.default_rng(3)
    x = np.concatenate([
        rng.integers(0, 1 << 32, 200, dtype=np.uint64),
        rng.integers(1 << 32, 1 << 64, 200, dtype=np.uint64, endpoint=False),
        np.array([0, 0xFFFFFFFF, 1 << 32, (1 << 64) - 1], dtype=np.uint64),
    ])
    s, M = SeedStream(11, 12), 12
    seeds = [(s.ms_agen(), s.ms_bgen(M), s.sign_ms_agen(), s.sign_ms_bgen()) for _ in range(4)]
    cols = np.array(seeds, dtype=np.uint64).T[:, :, None]

    def formula(a, b, shift):
        return [(((a * v + b) & 0xFFFFFFFF) >> shift) for v in x.tolist()]

    ms_rows = ms(x, 1 << M, M, cols[0], cols[1])
    ms2_rows = ms2(x, 1 << M, M, cols[0], cols[1])
    sign_rows = sign_ms(x, cols[2], cols[3])
    assert ms_rows.shape == ms2_rows.shape == sign_rows.shape == (4, len(x))
    for r, (a, b, sa, sb) in enumerate(seeds):
        assert ms_rows[r].tolist() == formula(a, b, 32 - M)
        assert ms(x, 1 << M, M, a, b).tolist() == formula(a, b, 32 - M)
        assert ms2_rows[r].tolist() == formula(a, 0, 32 - M)
        assert sign_rows[r].tolist() == [2 * bit - 1 for bit in formula(sa, sb, 31)]


def test_cw_mersenne_mask():
    x = np.array([123456789], dtype=np.uint64)
    a, b, w = 98765432101234567, 1234567, 1000
    expected = (((a * 123456789 + b) & (2**64 - 1)) & MOD_P) % w
    assert cw(x, w, hash_M(w), a, b)[0] == expected


def test_sign_values():
    s = SeedStream(1, 2)
    a, b = s.sign_ms_agen(), s.sign_ms_bgen()
    v = sign_ms(np.arange(1000, dtype=np.uint64), a, b)
    assert set(np.unique(v)) <= {-1, 1}
    assert 0.4 < (v == 1).mean() < 0.6


@pytest.mark.parametrize("fam", list(FAMILIES))
def test_uniformity(fam):
    """10^5 draws into w bins; per-bin deviation bounded
    (tests/test_hash.c:24-94 does 10^6 at 5%)."""
    f = FAMILIES[fam]
    w = 1 << 8
    s = SeedStream(1234, 5678)
    a, b = f.gen_seeds(s, hash_M(w))
    x = np.arange(100000, dtype=np.uint64)
    h = f(x, w, hash_M(w), a, b)
    assert h.min() >= 0 and h.max() < w
    counts = np.bincount(h, minlength=w)
    assert abs(counts - 100000 / w).max() < 0.25 * (100000 / w)


def test_next_pow_2():
    assert [next_pow_2(v) for v in (1, 2, 3, 5, 1023, 1024)] == [1, 2, 4, 8, 1024, 1024]


def test_splitmix_deterministic():
    a = splitmix64(np.arange(10, dtype=np.uint64), 7)
    b = splitmix64(np.arange(10, dtype=np.uint64), 7)
    assert np.array_equal(a, b)
    assert len(np.unique(a)) == 10
