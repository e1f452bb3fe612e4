import numpy as np
import pytest


@pytest.fixture(scope="session")
def spark():
    from heavy_hitters_spark.spark import get_spark

    s = get_spark("local[8]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def rng():
    return np.random.default_rng(42)


# the reference's A[10][2] weighted fixture (tests/test_hh_min_sketch.c:15-30)
MICRO_PAIRS = [
    (1, 3543), (2, 7932), (3, 8234), (4, 48), (5, 58),
    (6, 238), (7, 732), (8, 10038), (9, 78), (327, 78923),
]


@pytest.fixture()
def micro_pairs():
    items = np.array([a for a, _ in MICRO_PAIRS], dtype=np.uint64)
    weights = np.array([c for _, c in MICRO_PAIRS], dtype=np.int64)
    return items, weights
