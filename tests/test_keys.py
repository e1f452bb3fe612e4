"""keys.xxh64_array, the numpy-lane xxHash64 of the fused text build,
must be bit-equal to the scalar keys.xxh64 and to Spark's xxhash64."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from heavy_hitters_spark.spark.keys import MASK32, key_id_col, xxh64, xxh64_array

BINARY = (pa.binary(), pa.large_binary())
STRING = (pa.string(), pa.large_string())


def _check(values: list, typ: pa.DataType, lo: int, hi: int) -> None:
    arr = pa.array(values, typ)
    want = [xxh64(v if isinstance(v, bytes) else v.encode()) for v in values]
    assert xxh64_array(arr).tolist() == want
    assert xxh64_array(arr.slice(lo, hi - lo)).tolist() == want[lo:hi]


def test_every_length_to_140_bytes():
    """Every tail shape of the 1-, 4-, 8-byte steps, before and after
    one to four 32-byte stripes."""
    rng = np.random.default_rng(3)
    values = [rng.integers(0, 256, n, dtype=np.uint8).tobytes() for n in range(141)]
    for typ in BINARY:
        _check(values, typ, 7, 120)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.binary(max_size=140), max_size=40), st.data())
def test_binary_parity(values, data):
    lo = data.draw(st.integers(0, len(values)))
    hi = data.draw(st.integers(lo, len(values)))
    for typ in BINARY:
        _check(values, typ, lo, hi)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(max_size=40), max_size=40), st.data())
def test_string_parity(values, data):
    lo = data.draw(st.integers(0, len(values)))
    hi = data.draw(st.integers(lo, len(values)))
    for typ in STRING:
        _check(values, typ, lo, hi)


def test_chunked_and_rejects():
    chunked = pa.chunked_array([pa.array(["a", "bb"]), pa.array(["c" * 40])])
    assert xxh64_array(chunked).tolist() == [xxh64(b"a"), xxh64(b"bb"), xxh64(b"c" * 40)]
    with pytest.raises(ValueError):
        xxh64_array(pa.array(["a", None]))
    with pytest.raises(TypeError):
        xxh64_array(pa.array([1, 2]))


def test_matches_spark_xxhash64(spark):
    """The masked ids equal key_id_col (Spark's xxhash64) on a sample of
    2,000 strings of up to 99 characters, ASCII and multibyte UTF-8."""
    rng = np.random.default_rng(11)
    alphabet = list("abcxyz019 _-") + ["é", "日", "😀"]
    values = ["".join(rng.choice(alphabet, n)) for n in rng.integers(0, 100, 2000)]
    rows = spark.createDataFrame([(v,) for v in values], "s string").select(key_id_col("s").alias("id")).collect()
    got = xxh64_array(pa.array(values)) & np.uint64(MASK32)
    assert max(len(v.encode()) for v in values) >= 100
    assert got.tolist() == [r["id"] for r in rows]
