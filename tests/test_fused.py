"""Fused tokenize->hash->sketch path must be byte-identical to the
exploded Catalyst path (same xxhash64 ids, same seeds)."""

import numpy as np
import pytest

from heavy_hitters_spark.core import CountMin, HLL, MultiSketch, SeedStream
from heavy_hitters_spark.spark import build_sketch, key_id_col, tokens
from heavy_hitters_spark.spark.fused import build_token_sketch


def _tmpl():
    return MultiSketch(
        {
            "cm": CountMin(width=1 << 12, depth=5, seed_stream=SeedStream(1, 2)),
            "hll": HLL(p=12),
        }
    )


def test_fused_equals_explode(spark):
    """Byte-equal even for the order-sensitive children (MG with a
    small k, KLL, conservative CountMin): each task of either build
    updates once with its partition's (id, count) pairs, however the
    rows are cut into Arrow batches. The small batch size makes both
    sides span several batches per task."""
    from heavy_hitters_spark.core import KLL, Bloom, MisraGries

    def tmpl():
        return MultiSketch({
            **_tmpl().sketches,
            "mg": MisraGries(k=16),
            "kll": KLL(k=64, seed=7),
            "ccm": CountMin(width=1 << 10, depth=3, conservative=True, seed_stream=SeedStream(1, 2)),
            "bloom": Bloom(capacity=10_000, fpp=0.01),
        })

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ids = tokens(docs).withColumn("id", key_id_col("token"))
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "64")
    try:
        fused, m1 = build_token_sketch(docs, tmpl(), text_col="text")
        exploded, m2 = build_sketch(ids, tmpl(), id_col="id")
    finally:
        spark.conf.set(conf, old)
    assert m1["n_rows"] > 64 * m1["n_partials"]  # several batches per task
    assert fused.to_bytes() == exploded.to_bytes()
    assert m1["n_updates"] == m2["n_updates"]


def test_fused_partition_invariance(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a, _ = build_token_sketch(docs.repartition(3), _tmpl(), text_col="text")
    b, _ = build_token_sketch(docs.repartition(11), _tmpl(), text_col="text")
    assert a.to_bytes() == b.to_bytes()


def test_fused_preagg_routing_mixed_template(spark):
    """The map-side duplicate collapse must leave every sketch's
    SEMANTICS intact when one template mixes a linear sketch, MG and
    KLL: the linear sketch stays byte-identical to the exploded
    Catalyst path, and KLL — fed the collapsed (id, count) batch as a
    weighted update — must still weigh the full duplicated token stream
    (its weight n is the stream length and its rank estimates match the
    true stream ranks, not the distinct-value ranks, which differ
    grossly on a Zipf-weighted vocabulary)."""
    from heavy_hitters_spark.core import KLL, MisraGries

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def tmpl():
        return MultiSketch({
            "cm": CountMin(width=1 << 12, depth=5, seed_stream=SeedStream(1, 2)),
            "mg": MisraGries(k=256),
            "kll": KLL(k=200, seed=7),
        })

    fused, m1 = build_token_sketch(docs, tmpl(), text_col="text")
    ids_df = tokens(docs).withColumn("id", key_id_col("token"))
    exploded, m2 = build_sketch(ids_df, tmpl(), id_col="id")
    assert m1["n_updates"] == m2["n_updates"]
    # linear sketch: byte-identical to the exploded build
    assert np.array_equal(fused["cm"].table, exploded["cm"].table)

    ids = np.array([r.id for r in ids_df.select("id").collect()], dtype=np.uint64)
    exact = {}
    for i in ids:
        exact[int(i)] = exact.get(int(i), 0) + 1
    n = len(ids)

    # MG (bounds-level contract): undercount <= norm/(k+1)
    mg = fused["mg"]
    assert mg.norm == n
    top = sorted(exact.items(), key=lambda kv: -kv[1])[:20]
    est = mg.point(np.array([t for t, _ in top], dtype=np.uint64))
    for (tok, cnt), e in zip(top, est):
        assert e <= cnt
        assert cnt - e <= mg.norm // (mg.k + 1) + 1

    # KLL (weighted update): its internal weight n equals the stream
    # length, not the distinct count (a feed that dropped the counts
    # would record ~n_distinct), and its stream-rank estimates stay
    # inside the error bound.
    kll = fused["kll"]
    assert kll.n == n
    assert kll.n > 3 * len(exact)  # collapse would have been visible
    sids = np.sort(ids)
    for q in (0.25, 0.5, 0.75):
        est_q = float(np.asarray(kll.quantile(q)).ravel()[0])
        true_rank = np.searchsorted(sids, est_q, side="right") / n
        assert abs(true_rank - q) < 0.05, (q, true_rank)


def test_raw_path_empty_filter_is_slot_based(monkeypatch):
    """A real token whose xxh64&MASK32 collides with h("") must SURVIVE
    the fused kernel's empty-token filter: empty tokens are dropped by
    VALUE, not by hashed id, so such a token is still counted (a filter
    on the hashed id array would silently drop it). Forced by
    monkeypatching the kernel's hash, ``keys.xxh64_array``, so that
    'collider' == h(''), and calling the fused kernel in-process (no
    Spark needed)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from heavy_hitters_spark.core import KLL
    from heavy_hitters_spark.core.base import pack_state, unpack_state
    from heavy_hitters_spark.spark import keys as keys_mod
    from heavy_hitters_spark.spark.fused import _fused_fn

    real, seen = keys_mod.xxh64_array, []

    def colliding(arr):
        h = real(arr)
        hit = np.array(pc.equal(arr, "collider").to_pylist(), dtype=bool)
        h[hit] = keys_mod.xxh64(b"")
        seen.append(int(hit.sum()))
        return h

    monkeypatch.setattr(keys_mod, "xxh64_array", colliding)

    # split on ' ': ['collider', '', 'collider', 'x'] -> 3 real tokens
    batch = pa.RecordBatch.from_pydict({"text": ["collider  collider x"]})
    fn = _fused_fn(pack_state(KLL(k=200, seed=7)), "text")
    (out,) = list(fn(iter([batch])))
    assert seen == [1]  # the kernel hashed through the patched function
    assert out.column("n_updates")[0].as_py() == 3  # r5 code recorded 1
    kll = unpack_state(out.column("state")[0].as_py())
    assert kll.n == 3


def test_null_row_bytes_are_not_tokens():
    """Arrow leaves a null row's offset span unspecified: bytes under a
    null slot, in a sliced batch too, must not be counted."""
    import pyarrow as pa

    from heavy_hitters_spark.core import HLL
    from heavy_hitters_spark.core.base import pack_state, unpack_state
    from heavy_hitters_spark.spark.fused import _fused_fn
    from heavy_hitters_spark.spark.keys import key_id

    data = b"skip a bzzz hidden c"
    offs = np.array([0, 5, 8, 18, 20], dtype=np.int32)  # "skip ", "a b", "zzz hidden", " c"
    valid = np.packbits([1, 1, 0, 1], bitorder="little")
    text = pa.Array.from_buffers(pa.string(), 4, [pa.py_buffer(valid), pa.py_buffer(offs), pa.py_buffer(data)])
    batch = pa.RecordBatch.from_arrays([text], ["text"]).slice(1)
    fn = _fused_fn(pack_state(HLL(p=10)), "text")
    (out,) = list(fn(iter([batch])))
    assert out.column("n_updates")[0].as_py() == 3  # a, b, c
    assert out.column("n_rows")[0].as_py() == 3
    want = HLL(p=10)
    want.update_batch(np.array([key_id(t) for t in "abc"], dtype=np.uint64), np.ones(3, dtype=np.int64))
    assert unpack_state(out.column("state")[0].as_py()).to_bytes() == want.to_bytes()


# separator edge cases for the fused kernel's byte-level token split:
# leading, trailing and double spaces, empty / blank / null rows, tabs
# and newlines inside tokens (not separators), multibyte UTF-8, and
# tokens of >= 32 bytes (xxh64's stripe path)
EDGE_ROWS = [
    " lead", "trail ", "double  space", "", " ", "   ", None, "a",
    "tab\there new\nline", "\t \n", "héllo wörld ü 日本語 😀", "😀 😀",
    "x" * 32, "y" * 33 + " " + "z" * 64 + "  " + "ü" * 40, None, "a a a",
] * 3


@pytest.mark.parametrize("conf", [
    {"spark.sql.execution.arrow.maxRecordsPerBatch": "3"},
    {"spark.sql.execution.arrow.useLargeVarTypes": "true"},
], ids=["batch3", "large_var_types"])
def test_fused_equals_explode_edge_rows(spark, conf):
    """The fused build's token split matches Catalyst's split + explode
    + filter(token != '') on separator edge cases, byte for byte, in
    3-row batches and over large_string (int64-offset) columns."""
    from heavy_hitters_spark.core import KLL, MisraGries

    def tmpl():
        return MultiSketch({**_tmpl().sketches, "mg": MisraGries(k=8), "kll": KLL(k=64, seed=7)})

    docs = spark.createDataFrame([(t,) for t in EDGE_ROWS], "text string").repartition(3)
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        fused, m1 = build_token_sketch(docs, tmpl(), text_col="text")
        exploded, m2 = build_sketch(tokens(docs).withColumn("id", key_id_col("token")), tmpl(), id_col="id")
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    n_tokens = sum(len([t for t in r.split(" ") if t]) for r in EDGE_ROWS if r is not None)
    assert m1["n_updates"] == m2["n_updates"] == n_tokens
    assert m1["n_rows"] == len(EDGE_ROWS)
    assert fused.to_bytes() == exploded.to_bytes()


def test_build_is_deterministic_partition_order_fold(spark):
    """Same input and template give byte-equal states run to run, and
    those states are the left fold p0..p4 of the per-partition kernel
    outputs — MisraGries (small k) and KLL merges are order-sensitive,
    so any other fold order or shape shows up in the bytes."""
    import pyarrow as pa

    from heavy_hitters_spark.core import KLL, MisraGries
    from heavy_hitters_spark.core.base import merge_all, pack_state, unpack_state
    from heavy_hitters_spark.spark.fused import _fused_fn

    def tmpl():
        return MultiSketch({
            "cm": CountMin(width=1 << 12, depth=5, seed_stream=SeedStream(1, 2)),
            "mg": MisraGries(k=16),
            "kll": KLL(k=200, seed=7),
        })

    rng = np.random.default_rng(5)
    vocab = np.array([f"w{i}" for i in range(300)])
    texts = [" ".join(vocab[rng.zipf(1.3, 60) % 300]) for _ in range(500)]
    docs = spark.createDataFrame([(t,) for t in texts], "text string").repartition(5)
    a, ma = build_token_sketch(docs, tmpl(), text_col="text")
    b, _ = build_token_sketch(docs, tmpl(), text_col="text")
    assert ma["n_partials"] == 5
    assert a.to_bytes() == b.to_bytes()

    # each partition is one Arrow batch (100 docs < the 8192-row batch)
    parts = docs.rdd.glom().collect()
    fn = _fused_fn(pack_state(tmpl()), "text")
    states = []
    for rows in parts:
        (out,) = list(fn(iter([pa.RecordBatch.from_pydict({"text": [r.text for r in rows]})])))
        states.append(out.column("state")[0].as_py())
    in_order = merge_all([unpack_state(s) for s in states])
    assert a.to_bytes() == in_order.to_bytes()
    # the fixture can tell fold orders apart
    reversed_fold = merge_all([unpack_state(s) for s in reversed(states)])
    assert reversed_fold.to_bytes() != in_order.to_bytes()
