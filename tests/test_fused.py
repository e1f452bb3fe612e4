"""Fused tokenize->hash->sketch path must be byte-identical to the
exploded Catalyst path (same xxhash64 ids, same seeds)."""

import numpy as np

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
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fused, m1 = build_token_sketch(docs, _tmpl(), text_col="text")
    ids = tokens(docs).withColumn("id", key_id_col("token"))
    exploded, m2 = build_sketch(ids, _tmpl(), id_col="id")
    assert fused.to_bytes() == exploded.to_bytes()
    assert m1["n_updates"] == m2["n_updates"]


def test_fused_partition_invariance(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a, _ = build_token_sketch(docs.repartition(3), _tmpl(), text_col="text")
    b, _ = build_token_sketch(docs.repartition(11), _tmpl(), text_col="text")
    assert a.to_bytes() == b.to_bytes()


def test_fused_preagg_routing_mixed_template(spark):
    """The map-side duplicate collapse (PREAGG_SAFE routing) must leave
    every sketch's SEMANTICS intact when a template mixes safe and
    unsafe sketches: linear sketches stay byte-identical to the
    exploded Catalyst path, and KLL — routed down the raw-id path
    because collapsing duplicates would change its sampled stream —
    must still see the full duplicated token stream (its rank
    estimates match the true stream ranks, not the distinct-value
    ranks, which differ grossly on a Zipf-weighted vocabulary)."""
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
    # linear sketch: byte-identical regardless of routing
    assert np.array_equal(fused["cm"].table, exploded["cm"].table)

    ids = np.array([r.id for r in ids_df.select("id").collect()], dtype=np.uint64)
    exact = {}
    for i in ids:
        exact[int(i)] = exact.get(int(i), 0) + 1
    n = len(ids)

    # MG (preagg path, bounds-level contract): undercount <= norm/(k+1)
    mg = fused["mg"]
    assert mg.norm == n
    top = sorted(exact.items(), key=lambda kv: -kv[1])[:20]
    est = mg.point(np.array([t for t, _ in top], dtype=np.uint64))
    for (tok, cnt), e in zip(top, est):
        assert e <= cnt
        assert cnt - e <= mg.norm // (mg.k + 1) + 1

    # KLL (raw path): must have consumed the RAW duplicated stream —
    # its internal weight n equals the stream length, not the distinct
    # count (a collapsed feed would record ~n_distinct) — and its
    # stream-rank estimates stay inside the error bound.
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
    the raw (non-PREAGG_SAFE) path's empty-token filter, matching the
    preagg path's dictionary-slot rule — the round-5 code filtered the
    hashed id array by value and silently dropped such a token. Forced
    by monkeypatching the hash so 'collider' == h(''), and calling the
    fused kernel in-process (no Spark needed)."""
    from heavy_hitters_spark.core import KLL
    from heavy_hitters_spark.core.base import pack_state, unpack_state
    from heavy_hitters_spark.spark import keys as keys_mod
    from heavy_hitters_spark.spark.fused import _fused_fn

    real = keys_mod.xxh64
    monkeypatch.setattr(
        keys_mod, "xxh64", lambda b: real(b"") if b == b"collider" else real(b)
    )

    import pyarrow as pa

    # split on ' ': ['collider', '', 'collider', 'x'] -> 3 real tokens
    batch = pa.RecordBatch.from_pydict({"text": ["collider  collider x"]})
    fn = _fused_fn(pack_state(KLL(k=200, seed=7)), "text")
    (out,) = list(fn(iter([batch])))
    assert out.column("n_updates")[0].as_py() == 3  # r5 code recorded 1
    kll = unpack_state(out.column("state")[0].as_py())
    assert kll.n == 3


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
