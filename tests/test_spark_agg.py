"""Distributed aggregation: partial+tree-merge equals single-machine
bulk build byte-for-byte; partition-count invariance (8 vs 32);
treeAggregate cross-check; checkpoint/resume; lineage + metrics."""

import glob
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from heavy_hitters_spark.core import CountMin, HLL, SeedStream, Sketch
from heavy_hitters_spark.spark import (
    build_sketch,
    build_sketch_checkpointed,
    build_sketch_treeaggregate,
    key_id,
    key_id_col,
    partial_states,
    tokens,
    tree_merge,
)


@pytest.fixture(scope="module")
def ids_df(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return tokens(docs).withColumn("id", key_id_col("token"))


def _bulk_cm(ids_df):
    data = np.array([r["id"] for r in ids_df.select("id").collect()], dtype=np.uint64)
    cm = CountMin(width=1 << 12, depth=5, seed_stream=SeedStream(1, 2))
    cm.update_batch(data)
    return cm


def _tmpl():
    return CountMin(width=1 << 12, depth=5, seed_stream=SeedStream(1, 2))


def test_distributed_equals_bulk(spark, ids_df):
    bulk = _bulk_cm(ids_df)
    for n_parts in (8, 32):
        sk, metrics = build_sketch(ids_df.repartition(n_parts), _tmpl(), id_col="id")
        assert np.array_equal(sk.table, bulk.table), n_parts
        assert sk.norm == bulk.norm
        assert metrics["n_rows"] == bulk.norm


def test_tree_merge_multiple_rounds(spark, ids_df, monkeypatch):
    """FANIN=2 over 32 partitions forces several merge rounds."""
    from heavy_hitters_spark.spark import aggregate

    monkeypatch.setattr(aggregate, "FANIN", 2)
    bulk = _bulk_cm(ids_df)
    partials = partial_states(ids_df.repartition(32), _tmpl(), id_col="id")
    sk, metrics = tree_merge(partials, n_hint=32)
    assert np.array_equal(sk.table, bulk.table)
    assert metrics["n_partials"] <= 2


def test_treeaggregate_crosscheck(spark, ids_df):
    bulk = _bulk_cm(ids_df)
    small = ids_df.limit(2000).repartition(4)
    ta = build_sketch_treeaggregate(small, _tmpl(), id_col="id")
    df_sk, _ = build_sketch(small, _tmpl(), id_col="id")
    assert np.array_equal(ta.table, df_sk.table)
    assert ta.norm == df_sk.norm


def test_weighted_build(spark):
    pdf = [(int(i), int(i % 7 + 1)) for i in range(1000)]
    df = spark.createDataFrame(pdf, "id long, w long").repartition(8)
    sk, _ = build_sketch(df, _tmpl(), id_col="id", weight_col="w")
    expect = np.array([i % 7 + 1 for i in range(1000)], dtype=np.int64)
    assert np.array_equal(sk.point(np.arange(1000)), expect)


def test_weighted_build_kll(spark):
    """``weight_col`` reaches KLL: its weight n is the sum of the
    weights, and its quantiles are those of the weighted stream (here
    ids 0..9 carry 1000 each, so the weighted median is below 10 while
    the unweighted one would be near 500)."""
    from heavy_hitters_spark.core import KLL

    ids = np.arange(1000, dtype=np.int64)
    w = np.where(ids < 10, 1000, 1).astype(np.int64)
    df = spark.createDataFrame(
        [(int(i), int(c)) for i, c in zip(ids, w)], "id long, w long"
    ).repartition(8)
    kll, _ = build_sketch(df, KLL(k=200, seed=7), id_col="id", weight_col="w")
    assert kll.n == int(w.sum())
    cum = np.cumsum(w) / w.sum()
    for q, v in zip((0.1, 0.25, 0.5, 0.75, 0.9, 0.95), kll.quantile([0.1, 0.25, 0.5, 0.75, 0.9, 0.95])):
        hi = cum[int(v)]
        lo = cum[int(v) - 1] if v >= 1 else 0.0
        assert lo - 0.02 <= q <= hi + 0.02, (q, v)


def test_lineage_and_metrics(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ids = tokens(docs).withColumn("id", key_id_col("token"))
    partials = partial_states(ids, _tmpl(), id_col="id", with_lineage=True)
    rows = partials.collect()
    assert all(r["n_rows"] >= 0 and r["wall_ms"] >= 0 and r["state_bytes"] > 0 for r in rows)
    assert any("documents.parquet" in (r["files"] or "") for r in rows)
    assert len({r["part_id"] for r in rows}) == len(rows)


def test_checkpoint_resume(spark, tmp_path, monkeypatch):
    """Kill-after-k-partitions simulation: first run over a file subset,
    second run over the full set must skip completed files and produce
    the same sketch as a fresh full build (north_rule resumability).
    Neither run counts the stored partials with a job: each appending
    task writes one file of one row."""
    src = sorted(glob.glob("/root/testdata/sf0.001/*.parquet"))
    files = ["/root/testdata/sf0.001/documents.parquet"]
    assert files[0] in src
    ck = str(tmp_path / "ck")

    def prepare(df):
        return tokens(df).withColumn("id", key_id_col("token"))

    # full fresh build (no checkpoint)
    docs = spark.read.parquet(files[0])
    fresh, _ = build_sketch(prepare(docs), _tmpl(), id_col="id")

    def no_count(self):
        raise AssertionError("a count job before the merge")

    monkeypatch.setattr(type(docs), "count", no_count)  # the concrete class

    # run 1: pretend we only got through half the file list -> here the
    # unit is files, so simulate with an empty done-state then resume
    sk1, m1 = build_sketch_checkpointed(
        spark, files, _tmpl(), prepare, checkpoint_dir=ck, id_col="id"
    )
    assert m1["files_processed_this_run"] == 1
    # run 2: resume — nothing left to process, same result
    sk2, m2 = build_sketch_checkpointed(
        spark, files, _tmpl(), prepare, checkpoint_dir=ck, id_col="id"
    )
    assert m2["files_processed_this_run"] == 0
    assert m2["resumed_files_skipped"] == 1
    assert np.array_equal(sk1.table, fresh.table)
    assert np.array_equal(sk2.table, fresh.table)


def _docs_file(tmp_path) -> str:
    """One small parquet file of text rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "docs.parquet")
    pq.write_table(pa.table({"text": [f"w{i % 7} w{i % 11} w{i % 13}" for i in range(300)]}), path)
    return path


def _prepare(df):
    return tokens(df).withColumn("id", key_id_col("token"))


def test_checkpoint_after_uncommitted_first_run(spark, tmp_path):
    """A first run killed before its commit leaves only
    ``partials/_temporary``: the rerun is a first run."""
    files = [_docs_file(tmp_path)]
    ck = tmp_path / "ck"
    (ck / "partials" / "_temporary" / "0").mkdir(parents=True)
    sk, m = build_sketch_checkpointed(spark, files, _tmpl(), _prepare, checkpoint_dir=str(ck), id_col="id")
    assert m["files_processed_this_run"] == 1
    fresh, _ = build_sketch(_prepare(spark.read.parquet(files[0])), _tmpl(), id_col="id")
    assert np.array_equal(sk.table, fresh.table)


def test_checkpoint_resume_path_with_space(spark, tmp_path):
    """A file whose path is not already a canonical URI (here: spaces,
    which ``input_file_name()`` URL-encodes) is recognized as done on
    the rerun: processed once, counted once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "ck test dir"
    d.mkdir()
    path = str(d / "docs a.parquet")
    pq.write_table(pa.table({"text": [f"w{i % 7} w{i % 11}" for i in range(300)]}), path)
    ck = str(d / "ck")
    sk1, m1 = build_sketch_checkpointed(spark, [path], _tmpl(), _prepare, checkpoint_dir=ck, id_col="id")
    sk2, m2 = build_sketch_checkpointed(spark, [path], _tmpl(), _prepare, checkpoint_dir=ck, id_col="id")
    assert (m1["files_processed_this_run"], m2["files_processed_this_run"]) == (1, 0)
    assert m2["resumed_files_skipped"] == 1
    assert sk1.norm == sk2.norm == 600
    assert sk2.to_bytes() == sk1.to_bytes()


def test_checkpoint_unreadable_raises(spark, tmp_path):
    """Only a checkpoint without committed partials is a first run: a
    rerun over a checkpoint with a corrupt partials file raises, and
    neither recomputes the files nor appends a second copy of their
    states."""
    files = [_docs_file(tmp_path)]
    ck = str(tmp_path / "ck")
    build_sketch_checkpointed(spark, files, _tmpl(), _prepare, checkpoint_dir=ck, id_col="id")
    part_dir = os.path.join(ck, "partials")
    data = sorted(glob.glob(os.path.join(part_dir, "*.parquet")))
    assert data
    with open(data[0], "wb") as f:
        f.write(b"not a parquet file")
    before = sorted(os.listdir(part_dir))
    with pytest.raises(Exception):
        build_sketch_checkpointed(spark, files, _tmpl(), _prepare, checkpoint_dir=ck, id_col="id")
    assert sorted(os.listdir(part_dir)) == before


def test_hll_distributed_merge(spark, ids_df):
    sk8, _ = build_sketch(ids_df.repartition(8), HLL(p=12), id_col="id")
    sk32, _ = build_sketch(ids_df.repartition(32), HLL(p=12), id_col="id")
    assert sk8.to_bytes() == sk32.to_bytes()
    exact = ids_df.select("id").distinct().count()
    assert abs(sk8.estimate() - exact) / max(exact, 1) < 0.1


def test_driver_side_key_parity(spark):
    df = spark.createDataFrame([("alpha",), ("beta",), ("tok123",)], "token string")
    rows = df.withColumn("id", key_id_col("token")).collect()
    for r in rows:
        assert key_id(r["token"]) == r["id"]


def test_windowed_weighted_partials_match_filtered_builds(spark):
    """Two event-time windows interleaved in ONE Arrow batch: each
    window's weighted partial state is byte-equal to build_sketch over
    that window's rows, and window_start round-trips through Arrow."""
    import datetime as dt

    import pyarrow as pa

    from heavy_hitters_spark.core.base import pack_state, unpack_state
    from heavy_hitters_spark.spark.aggregate import _id_pairs, _task_fn

    rng = np.random.default_rng(5)
    n = 2000
    hour = 3_600_000_000
    w0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    starts = np.where(np.arange(n) % 3 == 0, hour, 0)  # interleaved windows
    ids = rng.integers(0, 300, n)
    wts = rng.integers(1, 9, n)
    batch = pa.RecordBatch.from_pydict({
        "window_start": pa.array(starts + int(w0.timestamp()) * 1_000_000, pa.timestamp("us", tz="UTC")),
        "id": pa.array(ids, pa.int64()),
        "w": pa.array(wts, pa.int64()),
    })
    (out,) = list(_task_fn(pack_state(_tmpl()), _id_pairs("id", "w"), windowed=True)(iter([batch])))
    got = {r["window_start"]: r for r in out.to_pylist()}
    assert sorted(got) == [w0, w0 + dt.timedelta(hours=1)]
    for start in (0, hour):
        r = got[w0 + dt.timedelta(microseconds=start)]
        m = starts == start
        ref, metrics = build_sketch(
            spark.createDataFrame([(int(i), int(w)) for i, w in zip(ids[m], wts[m])], "id long, w long"),
            _tmpl(), id_col="id", weight_col="w",
        )
        assert unpack_state(r["state"]).to_bytes() == ref.to_bytes()
        assert r["n_rows"] == metrics["n_rows"] == int(m.sum())
        assert r["n_updates"] == metrics["n_updates"] == int(wts[m].sum())


def test_tree_merge_breaks_part_id_ties_by_state(spark):
    """Partials with equal part_ids (the runs of a checkpointed build,
    the micro-batches of a stream: each restarts at part_id 0) fold in
    the same order whatever order they arrive in, both in the driver
    fold and in a fan-in group. MisraGries (small k) and KLL merges are
    order-sensitive, so an arrival-order fold shows up in the bytes."""
    import pyarrow as pa

    from heavy_hitters_spark.core import KLL, MisraGries, MultiSketch
    from heavy_hitters_spark.core.base import unpack_state
    from heavy_hitters_spark.spark.aggregate import (
        PARTIAL_ARROW,
        PARTIAL_SCHEMA,
        _merge_group,
        state_row,
    )

    rng = np.random.default_rng(11)
    rows = []
    for _ in range(4):
        sk = MultiSketch({"mg": MisraGries(k=4), "kll": KLL(k=8, seed=7)})
        sk.update_batch(rng.zipf(1.3, 300).astype(np.uint64) % np.uint64(40))
        rows.append(state_row(sk.to_bytes(), 0, 300, 300, 0.0))
    orders = (rows, rows[::-1], rows[1:] + rows[:1])

    folded = set()
    for order in orders:
        df = spark.createDataFrame([tuple(r.values()) for r in order], PARTIAL_SCHEMA)
        sk, _ = tree_merge(df.coalesce(1), n_hint=1)
        folded.add(sk.to_bytes())
    assert len(folded) == 1

    grouped = {
        unpack_state(
            _merge_group(pa.Table.from_pylist(order, schema=PARTIAL_ARROW)).column("state")[0].as_py()
        ).to_bytes()
        for order in orders
    }
    assert grouped == folded
