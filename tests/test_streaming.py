"""Structured Streaming sketch building: file-source stream folded into
durable sketch states must equal the batch build; windowed variant
groups by event-time tumbling windows; restart/replay is idempotent."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from heavy_hitters_spark.core import CountMin, SeedStream
from heavy_hitters_spark.spark import build_sketch
from heavy_hitters_spark.streaming import merged_sketch, sketch_sink, windowed_sketch_sink


def _tmpl():
    return CountMin(width=1 << 12, depth=5, seed_stream=SeedStream(1, 2))


@pytest.fixture(scope="module")
def stream_src(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_src")
    df = spark.range(20000).select(
        (F.col("id") % 500).alias("id"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
    )
    # two event-time hours, two files (arriving as two stream inputs)
    df1 = df.withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 MINUTES"))
    df2 = df.withColumn("ts", F.col("ts") + F.expr("INTERVAL 70 MINUTES"))
    df1.coalesce(2).write.parquet(str(d / "f1"))
    df2.coalesce(2).write.parquet(str(d / "f2"))
    return d


def test_stream_equals_batch(spark, stream_src, tmp_path):
    src = spark.readStream.schema("id long, ts timestamp").parquet(
        str(stream_src) + "/*"
    )
    q = sketch_sink(
        src, _tmpl(), state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ck"), id_col="id",
    )
    q.awaitTermination(120)
    sk = merged_sketch(spark, str(tmp_path / "state"))
    batch = spark.read.parquet(str(stream_src) + "/*").select("id")
    bulk, _ = build_sketch(batch, _tmpl(), id_col="id")
    assert np.array_equal(sk.table, bulk.table)
    assert sk.norm == bulk.norm == 40000

    # replay idempotence: restart with same checkpoint — no new data, no change
    src2 = spark.readStream.schema("id long, ts timestamp").parquet(
        str(stream_src) + "/*"
    )
    q2 = sketch_sink(
        src2, _tmpl(), state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ck"), id_col="id",
    )
    q2.awaitTermination(120)
    sk2 = merged_sketch(spark, str(tmp_path / "state"))
    assert np.array_equal(sk2.table, bulk.table)


def test_windowed_stream(spark, stream_src, tmp_path, monkeypatch):
    """Per-window merges. ``merged_sketch`` bounds a window's rows by
    the state files (one file per writing task, at most one row per
    window in it), so no count job runs before the merge."""
    src = spark.readStream.schema("id long, ts timestamp").parquet(
        str(stream_src) + "/*"
    )
    q = windowed_sketch_sink(
        src, _tmpl(), state_dir=str(tmp_path / "wstate"),
        checkpoint_dir=str(tmp_path / "wck"), ts_col="ts", window="1 hour",
        id_col="id",
    )
    q.awaitTermination(180)
    states = spark.read.parquet(str(tmp_path / "wstate"))
    windows = sorted(r["window_start"] for r in states.select("window_start").distinct().collect())
    assert len(windows) == 2
    for w in windows:
        one = states.where(F.col("window_start") == F.lit(w))
        assert 0 < one.count() <= len(one.inputFiles())

    def no_count(self):
        raise AssertionError("a count job before the merge")

    monkeypatch.setattr(type(states), "count", no_count)  # the concrete class
    for w in windows:
        sk = merged_sketch(spark, str(tmp_path / "wstate"), window_start=w)
        assert sk.norm == 20000
        assert int(sk.point(np.array([7]))[0]) == 40  # 20000/500 per window


def test_windowed_stream_replay_idempotent(spark, stream_src, tmp_path):
    """Replaying micro-batches (fresh checkpoint, same state dir, same
    batch ids) must dynamically OVERWRITE each batch_id partition, not
    append double-counted states."""
    for ck in ("wck_a", "wck_b"):  # second run replays batch ids 0..N
        src = spark.readStream.schema("id long, ts timestamp").parquet(
            str(stream_src) + "/*"
        )
        q = windowed_sketch_sink(
            src, _tmpl(), state_dir=str(tmp_path / "wstate2"),
            checkpoint_dir=str(tmp_path / ck), ts_col="ts", window="1 hour",
            id_col="id",
        )
        q.awaitTermination(180)
    states = spark.read.parquet(str(tmp_path / "wstate2"))
    for w in [r["window_start"] for r in states.select("window_start").distinct().collect()]:
        sk = merged_sketch(spark, str(tmp_path / "wstate2"), window_start=w)
        assert sk.norm == 20000  # NOT 40000: replay overwrote, not appended


def test_token_stream_equals_batch(spark, tmp_path):
    """The fused text sink (one micro-batch per file here) folds to the
    same CountMin bytes as ``build_token_sketch`` over the same files."""
    from heavy_hitters_spark.spark.fused import build_token_sketch
    from heavy_hitters_spark.streaming.sketch_stream import token_sketch_sink

    src = str(tmp_path / "docs")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("text")
    docs.repartition(3).write.parquet(src)
    stream = spark.readStream.schema("text string").option("maxFilesPerTrigger", 1).parquet(src)
    q = token_sketch_sink(stream, _tmpl(), str(tmp_path / "state"), str(tmp_path / "ck"))
    q.awaitTermination(180)
    streamed = merged_sketch(spark, str(tmp_path / "state"))
    batch, _ = build_token_sketch(spark.read.parquet(src), _tmpl())
    assert streamed.norm == batch.norm > 0
    assert streamed.to_bytes() == batch.to_bytes()
