"""Structured-Streaming sketch building.

The reference consumes a replayable finite stream (src/stream/stream.c);
the Spark-native generalization is an *unbounded* stream folded into
mergeable sketch state incrementally:

- ``sketch_sink``: readStream -> foreachBatch -> per-micro-batch partial
  states appended to a durable parquet state store. Spark's streaming
  checkpoint gives exactly-once batch append (states carry batch_id;
  replayed batches are idempotently overwritten by batch_id partition).
  Query-time: ``merged_sketch`` tree-merges all stored states — sketch
  merges are associative, so incremental + replay order is irrelevant.
- ``windowed_sketch_sink``: event-time tumbling windows; one state row
  per (window_start, partition) so late data folds into the right
  window's sketch without watermark-forced finalization (merge-anytime).

This deliberately avoids applyInPandasWithState: sketch state is
associative, so durable append + merge-on-read is simpler, resumable,
and keeps per-batch work map-side only.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.base import Sketch
from ..spark.aggregate import (
    PARTIAL_SCHEMA,
    partial_states,
    tree_merge,
    windowed_partial_states,
)


def _start_sink(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool,
    partials_of: Callable[[DataFrame], DataFrame],
):
    """The durable-append writer every sink shares: each micro-batch's
    partial-state rows (``partials_of(batch_df)``) are written with
    dynamic batch_id-partition overwrite, so a foreachBatch replay after
    failure overwrites its batch instead of double-counting it."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            partials_of(batch_df)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")  # idempotent per batch on replay
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(state_dir)
        )

    writer = stream_df.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sketch_sink(
    stream_df: DataFrame,
    template: Sketch,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "id",
    weight_col: str | None = None,
    trigger_available_now: bool = True,
):
    """Start a streaming query folding the stream into sketch states.

    Returns the StreamingQuery; await it (or stop it) then read the
    merged sketch with ``merged_sketch(spark, state_dir)``."""
    return _start_sink(
        stream_df, state_dir, checkpoint_dir, trigger_available_now,
        lambda b: partial_states(b, template, id_col, weight_col, with_lineage=False),
    )


def token_sketch_sink(
    stream_df: DataFrame,
    template: Sketch,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    trigger_available_now: bool = True,
):
    """Streaming sink over raw TEXT rows through the FUSED one-row-per-
    document tokenize->hash->sketch kernel (spark.fused._fused_fn) —
    round 6: the previous shape exploded the stream to one row per
    token before the sink, shipping ~50x more Arrow rows across the
    JVM->Python boundary per micro-batch than the fused path (the same
    explode-vs-fused trade the batch build made in round 3; ids are the
    identical xxhash64&mask32 stream, asserted in tests/test_fused.py).
    One update per task: no state depends on the Arrow batch size. The
    micro-batch is not widened, like ``build_token_sketch``'s input
    (see ``queries._docs``). Same durable-state contract as
    ``sketch_sink``: one partial-state row per partition, idempotent
    batch_id-partitioned overwrite, merge with ``merged_sketch``."""
    from ..core.base import pack_state
    from ..spark.fused import _fused_fn

    tb = pack_state(template)
    return _start_sink(
        stream_df, state_dir, checkpoint_dir, trigger_available_now,
        lambda b: b.select(text_col).mapInArrow(_fused_fn(tb, text_col), PARTIAL_SCHEMA),
    )


def windowed_sketch_sink(
    stream_df: DataFrame,
    template: Sketch,
    state_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    id_col: str = "id",
    weight_col: str | None = None,
    trigger_available_now: bool = True,
):
    """Tumbling event-time windows: one sketch state per (window, input
    partition) per micro-batch, produced in a SINGLE map-side pass
    (windowed_partial_states — no per-window driver loop rescanning the
    batch); late rows simply add states to their window (merge-anytime,
    no watermark finalization needed). States are written with dynamic
    batch_id-partition overwrite so a foreachBatch replay after failure
    is idempotent (same exactly-once contract as sketch_sink)."""
    return _start_sink(
        stream_df, state_dir, checkpoint_dir, trigger_available_now,
        lambda b: windowed_partial_states(
            b.withColumn("window_start", F.window(F.col(ts_col), window)["start"]),
            template, id_col, weight_col,
        ),
    )


def merged_sketch(
    spark: SparkSession, state_dir: str, window_start=None
) -> Sketch:
    states = spark.read.parquet(state_dir)
    if window_start is not None:
        states = states.where(F.col("window_start") == F.lit(window_start))
    states = states.select([f.name for f in PARTIAL_SCHEMA.fields])
    # every writing task of _start_sink writes one file and emits at most
    # one row per window, so the file count bounds the rows of one window
    # (n_hint only sets the fan-in rounds); inputFiles() reads the file
    # index the read already built, so no job counts the rows
    sk, _ = tree_merge(states, n_hint=len(states.inputFiles()))
    return sk
