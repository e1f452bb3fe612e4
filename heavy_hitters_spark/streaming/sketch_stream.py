"""Structured-Streaming sketch building.

The reference consumes a replayable finite stream (src/stream/stream.c);
here a stream source is folded into mergeable sketch state one
micro-batch at a time. Every sink drains what the source has available
(``availableNow``) and stops; a rerun with the same checkpoint picks up
only what arrived since:

- ``sketch_sink``: readStream -> foreachBatch -> per-micro-batch partial
  states appended to a durable parquet state store. Spark's streaming
  checkpoint gives exactly-once batch append (states carry batch_id;
  replayed batches are idempotently overwritten by batch_id partition).
  Query-time: ``merged_sketch`` merges all stored states through the
  same in-order fold as a batch build (``aggregate.merge_stored``).
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
from ..spark.aggregate import merge_stored, partial_states, windowed_partial_states
from ..spark.fused import token_partial_states


def _start_sink(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
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

    return (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def sketch_sink(
    stream_df: DataFrame,
    template: Sketch,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "id",
    weight_col: str | None = None,
):
    """Start a streaming query that folds what the stream has available
    into sketch states and stops. Returns the StreamingQuery; await it,
    then read the merged sketch with ``merged_sketch(spark, state_dir)``."""
    return _start_sink(
        stream_df, state_dir, checkpoint_dir,
        lambda b: partial_states(b, template, id_col, weight_col, with_lineage=False),
    )


def token_sketch_sink(
    stream_df: DataFrame,
    template: Sketch,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
):
    """Sink over raw TEXT rows: each micro-batch goes through the fused
    text build's stage 1 (``fused.token_partial_states``), one Arrow row
    per document instead of one per exploded token (ids are the
    identical xxhash64&mask32 stream, asserted in tests/test_fused.py).
    The micro-batch is not widened, like ``build_token_sketch``'s input
    (see ``queries._docs``). Same drain-and-stop, durable-state contract
    as ``sketch_sink``: one partial-state row per partition, idempotent
    batch_id-partitioned overwrite, merge with ``merged_sketch``."""
    return _start_sink(
        stream_df, state_dir, checkpoint_dir, lambda b: token_partial_states(b, template, text_col)
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
):
    """Tumbling event-time windows: one sketch state per (window, input
    partition) per micro-batch, produced in a SINGLE map-side pass
    (windowed_partial_states — no per-window driver loop rescanning the
    batch); late rows simply add states to their window (merge-anytime,
    no watermark finalization needed). States are written with dynamic
    batch_id-partition overwrite so a foreachBatch replay after failure
    is idempotent (same exactly-once contract as sketch_sink)."""
    return _start_sink(
        stream_df, state_dir, checkpoint_dir,
        lambda b: windowed_partial_states(
            b.withColumn("window_start", F.window(F.col(ts_col), window)["start"]),
            template, id_col, weight_col,
        ),
    )


def merged_sketch(
    spark: SparkSession, state_dir: str, window_start=None
) -> Sketch:
    """The merge of every state stored under ``state_dir``, or of one
    window's (``aggregate.merge_stored``)."""
    where = None if window_start is None else F.col("window_start") == F.lit(window_start)
    return merge_stored(spark, state_dir, where)[0]
