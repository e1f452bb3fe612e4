"""Distributed sketch aggregation: vectorized partial build per
partition + treeAggregate-style associative merge (SURVEY.md §3.4).

Why not a pandas GROUPED_AGG UDAF: PySpark's pandas UDAFs cannot carry
custom partial state between the map and reduce sides, so the two-stage
shape is explicit here — and it is *better* at scale because each stage
is a plain DataFrame with checkpointable rows:

  stage 1 (partial):  mapInArrow over the input partitions; each task
      folds its Arrow batches into ONE sketch state (numpy kernels,
      zero per-row Python) and emits a single serialized-state row with
      lineage (partition id, input files, row count, wall time)
  stage 2 (merge):    iterative fan-in rounds — groupBy(pid % g) +
      applyInArrow merging each group to one row — until <= fanin rows
      remain, then a driver-side fold. This is the treeAggregate
      pattern expressed on DataFrames so intermediate rounds are
      inspectable and durable.

Every stage (and the fused kernel in spark.fused) emits its rows
through ``state_row`` in the Arrow form of ``PARTIAL_SCHEMA``, so the
state row format is decided here alone.

All sketches here merge associatively (linear tables / lattice maxes /
bound-preserving summaries), so the merge-tree shape never changes the
answer beyond each sketch's documented invariance class — verified by
tests/test_merge_invariance.py.

Scale notes (100 TB / 1000 executors):
- one state row per input partition (~800k partitions at 128 MB splits)
  → stage-2 round 1 reduces 800k rows to 50k groups, round 2 to ~3k,
  round 3 to fanin; shuffle volume per round = states only, never data
- the input-side explode/groupBy stays in whole-stage codegen; the only
  Python is the Arrow-batched sketch kernel
- hot-key skew is irrelevant to sketch state size (fixed) and the
  partial stage is map-side only — no shuffle of raw updates at all
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..core import base
from ..core.base import Sketch, merge_all, pack_state, unpack_state

PARTIAL_SCHEMA = StructType(
    [
        StructField("part_id", LongType()),
        StructField("state", BinaryType()),
        StructField("n_rows", LongType()),
        StructField("n_updates", LongType()),
        StructField("wall_ms", DoubleType()),
        StructField("state_bytes", LongType()),
        StructField("files", StringType()),
    ]
)
WINDOWED_PARTIAL_SCHEMA = StructType(
    [*PARTIAL_SCHEMA.fields, StructField("window_start", TimestampType())]
)
PARTIAL_ARROW = to_arrow_schema(PARTIAL_SCHEMA)
WINDOWED_PARTIAL_ARROW = to_arrow_schema(WINDOWED_PARTIAL_SCHEMA)


def state_row(raw: bytes, part_id: int, n_rows: int, n_updates: int, wall_ms: float, files: str = "") -> dict:
    """Makes the one ``PARTIAL_SCHEMA`` row every stage emits: it
    ships the raw state packed and accounts its raw size (SPACE)."""
    return {
        "part_id": part_id,
        "state": base.pack_state_bytes(raw),
        "n_rows": n_rows,
        "n_updates": n_updates,
        "wall_ms": wall_ms,
        "state_bytes": len(raw),
        "files": files,
    }


def task_part_id() -> int:
    """Partition id of the running Spark task (-1 outside a task)."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return ctx.partitionId() if ctx else -1


def _update(sk: Sketch, batch: pa.RecordBatch, id_col: str, weight_col: str | None) -> int:
    """Fold one batch into ``sk``; returns its update count."""
    ids = batch.column(id_col).to_numpy(zero_copy_only=False)
    w = batch.column(weight_col).to_numpy(zero_copy_only=False) if weight_col else None
    sk.update_batch(ids, w)
    return len(ids) if w is None else int(abs(w).sum())


def _partial_fn(template_bytes: bytes, id_col: str, weight_col: str | None):
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..core import memtune  # noqa: F401  (mallopt inside the worker)

        sk = unpack_state(template_bytes)
        t0 = time.perf_counter()
        n_rows = n_upd = 0
        files: set[str] = set()
        for batch in batches:
            if "__file" in batch.schema.names and batch.num_rows:
                files.update(pc.unique(batch.column("__file")).to_pylist())
            n_upd += _update(sk, batch, id_col, weight_col)
            n_rows += batch.num_rows
        row = state_row(
            sk.to_bytes(), task_part_id(), n_rows, n_upd,
            (time.perf_counter() - t0) * 1000.0, ",".join(sorted(files)),
        )
        yield pa.RecordBatch.from_pylist([row], schema=PARTIAL_ARROW)

    return fn


def _merge_group(t: pa.Table) -> pa.Table:
    from ..core import memtune  # noqa: F401

    t0 = time.perf_counter()
    # shuffle order varies run to run, and part_ids tie across the runs
    # of a checkpoint or the micro-batches of a stream: the state bytes
    # break the tie
    t = t.sort_by([("part_id", "ascending"), ("state", "ascending")])
    blobs = t.column("state").to_pylist()
    acc = unpack_state(blobs[0])
    for blob in blobs[1:]:
        acc = acc.merge(unpack_state(blob))
    files = ",".join(sorted({f for f in t.column("files").to_pylist() if f}))[:65536]
    row = state_row(
        acc.to_bytes(),
        pc.min(t.column("part_id")).as_py(),
        pc.sum(t.column("n_rows")).as_py(),
        pc.sum(t.column("n_updates")).as_py(),
        pc.sum(t.column("wall_ms")).as_py() + (time.perf_counter() - t0) * 1000.0,
        files,
    )
    return pa.Table.from_pylist([row], schema=PARTIAL_ARROW)


def partial_states(
    df: DataFrame,
    template: Sketch,
    id_col: str = "id",
    weight_col: str | None = None,
    with_lineage: bool = True,
) -> DataFrame:
    """Stage 1: one serialized sketch-state row per input partition."""
    cols = [id_col] + ([weight_col] if weight_col else [])
    sel = df.select(*cols, F.input_file_name().alias("__file")) if with_lineage else df.select(*cols)
    return sel.mapInArrow(_partial_fn(pack_state(template), id_col, weight_col), PARTIAL_SCHEMA)


def _windowed_partial_fn(template_bytes: bytes, id_col: str, weight_col: str | None):
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..core import memtune  # noqa: F401

        t0 = time.perf_counter()
        sketches: dict = {}  # window_start (epoch us) -> [sketch, n_rows, n_updates]
        for batch in batches:
            ws = batch.column("window_start")
            if ws.null_count:  # null event times belong to no window
                batch = batch.filter(pc.is_valid(ws))
            # group on the int64 epoch microseconds: they round-trip
            # into the output timestamp column unchanged
            keys = batch.column("window_start").cast(pa.int64()).to_numpy()
            for w in np.unique(keys).tolist():
                ent = sketches.get(w)
                if ent is None:
                    ent = sketches[w] = [unpack_state(template_bytes), 0, 0]
                sub = batch.filter(pa.array(keys == w))
                ent[2] += _update(ent[0], sub, id_col, weight_col)
                ent[1] += sub.num_rows
        pid = task_part_id()
        wall = (time.perf_counter() - t0) * 1000.0 / max(1, len(sketches))
        rows = [
            {**state_row(sk.to_bytes(), pid, n_rows, n_upd, wall), "window_start": w}
            for w, (sk, n_rows, n_upd) in sketches.items()
        ]
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=WINDOWED_PARTIAL_ARROW)

    return fn


def windowed_partial_states(
    df: DataFrame,
    template: Sketch,
    id_col: str = "id",
    weight_col: str | None = None,
) -> DataFrame:
    """One serialized sketch-state row per (window_start, input
    partition), in a SINGLE map-side pass: the kernel folds each Arrow
    batch into a per-window sketch dict (windows per partition are
    bounded — hours/days — so state stays small). No shuffle, no
    per-window rescan of the input."""
    cols = ["window_start", id_col] + ([weight_col] if weight_col else [])
    return df.select(*cols).mapInArrow(
        _windowed_partial_fn(pack_state(template), id_col, weight_col),
        WINDOWED_PARTIAL_SCHEMA,
    )


def tree_merge(partials: DataFrame, fanin: int = 16, n_hint: int | None = None) -> tuple[Sketch, dict]:
    """Stage 2: fan-in rounds until <= fanin rows, then a driver fold in
    ``part_id`` order (ties broken by the state bytes), so the same
    partials give the same state bytes whatever order the tasks finish
    or the rows arrive in (MisraGries, KLL, t-digest and conservative
    CountMin merges are order-sensitive).

    Returns (merged sketch, aggregate metrics)."""
    cur = partials
    n = n_hint if n_hint is not None else cur.rdd.getNumPartitions()
    while n > fanin:
        groups = max(1, (n + fanin - 1) // fanin)
        cur = (
            cur.withColumn("g", F.col("part_id") % groups)
            .groupBy("g")
            .applyInArrow(_merge_group, PARTIAL_SCHEMA)
        )
        n = groups
    rows = sorted(cur.collect(), key=lambda r: (r["part_id"], r["state"]))
    if not rows:
        raise ValueError("no partial states (empty input?)")
    acc = _driver_fold([r["state"] for r in rows])
    metrics = {
        "n_rows": sum(r["n_rows"] for r in rows),
        "n_updates": sum(r["n_updates"] for r in rows),
        "wall_ms": sum(r["wall_ms"] for r in rows),
        "n_partials": len(rows),
    }
    return acc, metrics


def _driver_fold(blobs: list) -> Sketch:
    """Sequential left fold of the collected states, in the order given
    (``tree_merge`` passes them in ``part_id`` order). A fixed fold
    order keeps the order-sensitive merges byte-deterministic; at most
    ``fanin`` states reach it, so it runs serially on the driver."""
    return merge_all([unpack_state(b) for b in blobs])


def build_sketch(
    df: DataFrame,
    template: Sketch,
    id_col: str = "id",
    weight_col: str | None = None,
    with_lineage: bool = False,
) -> tuple[Sketch, dict]:
    """End-to-end: partial build + tree merge. ``df`` must already carry
    the uint32 id column (see spark.keys.key_id_col). The partial states
    come back to the driver through ``collect`` and fold in partition
    order (``tree_merge``)."""
    partials = partial_states(df, template, id_col, weight_col, with_lineage)
    return tree_merge(partials, n_hint=df.rdd.getNumPartitions())


# ----------------------------------------------------------------------
# Checkpointed, file-granular build with per-partition lineage + resume.
# ----------------------------------------------------------------------


def build_sketch_checkpointed(
    spark: SparkSession,
    input_paths: list[str],
    template: Sketch,
    prepare: Callable[[DataFrame], DataFrame],
    checkpoint_dir: str,
    id_col: str = "id",
    weight_col: str | None = None,
) -> tuple[Sketch, dict]:
    """Resumable build: lineage is the input FILE set. Completed files'
    partial states are durable parquet under ``checkpoint_dir``; a rerun
    processes only files with no state rows yet (kill-and-rerun test:
    tests/test_spark_agg.py). ``prepare`` maps the raw file DataFrame to
    one with (id[, weight]) columns — e.g. tokenize + hash."""
    part_dir = os.path.join(checkpoint_dir, "partials")
    done: set[str] = set()
    have_states = False
    try:
        existing = spark.read.parquet(part_dir)
        have_states = True
        for r in existing.select("files").collect():
            done.update(f for f in r["files"].split(",") if f)
    except Exception:
        pass  # first run: no checkpoint yet

    def norm(p: str) -> str:
        return "file://" + os.path.abspath(p.removeprefix("file://"))

    missing = [p for p in input_paths if norm(p) not in done]
    if missing:
        raw = spark.read.parquet(*missing)
        prepared = prepare(raw)
        partials = partial_states(prepared, template, id_col, weight_col, with_lineage=True)
        partials.write.mode("append").parquet(part_dir)
    all_partials = spark.read.parquet(part_dir)
    n = all_partials.count()
    sketch, metrics = tree_merge(all_partials, n_hint=n)
    metrics["resumed_files_skipped"] = len(input_paths) - len(missing)
    metrics["files_processed_this_run"] = len(missing)
    return sketch, metrics


# ----------------------------------------------------------------------
# RDD treeAggregate reference implementation (tests cross-check only).
# ----------------------------------------------------------------------


def build_sketch_treeaggregate(
    df: DataFrame,
    template: Sketch,
    id_col: str = "id",
    weight_col: str | None = None,
    depth: int = 2,
) -> Sketch:
    """RDD.treeAggregate over serialized states — the canonical merge
    shape our DataFrame tree_merge must agree with (slow row-at-a-time
    Python path; used only to validate the fast path in tests)."""
    import numpy as np

    tb = template.to_bytes()
    cols = [id_col] + ([weight_col] if weight_col else [])

    def seq(state_bytes: bytes, rows: list) -> bytes:
        sk = Sketch.from_bytes(state_bytes)
        ids = np.array([r[0] for r in rows], dtype=np.uint64)
        w = np.array([r[1] for r in rows], dtype=np.int64) if weight_col else None
        if len(ids):
            sk.update_batch(ids, w)
        return sk.to_bytes()

    def comb(a: bytes, b: bytes) -> bytes:
        return Sketch.from_bytes(a).merge(Sketch.from_bytes(b)).to_bytes()

    rdd = df.select(*cols).rdd.glom().map(lambda rows: seq(tb, rows))
    return Sketch.from_bytes(rdd.treeAggregate(tb, comb, comb, depth=depth))
