"""Distributed sketch aggregation: vectorized partial build per
partition + treeAggregate-style associative merge (SURVEY.md §3.4).

Why not a pandas GROUPED_AGG UDAF: PySpark's pandas UDAFs cannot carry
custom partial state between the map and reduce sides, so the two-stage
shape is explicit here — and it is *better* at scale because each stage
is a plain DataFrame with checkpointable rows:

  stage 1 (partial):  mapInArrow over the input partitions; each task
      runs the one task body ``_task_fn``: it folds the (id, count)
      pairs of all its Arrow batches into one set, updates the template
      ONCE and emits a single serialized-state row (partition id, row
      count, wall time; the input files it read when its batches carry
      a ``__file`` column, as the checkpointed build's do)
  stage 2 (merge):    iterative fan-in rounds — groupBy(pid % g) +
      applyInArrow merging each group to one row — until <= FANIN rows
      remain, then a driver-side fold; all of it one in-order fold
      (``_fold``), for fresh and stored states alike. This is the
      treeAggregate pattern expressed on DataFrames so intermediate
      rounds are inspectable and durable.

The builds differ only in the adapter from a batch to (id, count)
pairs (``_id_pairs``, ``fused._token_pairs``). Every stage emits its rows
through ``state_row`` in the Arrow form of ``PARTIAL_SCHEMA``, so the
state row format is decided here alone.

All sketches here merge associatively (linear tables / lattice maxes /
bound-preserving summaries), so the merge-tree shape never changes the
answer beyond each sketch's documented invariance class — verified by
tests/test_merge_invariance.py.

Scale notes (100 TB / 1000 executors):
- one state row per input partition (~800k partitions at 128 MB splits)
  → with FANIN = 64, stage-2 round 1 reduces 800k rows to 12,500
  groups, round 2 to 196, round 3 to 4, which the driver folds; shuffle
  volume per round = states only, never data
- the input-side explode/groupBy stays in whole-stage codegen; the only
  Python is the Arrow-batched sketch kernel
- hot-key skew is irrelevant to sketch state size (fixed) and the
  partial stage is map-side only — no shuffle of raw updates at all
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
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
from ..core.base import Sketch, as_i64, collapse, pack_state, unpack_state

# rows a fan-in round merges into one; tree_merge folds on the driver
# once at most FANIN rows remain. 64, not 16: a build over 32 splits
# took 1.43 s folding 32 states on the driver, 1.60 s with one round
# (medians of 5, ROADMAP aim 2)
FANIN = 64

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


class _Run:
    """The ``(id, count)`` pairs of one sign that a task has seen, as
    runs: the first is sorted and collapsed once folded, the rest are
    batches in any order, all with counts or all with None (one per
    id). The pending runs are folded in once they outnumber the folded
    pairs, so each pair is re-sorted O(log n) times per task, not once
    per batch."""

    def __init__(self) -> None:
        self.runs: list[tuple[np.ndarray, np.ndarray | None]] = []
        self.n_folded = self.n_pending = 0

    def add(self, ids: np.ndarray, counts: np.ndarray | None) -> None:
        if len(ids):
            self.runs.append((ids, counts))
            self.n_pending += len(ids)
            if self.n_pending > self.n_folded:
                self.fold()

    def fold(self) -> tuple[np.ndarray, np.ndarray] | None:
        """The sorted, collapsed pairs, or None if there are none."""
        if self.n_pending:
            new = self.runs[1:] if self.n_folded else self.runs
            counts = None if new[0][1] is None else np.concatenate([c for _, c in new])
            run = collapse(np.concatenate([i for i, _ in new]), counts)
            if self.n_folded:  # two sorted runs: collapse's stable sort merges them
                run = collapse(*(np.concatenate(a) for a in zip(self.runs[0], run)))
            self.runs, self.n_folded, self.n_pending = [run], len(run[0]), 0
        return self.runs[0] if self.runs else None


def _task_fn(template_bytes: bytes, batch_pairs: Callable, windowed: bool = False):
    """The one task body of every sketch build, for ``mapInArrow``.
    ``batch_pairs(batch)`` maps an Arrow batch to ``(ids, counts or
    None, n_updates)``; it keeps no state between batches. The pairs
    are folded into one sorted set per output key (None, or
    ``window_start``), counts >= 0 and < 0 apart: a +5 and a -3 on one
    id never net to +2, so an insert-only sketch still raises. At task
    end a template copy is updated ONCE per key: a state depends only
    on the partition's rows, never on the Arrow batch size. Memory is
    O(distinct ids per task and key), 16 B each (8 B id, 8 B count),
    plus pending runs at most as long and one batch (``_Run``). A task
    with no rows emits the template (a windowed one nothing). With
    ``SKETCH_PROF_DIR`` set, it writes a JSON record of its phase times."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..core import memtune  # noqa: F401  (mallopt inside the worker)

        enter_epoch, t0, t_serve = time.time(), time.perf_counter(), 0.0
        keyed: dict = {} if windowed else {None: [_Run(), _Run(), 0, 0]}
        files: set[str] = set()
        src = iter(batches)
        while True:
            tb = time.perf_counter()
            batch = next(src, None)
            t_serve += time.perf_counter() - tb
            if batch is None:
                break
            if "__file" in batch.schema.names and batch.num_rows:
                files.update(pc.unique(batch.column("__file")).to_pylist())
            parts = [(None, batch)]
            if windowed:  # rows with a null window_start belong to no window
                batch = batch.filter(pc.is_valid(batch.column("window_start")))
                keys = batch.column("window_start").cast(pa.int64()).to_numpy()  # epoch us round-trip
                parts = [(w, batch.filter(pa.array(keys == w))) for w in np.unique(keys).tolist()]
            for key, rows in parts:
                ent = keyed.get(key) or keyed.setdefault(key, [_Run(), _Run(), 0, 0])
                ids, counts, n_updates = batch_pairs(rows)
                if counts is not None and (neg := counts < 0).any():
                    ent[1].add(ids[neg], counts[neg])
                    ids, counts = ids[~neg], counts[~neg]
                ent[0].add(ids, counts)
                ent[2] += rows.num_rows
                ent[3] += n_updates
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx else -1
        lineage, out, t_tb, t_pk = ",".join(sorted(files)), [], 0.0, 0.0
        for key, (pos, neg, n_rows, n_updates) in keyed.items():
            sk = unpack_state(template_bytes)
            runs = [r for r in (pos.fold(), neg.fold()) if r is not None]
            if runs:
                sk.update_batch(*(np.concatenate(a) for a in zip(*runs)))
            t1 = time.perf_counter()
            raw = sk.to_bytes()
            t2 = time.perf_counter()
            wall_ms = (t2 - t0) * 1000.0 / len(keyed)
            out.append({**state_row(raw, part_id, n_rows, n_updates, wall_ms, lineage), "window_start": key})
            t_tb, t_pk = t_tb + t2 - t1, t_pk + time.perf_counter() - t2
        prof_dir = os.environ.get("SKETCH_PROF_DIR")
        if prof_dir:
            import json

            prof = {
                "enter_epoch": enter_epoch, "part": part_id, "pid": os.getpid(), "serve_s": round(t_serve, 4),
                "kernel_s": round(time.perf_counter() - t0 - t_serve - t_tb - t_pk, 4),
                "to_bytes_s": round(t_tb, 4), "pack_s": round(t_pk, 4),
                "publish_s": 0.0, "exit_epoch": time.time(),  # the states travel in the rows
            }
            with open(os.path.join(prof_dir, f"prof_{part_id}_{os.getpid()}_{int(time.time()*1e6)}.json"), "w") as f:
                json.dump(prof, f)
        if out:
            yield pa.RecordBatch.from_pylist(out, schema=WINDOWED_PARTIAL_ARROW if windowed else PARTIAL_ARROW)

    return fn


def _id_pairs(id_col: str, weight_col: str | None) -> Callable:
    """The id-column builds' adapter: a batch's ids with its weights,
    or with None (one per id) without a weight column."""

    def pairs(batch: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray | None, int]:
        ids = batch.column(id_col).to_numpy(zero_copy_only=False)
        if weight_col is None:
            return ids, None, len(ids)
        w = batch.column(weight_col).to_numpy(zero_copy_only=False)
        return ids, as_i64(w, len(w)), int(np.abs(w).sum())

    return pairs


def _fold(parts: Iterable[tuple[int, bytes]]) -> Sketch:
    """The one merge of every path: a left fold over packed states in
    (``part_id``, state bytes) order, each decoded only when merged."""
    # finish, shuffle and arrival order vary run to run, and MisraGries,
    # KLL, t-digest and conservative CountMin merges are order-sensitive;
    # part_ids tie across the runs of a checkpoint or the micro-batches
    # of a stream, so the state bytes break the tie
    blobs = iter(sorted(parts))
    acc = unpack_state(next(blobs)[1])
    for _, blob in blobs:
        acc = acc.merge(unpack_state(blob))
    return acc


def _merge_group(t: pa.Table) -> pa.Table:
    from ..core import memtune  # noqa: F401

    t0 = time.perf_counter()
    acc = _fold(zip(t.column("part_id").to_pylist(), t.column("state").to_pylist()))
    row = state_row(
        acc.to_bytes(),
        pc.min(t.column("part_id")).as_py(),
        pc.sum(t.column("n_rows")).as_py(),
        pc.sum(t.column("n_updates")).as_py(),
        pc.sum(t.column("wall_ms")).as_py() + (time.perf_counter() - t0) * 1000.0,
    )
    return pa.Table.from_pylist([row], schema=PARTIAL_ARROW)


def partial_states(
    df: DataFrame,
    template: Sketch,
    id_col: str = "id",
    weight_col: str | None = None,
) -> DataFrame:
    """Stage 1: one serialized sketch-state row per input partition."""
    cols = [id_col] + ([weight_col] if weight_col else [])
    return df.select(*cols).mapInArrow(_task_fn(pack_state(template), _id_pairs(id_col, weight_col)), PARTIAL_SCHEMA)


def windowed_partial_states(
    df: DataFrame,
    template: Sketch,
    id_col: str = "id",
    weight_col: str | None = None,
) -> DataFrame:
    """One serialized sketch-state row per (window_start, input
    partition), in a SINGLE map-side pass: the task body keeps one
    (id, count) set per window and updates one template copy per window
    at task end (windows per partition are bounded — hours/days). No
    shuffle, no per-window rescan of the input."""
    cols = ["window_start", id_col] + ([weight_col] if weight_col else [])
    return df.select(*cols).mapInArrow(
        _task_fn(pack_state(template), _id_pairs(id_col, weight_col), windowed=True),
        WINDOWED_PARTIAL_SCHEMA,
    )


def tree_merge(partials: DataFrame, n_hint: int | None = None) -> tuple[Sketch, dict]:
    """Stage 2: fan-in rounds until <= ``FANIN`` rows, then the same
    in-order fold (``_fold``) on the driver. ``n_hint`` bounds the rows
    (it only sets the rounds); by default, the partition count.

    Returns (merged sketch, aggregate metrics)."""
    cur = partials
    n = n_hint if n_hint is not None else cur.rdd.getNumPartitions()
    while n > FANIN:
        n = -(-n // FANIN)
        cur = cur.withColumn("g", F.col("part_id") % n).groupBy("g").applyInArrow(_merge_group, PARTIAL_SCHEMA)
    rows = cur.collect()
    if not rows:
        raise ValueError("no partial states (empty input?)")
    metrics = {
        "n_rows": sum(r["n_rows"] for r in rows),
        "n_updates": sum(r["n_updates"] for r in rows),
        "wall_ms": sum(r["wall_ms"] for r in rows),
        "n_partials": len(rows),
    }
    return _fold((r["part_id"], r["state"]) for r in rows), metrics


def build_sketch(
    df: DataFrame,
    template: Sketch,
    id_col: str = "id",
    weight_col: str | None = None,
) -> tuple[Sketch, dict]:
    """End-to-end: partial build + tree merge. ``df`` must already carry
    the uint32 id column (see spark.keys.key_id_col). The partial states
    come back to the driver through ``collect`` and fold in partition
    order (``tree_merge``)."""
    return tree_merge(partial_states(df, template, id_col, weight_col))


def merge_stored(spark: SparkSession, path: str, where=None) -> tuple[Sketch, dict]:
    """Merges the state rows stored under ``path`` (a checkpoint, a
    sink's store) that match the Column ``where``."""
    # a writing task writes one file of at most one row per window: the
    # file index bounds the rows without a job
    states = spark.read.parquet(path)
    if where is not None:
        states = states.where(where)
    return tree_merge(states.select(*PARTIAL_SCHEMA.fieldNames()), n_hint=len(states.inputFiles()))


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
