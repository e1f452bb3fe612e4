"""build_zipf: repeated fused multi-sketch builds over a synthesized
pages table, one build at a time (closed loop, one client) on the
two-slot master.

Untraced runs time the builds. Traced runs add the per-task profile
records the fused kernel writes under ``SKETCH_PROF_DIR``, an empty
stage over the same splits, a single-threaded in-process run of the
fused kernel with wrappers around the key hash and every child
sketch's update, serde and pack calls, and the hybrid query suite.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from statistics import median

import numpy as np

from . import common
from .sketches import CHILDREN, Truth, child_classes, gate_sketch, template

N_PAGES = 40_000
# shared vocabulary: ~10k distinct tokens, the token->id memo hits
PAGE_KW = {"n_vocab": 10_000, "alpha": 1.0, "min_len": 100, "len_range": 301, "n_hosts": 1000}
SPLITS = 2 * common.SLOTS  # two even waves on the two slots
ARROW_BATCH = 8192  # get_spark's Arrow batch size


def stage_pages(spark, out_dir: str, seed: int):
    """Write the pages table as SPLITS near-equal files and pin split
    sizing so that each file is read as exactly one split."""
    from heavy_hitters_spark.io import pages_df

    shutil.rmtree(out_dir, ignore_errors=True)
    pages_df(spark, N_PAGES, seed=seed, partitions=SPLITS, **PAGE_KW).write.parquet(out_dir)
    files = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
    biggest = str(max(os.path.getsize(f) for f in files))
    spark.conf.set("spark.sql.files.maxPartitionBytes", biggest)
    spark.conf.set("spark.sql.files.openCostInBytes", biggest)
    return spark.read.parquet(out_dir).select("text"), files


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import pyarrow.parquet as pq

    from heavy_hitters_spark.spark.fused import build_token_sketch

    gates = common.Gates()
    tracer = common.Tracer(trace)
    prof_dir = os.path.join(common.WORK, "prof")
    shutil.rmtree(prof_dir, ignore_errors=True)
    if trace:
        os.makedirs(prof_dir)
        os.environ["SKETCH_PROF_DIR"] = prof_dir  # inherited by the workers
    out_dir = os.path.join(common.WORK, workload)
    rng = np.random.default_rng(seed)
    layer: dict[str, float] = {}

    with common.RssSampler() as rss:
        t0 = time.perf_counter()
        with tracer.span("spark.session"):
            spark, layer["session.start_s"] = common.start_spark()
        try:
            with tracer.span("io.pages"):
                tg = time.perf_counter()
                df, files = stage_pages(spark, out_dir, 1000 + seed)
                layer["pages.gen_s"] = time.perf_counter() - tg
            with tracer.span("truth"):
                truth = Truth.of_text(pq.ParquetDataset(files).read(columns=["text"]).column("text"))
            n_docs = N_PAGES
            with tracer.span("warmup"):
                sk, m = build_token_sketch(df, template())
            gates.check(m["n_rows"] == n_docs and m["n_updates"] == truth.l1, "warm-up build counts")
            gate_sketch(sk, truth, gates, rng, "warm-up build")
            setup_s = time.perf_counter() - t0

            walls, tasks = [], []
            t_end = time.perf_counter() + seconds
            while True:
                if trace:
                    for p in glob.glob(os.path.join(prof_dir, "*.json")):
                        os.unlink(p)
                with tracer.span("spark.fused.build"):
                    tb = time.perf_counter()
                    sk, m = build_token_sketch(df, template())
                    walls.append(time.perf_counter() - tb)
                    end_epoch = time.time()
                gates.check(m["n_rows"] == n_docs and m["n_updates"] == truth.l1, "build counts")
                if trace:
                    tasks.append((end_epoch, _read_prof(prof_dir)))
                if time.perf_counter() >= t_end:
                    break
            gate_sketch(sk, truth, gates, rng, "last build")

            if trace:
                layer.update({
                    "input.docs": n_docs,
                    "input.tokens": truth.l1,
                    "input.distinct_tokens": truth.distinct,
                    "input.splits": df.rdd.getNumPartitions(),
                })
                layer.update(_task_layer(tasks))
                with tracer.span("spark.aggregate.noop"):
                    layer["aggregate.noop_stage_s"] = noop_stage(df)
                with tracer.span("kernel_1t"):
                    layer.update(kernel_1t(files, n_docs, truth, gates, rng))
                from . import hybrid

                with tracer.span("queries"):
                    layer.update(hybrid.suite(spark, seed, gates, tracer))
        finally:
            common.stop_spark(spark)
            os.environ.pop("SKETCH_PROF_DIR", None)

    wall = median(walls)
    e2e = {
        "setup_s": common.metric(setup_s, "s"),
        "throughput_per_s": common.metric(n_docs / wall, "1/s"),
        "op_p50_ms": common.metric(wall * 1000.0, "ms"),
        "peak_rss_mb": common.metric(rss.peak, "MB"),
    }
    report = {
        "workload": workload,
        "samples": len(walls),
        "build_docs_per_s": n_docs / wall,
        "build_wall_p50_s": wall,
        "failures": gates.failures,
    }
    tracer.write(os.path.join(common.WORK, f"trace_{workload}.json"))
    return {"gates": gates, "e2e": e2e, "layer": layer, "report": report}


def _read_prof(prof_dir: str) -> list[dict]:
    recs = []
    for p in glob.glob(os.path.join(prof_dir, "*.json")):
        with open(p) as f:
            recs.append(json.load(f))
    return recs


def _task_layer(builds: list[tuple[float, list[dict]]]) -> dict:
    """Per build: sums of the task phases, task count, skew (max over
    median task wall) and the merge tail (job end minus the last task's
    exit, which is after its state was published); medians over
    builds."""
    per = {k: [] for k in ("serve", "kernel", "to_bytes", "pack", "publish", "tasks", "skew", "tail")}
    for end_epoch, recs in builds:
        if not recs:
            continue
        for k in ("serve", "kernel", "to_bytes", "pack", "publish"):
            per[k].append(sum(r[f"{k}_s"] for r in recs))
        task_walls = [r["exit_epoch"] - r["enter_epoch"] for r in recs]
        per["tasks"].append(len(recs))
        per["skew"].append(max(task_walls) / median(task_walls))
        per["tail"].append(end_epoch - max(r["exit_epoch"] for r in recs))
    if not per["tasks"]:
        return {}
    out = {f"fused.task_{k}_s": median(per[k]) for k in ("serve", "kernel", "to_bytes", "pack", "publish")}
    out["fused.tasks"] = median(per["tasks"])
    out["fused.task_skew"] = median(per["skew"])
    out["aggregate.merge_tail_s"] = median(per["tail"])
    return out


def noop_stage(df, reps: int = 3) -> float:
    """Median wall of a mapInArrow job over the same splits that reads
    its input and emits nothing: the per-job fixed cost every build and
    query pays, plus the scan."""

    def noop(batches):
        for _ in batches:
            pass
        return iter(())

    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        df.mapInArrow(noop, "x long").collect()
        walls.append(time.perf_counter() - t)
    return median(walls)


def staged_batches(files: list[str]) -> list[list]:
    """The pages files as Arrow batches, one list per split, in the
    batch size the Spark workers receive."""
    import pyarrow.parquet as pq

    return [
        list(pq.ParquetFile(f).iter_batches(batch_size=ARROW_BATCH, columns=["text"]))
        for f in files
    ]


def run_fused_1t(batches_per_split: list[list], tmpl_bytes: bytes) -> list[bytes]:
    """The fused kernel in this process, one call per split (a fresh
    memo per call, as per task); returns the packed partial states."""
    from heavy_hitters_spark.spark.fused import _fused_fn

    fn = _fused_fn(tmpl_bytes, "text")
    states = []
    for batches in batches_per_split:
        (out,) = list(fn(iter(batches)))
        states.append(out.column("state")[0].as_py())
    return states


def kernel_1t(files, n_docs: int, truth: Truth, gates, rng) -> dict:
    """Single-threaded baseline of the same job: the fused kernel over
    the staged batches, no Spark. Splits the time into key hashing,
    per-child updates, to_bytes and packing, then times merge, pack and
    unpack of the partial states directly."""
    import pyarrow.compute as pc

    import heavy_hitters_spark.core.base as base
    import heavy_hitters_spark.spark.keys as keys
    from heavy_hitters_spark.core.base import Sketch, merge_all, pack_state, unpack_state

    batches = staged_batches(files)
    n_tok = n_uniq = 0
    for b in (b for split in batches for b in split):
        toks = pc.list_flatten(pc.split_pattern(b.column("text"), " "))
        n_tok += len(toks)
        n_uniq += len(pc.unique(toks))
    tmpl_bytes = pack_state(template())
    w = common.Wrapped()
    w.wrap(keys, "xxh64", "keys.xxh64")
    for name, cls in child_classes().items():
        w.wrap(cls, "update_batch", f"core.{name}.update")
    w.wrap(Sketch, "to_bytes", "core.to_bytes")
    w.wrap(base, "pack_state_bytes", "core.pack_state_bytes")
    try:
        t = time.perf_counter()
        states = run_fused_1t(batches, tmpl_bytes)
        t_kernel = time.perf_counter() - t
    finally:
        w.restore()
    merged = merge_all([unpack_state(s) for s in states])
    gate_sketch(merged, truth, gates, rng, "single-threaded build")

    out = {
        "input.batch_unique_ratio": n_uniq / n_tok,
        "fused.kernel_1t_docs_per_s": n_docs / t_kernel,
        "keys.xxh64_calls": w.calls["keys.xxh64"],
        "keys.xxh64_s": w.secs["keys.xxh64"],
    }
    for name in CHILDREN:
        out[f"core.{name}.update_s"] = w.secs[f"core.{name}.update"]
    out["core.to_bytes_s"] = w.secs["core.to_bytes"]
    out["core.pack_s"] = w.secs["core.pack_state_bytes"]
    out.update(serde_layer(states))
    return out


def serde_layer(states: list[bytes], reps: int = 5) -> dict:
    """Median wall of each child's merge of two partial states, and of
    packing and unpacking the merged state."""
    from heavy_hitters_spark.core.base import pack_state_bytes, unpack_state

    out = {}
    for name in CHILDREN:
        walls = []
        for _ in range(reps):
            a, b = unpack_state(states[0])[name], unpack_state(states[1])[name]
            t = time.perf_counter()
            a.merge(b)
            walls.append(time.perf_counter() - t)
        out[f"core.{name}.merge_ms"] = median(walls) * 1000.0
    raw = unpack_state(states[0]).merge(unpack_state(states[1])).to_bytes()
    pack, unpack = [], []
    for _ in range(reps):
        t = time.perf_counter()
        packed = pack_state_bytes(raw)
        pack.append(time.perf_counter() - t)
        t = time.perf_counter()
        unpack_state(packed)
        unpack.append(time.perf_counter() - t)
    out["core.pack_ms"] = median(pack) * 1000.0
    out["core.unpack_ms"] = median(unpack) * 1000.0
    out["core.state_bytes_packed"] = len(packed)
    return out
