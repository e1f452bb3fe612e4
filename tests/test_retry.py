"""A retried task gives the same state bytes: on a ``local[2,2]``
master (two slots, a task may fail once), partition 0 of every build
raises on its first attempt after it has read its rows. The fused
build, an id-column build and a checkpointed append must each give the
bytes of a clean run, and the checkpoint must hold one row per task,
each naming the files its task read (three files packed into two
tasks)."""

import json
import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = textwrap.dedent(
    """
    import json, os, sys
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import TaskContext
    from heavy_hitters_spark.core import KLL, CountMin, MisraGries, SeedStream
    from heavy_hitters_spark.core.multi import MultiSketch
    from heavy_hitters_spark.spark import build_sketch, build_sketch_checkpointed, get_spark, key_id_col, tokens
    from heavy_hitters_spark.spark import fused as fused_module
    from heavy_hitters_spark.spark.fused import build_token_sketch

    tmp = sys.argv[1]
    marks = os.path.join(tmp, "marks")
    os.makedirs(marks)

    def template():
        return MultiSketch({
            "cm": CountMin(width=1 << 10, depth=3, seed_stream=SeedStream(1, 2)),
            "mg": MisraGries(k=8),
            "kll": KLL(k=16, seed=7),
        })

    def fail_first_attempt(tag):
        # partition 0 raises on its first attempt
        ctx = TaskContext.get()
        if tag and ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            open(os.path.join(marks, f"{tag}_{ctx.stageId()}"), "w").close()
            raise RuntimeError("first attempt of partition 0 fails")

    def flaky(df, tag):
        # a pass-through of the rows that fails once the build task has read every row
        def fn(batches):
            yield from batches
            fail_first_attempt(tag)
        return df.mapInArrow(fn, df.schema)

    token_pairs = fused_module._token_pairs

    def flaky_token_pairs(tag):
        # the checkpointed build's adapter, pickled with the task: it
        # fails once it has read and counted the task's rows
        def make(text_col):
            inner = token_pairs(text_col)
            def pairs(batch):
                out = inner(batch)
                fail_first_attempt(tag)
                return out
            return pairs
        return make

    paths = []
    for f in range(3):
        p = os.path.join(tmp, f"docs{f}.parquet")
        pq.write_table(pa.table({"text": [f"w{(i * (f + 3)) % 17} w{i % 29} w{i % 5}" for i in range(400)]}), p)
        paths.append(p)

    spark = get_spark("local[2,2]")
    spark.sparkContext.setLogLevel("FATAL")
    out = {}
    try:
        docs = spark.read.parquet(*paths)
        ids = tokens(docs).withColumn("id", key_id_col("token")).select("id")
        for tag in ("", "fail"):
            fused, _ = build_token_sketch(flaky(docs, tag and tag + "_fused"), template())
            by_id, _ = build_sketch(flaky(ids, tag and tag + "_ids"), template(), id_col="id")
            ck = os.path.join(tmp, "ck_" + (tag or "clean"))
            fused_module._token_pairs = flaky_token_pairs(tag and tag + "_ck")
            try:
                ckpt, m = build_sketch_checkpointed(spark, paths, template(), ck)
            finally:
                fused_module._token_pairs = token_pairs
            rows = spark.read.parquet(os.path.join(ck, "partials")).collect()
            out[tag or "clean"] = {
                "fused": fused.to_bytes().hex(),
                "ids": by_id.to_bytes().hex(),
                "ckpt": ckpt.to_bytes().hex(),
                "ckpt_rows": sorted([r["part_id"], [f.rsplit("/", 1)[-1] for f in r["files"].split(",")]] for r in rows),
                "ckpt_files": m["files_processed_this_run"],
                "tasks": docs.rdd.getNumPartitions(),
            }
        out["marks"] = sorted(n.rsplit("_", 1)[0] for n in os.listdir(marks))
    finally:
        spark.stop()
    print("RESULT " + json.dumps(out))
    """
)


def test_retried_task_gives_same_bytes(tmp_path):
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(tmp_path)],
        capture_output=True, text=True, env=env, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    out = json.loads(lines[-1][len("RESULT "):])
    # every build's partition 0 failed once and was retried
    assert out["marks"] == ["fail_ck", "fail_fused", "fail_ids"]
    clean, failed = out["clean"], out["fail"]
    for key in ("fused", "ids", "ckpt"):
        assert failed[key] == clean[key], key
    # one committed row per task: the failed attempt left none; Spark
    # packs the three small files into two tasks
    assert failed["ckpt_files"] == clean["ckpt_files"] == 3
    assert failed["ckpt_rows"] == clean["ckpt_rows"]
    assert len(failed["ckpt_rows"]) == failed["tasks"] == 2
    assert sorted(f for _, fs in failed["ckpt_rows"] for f in fs) == [f"docs{i}.parquet" for i in range(3)]
