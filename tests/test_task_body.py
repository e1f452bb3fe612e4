"""The one sketch-build task body (spark.aggregate._task_fn): a task's
state is a function of its rows alone, whatever the Arrow batch size,
for the text, id-column and windowed builds; and signed weights keep
their signs across batches, so insert-only sketches still reject a
deletion that a later batch carries."""

import datetime as dt

import numpy as np
import pyarrow as pa
import pytest

from heavy_hitters_spark.core import KLL, CountMin, CountSketch, MisraGries, MultiSketch, SeedStream
from heavy_hitters_spark.core.base import pack_state, unpack_state
from heavy_hitters_spark.spark import build_sketch, key_id_col, tokens
from heavy_hitters_spark.spark.aggregate import _id_pairs, _task_fn
from heavy_hitters_spark.spark.fused import _fused_fn, build_token_sketch

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _tmpl():
    """Order-sensitive children: MG with a small k, KLL and a
    conservative CountMin."""
    return MultiSketch({
        "mg": MisraGries(k=8),
        "kll": KLL(k=32, seed=7),
        "cm": CountMin(width=64, depth=3, conservative=True, seed_stream=SeedStream(1, 2)),
    })


def _run(fn, table: pa.Table, batch_rows: int) -> list[dict]:
    return [r for out in fn(iter(table.to_batches(max_chunksize=batch_rows))) for r in out.to_pylist()]


def _states(rows: list[dict]) -> list[bytes]:
    return [unpack_state(r["state"]).to_bytes() for r in rows]


def test_text_kernel_is_batch_size_invariant():
    rng = np.random.default_rng(5)
    vocab = np.array([f"w{i}" for i in range(500)])
    texts = [" ".join(vocab[rng.zipf(1.3, 40) % 500]) for _ in range(600)]
    table = pa.table({"text": texts})
    fn = _fused_fn(pack_state(_tmpl()), "text")
    runs = [_run(fn, table, n) for n in (7, 64, 600)]
    assert _states(runs[0]) == _states(runs[1]) == _states(runs[2])
    assert {r[0]["n_rows"] for r in runs} == {600}
    assert {r[0]["n_updates"] for r in runs} == {600 * 40}


@pytest.mark.parametrize("weighted", [False, True])
def test_id_kernel_is_batch_size_invariant(weighted):
    rng = np.random.default_rng(6)
    n = 3000
    table = pa.table({"id": rng.zipf(1.2, n) % 700, "w": rng.integers(0, 5, n)})
    fn = _task_fn(pack_state(_tmpl()), _id_pairs("id", "w" if weighted else None))
    runs = [_run(fn, table, k) for k in (50, 700, n)]
    assert _states(runs[0]) == _states(runs[1]) == _states(runs[2])
    want = int(table.column("w").to_numpy().sum()) if weighted else n
    assert {r[0]["n_updates"] for r in runs} == {want}


def test_windowed_kernel_is_batch_size_invariant():
    rng = np.random.default_rng(7)
    n = 3000
    hour = 3_600_000_000
    w0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    starts = w0 + hour * (rng.integers(0, 3, n) == 0)
    table = pa.table({
        "window_start": pa.array(starts, pa.timestamp("us", tz="UTC")),
        "id": rng.zipf(1.2, n) % 700,
        "w": rng.integers(1, 5, n),
    })
    fn = _task_fn(pack_state(_tmpl()), _id_pairs("id", "w"), windowed=True)

    def by_window(rows):
        return {r["window_start"]: (unpack_state(r["state"]).to_bytes(), r["n_rows"]) for r in rows}

    runs = [by_window(_run(fn, table, k)) for k in (50, 700, n)]
    assert len(runs[0]) == 2
    assert runs[0] == runs[1] == runs[2]


def test_insert_only_guard_holds_across_batches():
    """Id 5 with +5 in one batch and -3 in the next must not net to +2:
    MisraGries still sees the deletion and raises, and a CountSketch
    gets the bytes of one update over the whole stream."""
    batches = [
        pa.RecordBatch.from_pydict({"id": pa.array([5, 9], pa.int64()), "w": pa.array([5, 1], pa.int64())}),
        pa.RecordBatch.from_pydict({"id": pa.array([5, 9], pa.int64()), "w": pa.array([-3, 2], pa.int64())}),
    ]
    mg = _task_fn(pack_state(MisraGries(k=8)), _id_pairs("id", "w"))
    with pytest.raises(ValueError) as err:
        list(mg(iter(batches)))
    assert "negative weights" in str(err.value)

    def cs():
        return CountSketch(width=64, depth=3, seed_stream=SeedStream(1, 2))

    (out,) = list(_task_fn(pack_state(cs()), _id_pairs("id", "w"))(iter(batches)))
    ref = cs()
    ref.update_batch(
        np.concatenate([b.column("id").to_numpy() for b in batches]),
        np.concatenate([b.column("w").to_numpy() for b in batches]),
    )
    assert unpack_state(out.column("state")[0].as_py()).to_bytes() == ref.to_bytes()
    assert out.column("n_updates")[0].as_py() == 11


def test_empty_task_emits_the_template():
    tb = pack_state(_tmpl())
    (out,) = list(_task_fn(tb, _id_pairs("id", None))(iter([])))
    assert out.column("n_rows")[0].as_py() == 0
    assert unpack_state(out.column("state")[0].as_py()).to_bytes() == unpack_state(tb).to_bytes()
    assert list(_task_fn(tb, _id_pairs("id", None), windowed=True)(iter([]))) == []


def test_profile_record_keys(tmp_path, monkeypatch):
    """With SKETCH_PROF_DIR set, a task writes one JSON record of its
    phase times, with the keys perfbench reads."""
    import json

    monkeypatch.setenv("SKETCH_PROF_DIR", str(tmp_path))
    (out,) = list(_fused_fn(pack_state(_tmpl()), "text")(iter([pa.RecordBatch.from_pydict({"text": ["a b a"]})])))
    assert out.column("n_updates")[0].as_py() == 3
    (rec,) = [json.loads(p.read_text()) for p in tmp_path.glob("prof_*.json")]
    assert set(rec) == {
        "enter_epoch", "part", "pid", "serve_s", "kernel_s", "to_bytes_s", "pack_s", "publish_s", "exit_epoch",
    }
    assert rec["enter_epoch"] <= rec["exit_epoch"]


def test_spark_builds_are_batch_size_invariant(spark):
    rng = np.random.default_rng(8)
    vocab = np.array([f"w{i}" for i in range(400)])
    texts = [" ".join(vocab[rng.zipf(1.3, 30) % 400]) for _ in range(1500)]
    docs = spark.createDataFrame([(t,) for t in texts], "text string").repartition(3)
    ids = tokens(docs).withColumn("id", key_id_col("token"))
    old = spark.conf.get(BATCH_CONF)
    fused, exploded = set(), set()
    try:
        for rows in (16, 256, 8192):
            spark.conf.set(BATCH_CONF, str(rows))
            fused.add(build_token_sketch(docs, _tmpl(), text_col="text")[0].to_bytes())
            exploded.add(build_sketch(ids, _tmpl(), id_col="id")[0].to_bytes())
    finally:
        spark.conf.set(BATCH_CONF, old)
    assert len(fused) == 1
    assert len(exploded) == 1
