"""The hybrid query suite: the fourteen oracle-gated hybrid queries of
``__spark_entry__.queries()`` over seeded ``documents`` (5k rows) and
``events`` (100k rows) tables generated in the shape of the sf0.1 test
tables, one query at a time (closed loop, one client). Every answer is compared with its DuckDB
``oracle_sql()`` result, computed before the queries run.

The suite runs inside traced build_zipf runs and feeds the queries
and streaming layer metrics; see README.md for why it is not a
workload of its own.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from . import common

QUERIES = (
    "topk_tokens", "phi_heavy_tokens", "phi_heavy_users", "phi_heavy_users_cs",
    "topk_urls", "topk_hosts", "topk_users_weighted", "point_freq_cm",
    "range_count_dyadic", "distinct_tokens_hll_rounded", "quantiles_kll_exact",
    "eval_hh_precision", "topk_tokens_stream", "windowed_event_counts_stream",
)
STREAMING = ("topk_tokens_stream", "windowed_event_counts_stream")

# The shape of the repository's sf0.1 test tables (documents and events;
# README.md compares the two): a uniform 30-word vocabulary, 10-99
# tokens per document, 5% of the documents copies of another with a
# "dup" token appended; events spread evenly over 30 days, 1500 users
# and five event types.
WORDS = (
    "the a value table spark window merge column vector stream data small join "
    "filter big group hash customer sort order slow line part fast row agg key "
    "query scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
N_DOCS, N_DUPS, N_EVENTS, N_USERS = 5_000, 250, 100_000, 1_500
# range_count_dyadic returns a Count-Min estimate (epsilon 0.005 in
# queries.range_count_users), exact only when no level-0 row collides;
# at this size it is gated on the Count-Min guarantee instead
RANGE_QUERY, RANGE_EPS = "range_count_dyadic", 0.005


def make_tables(sf_dir: str, seed: int) -> None:
    """Write documents.parquet and events.parquet (single files, the
    layout the streaming queries read)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    shutil.rmtree(sf_dir, ignore_errors=True)
    os.makedirs(sf_dir)

    lens = rng.integers(10, 100, N_DOCS)
    words = np.array(WORDS, dtype=object)[rng.integers(0, len(WORDS), int(lens.sum()))]
    texts = [" ".join(ws) for ws in np.split(words, np.cumsum(lens)[:-1])]
    for i in rng.choice(N_DOCS, N_DUPS, replace=False):
        texts[i] = texts[rng.integers(0, N_DOCS)] + " dup"
    docs = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), N_DOCS, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))

    secs = np.sort(rng.uniform(0, 30 * 86400, N_EVENTS))
    events = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(
            np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e6).astype("timedelta64[us]")
        ),
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), N_EVENTS)],
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    pq.write_table(events, os.path.join(sf_dir, "events.parquet"))


def oracle_answers(sf_dir: str) -> dict:
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracles import canon

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {q: canon(con.execute(sql[q]).fetchdf()) for q in QUERIES}
    finally:
        con.close()


def same_answer(q: str, got, expected) -> bool:
    """The comparison of tools/check_oracles.py: same columns, same row
    count, equal values after canonicalisation (floats to 1e-6). The
    range estimate must instead lie in [exact, exact + eps * L1]."""
    import pandas as pd

    from tools.check_oracles import canon

    got = canon(got)
    if list(got.columns) != list(expected.columns) or len(got) != len(expected):
        return False
    if q == RANGE_QUERY:
        g, e = got.iloc[0], expected.iloc[0]
        over = g["range_est"] - e["range_est"]
        return (g["lo"], g["hi"]) == (e["lo"], e["hi"]) and 0 <= over <= RANGE_EPS * N_EVENTS
    try:
        pd.testing.assert_frame_equal(got, expected, check_dtype=True, check_exact=False, atol=1e-6)
    except AssertionError:
        return False
    return True


def _wrap_sketch_entry_points(w: common.Wrapped) -> None:
    """Time spent inside the sketch builds, wherever a query reaches
    them from."""
    import heavy_hitters_spark.queries as queries
    import heavy_hitters_spark.spark as spark_pkg
    import heavy_hitters_spark.spark.aggregate as aggregate
    import heavy_hitters_spark.spark.fused as fused

    for owner, attr in (
        (spark_pkg, "build_sketch"), (aggregate, "build_sketch"), (queries, "build_sketch"),
        (queries, "build_token_sketch"), (fused, "build_token_sketch"),
    ):
        w.wrap(owner, attr, "sketch")


def suite(spark, seed: int, gates: common.Gates, tracer: common.Tracer) -> dict:
    """One warm-up pass and one timed pass of the fourteen queries, every
    answer gated; returns the queries and streaming layer metrics."""
    import __spark_entry__ as entry

    fns = entry.queries()
    sf_dir = os.path.join(common.WORK, "hybrid_sf01")
    # the pages staging pins split sizes for the pages files
    spark.conf.unset("spark.sql.files.maxPartitionBytes")
    spark.conf.unset("spark.sql.files.openCostInBytes")
    with tracer.span("queries.inputs"):
        make_tables(sf_dir, 2000 + seed)
        expected = oracle_answers(sf_dir)
    w = common.Wrapped()
    _wrap_sketch_entry_points(w)
    walls = {}
    try:
        for _ in range(2):  # a warm-up pass, then the timed pass
            sketch_before = w.secs["sketch"]
            for q in QUERIES:
                with tracer.span(f"queries.{q}"):
                    t = time.perf_counter()
                    got = fns[q](spark, sf_dir).toPandas()
                    walls[q] = time.perf_counter() - t
                gates.check(same_answer(q, got, expected[q]), f"{q} differs from its oracle")
    finally:
        w.restore()
    layer = {f"streaming.{q}_s" if q in STREAMING else f"queries.{q}_s": v for q, v in walls.items()}
    total = sum(walls.values())
    sketch = w.secs["sketch"] - sketch_before
    layer["queries.suite_s"] = total
    layer["queries.sketch_pass_s"] = sketch
    layer["queries.exact_pass_s"] = total - sketch
    return layer
