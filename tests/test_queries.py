"""Query API vs exact Spark oracles on the synthesized pages table and
the driver-provided testdata (precision_hh.c:641-706 metric definitions:
recall on >= phi*L1, zero reported below (phi-eps)*L1)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from heavy_hitters_spark.core import CountMin, MisraGries, SeedStream
from heavy_hitters_spark.io import pages_df
from heavy_hitters_spark.queries import (
    distinct_tokens_hll,
    phi_heavy_tokens,
    phi_heavy_users,
    point_freq_tokens,
    quantiles_events_value,
    range_count_users,
    topk_tokens,
)
from heavy_hitters_spark.spark import build_sketch, key_id, key_id_col, tokens

SF = "/root/testdata/sf0.001"


def test_topk_tokens_matches_exact(spark):
    got = [(r["token"], r["freq"]) for r in topk_tokens(spark, SF, k=10).collect()]
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = [
        (r["token"], r["freq"])
        for r in tokens(docs)
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(10)
        .collect()
    ]
    assert got == exact


def test_phi_heavy_tokens_matches_exact(spark):
    got = {(r["token"], r["freq"]) for r in phi_heavy_tokens(spark, SF, phi=0.02).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tok = tokens(docs)
    total = tok.count()
    exact = {
        (r["token"], r["freq"])
        for r in tok.groupBy("token")
        .agg(F.count("*").alias("freq"))
        .where(F.col("freq") >= 0.02 * total)
        .collect()
    }
    assert got == exact


def test_phi_heavy_users_recall_and_precision(spark):
    phi = 0.005
    got = {r["user_id"]: r["freq"] for r in phi_heavy_users(spark, SF, phi=phi).collect()}
    ev = spark.read.parquet(f"{SF}/events.parquet")
    total = ev.count()
    exact = {
        r["user_id"]: r["cnt"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    heavy = {u for u, c in exact.items() if c >= phi * total}
    assert set(got) == heavy  # exact-verify pass makes it exactly the heavy set
    assert all(got[u] == exact[u] for u in got)


def test_point_freq_upper_bounds(spark):
    rows = point_freq_tokens(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = {
        r["token"]: r["cnt"]
        for r in tokens(docs).groupBy("token").agg(F.count("*").alias("cnt")).collect()
    }
    for r in rows:
        assert r["est_freq"] >= exact.get(r["token"], 0)


def test_hll_distinct_close(spark):
    est = distinct_tokens_hll(spark, SF).collect()[0]["distinct_est"]
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = tokens(docs).select("token").distinct().count()
    assert abs(est - exact) / exact < 0.15


def test_kll_quantiles_close(spark):
    rows = quantiles_events_value(spark, SF).collect()
    ev = spark.read.parquet(f"{SF}/events.parquet")
    vals = np.array([r["value"] for r in ev.select("value").collect()])
    for r in rows:
        exact = np.quantile(vals, r["q"])
        assert abs(r["value_est"] - exact) <= 0.05 * (vals.max() - vals.min()) + 0.05


def test_range_count_close(spark):
    row = range_count_users(spark, SF, lo=10, hi=59).collect()[0]
    ev = spark.read.parquet(f"{SF}/events.parquet")
    exact = ev.where(F.col("user_id").between(10, 59)).count()
    total = ev.count()
    assert abs(row["range_est"] - exact) <= 0.01 * total + 1


def test_pages_phi_hh_end_to_end(spark):
    """Full pipeline on the canonical input_hint table: tokens of the
    synthesized pages, sketch candidates + exact verify vs groupBy."""
    pages = pages_df(spark, 3000, partitions=16)
    tok = tokens(pages).withColumn("id", key_id_col("token"))
    tok.cache()
    total = tok.count()
    phi = 0.01
    mg, _ = build_sketch(tok, MisraGries(k=4096), id_col="id")
    cand_df = spark.createDataFrame([(int(i),) for i, _ in mg.candidates()], "id long")
    got = {
        (r["token"], r["freq"])
        for r in tok.join(F.broadcast(cand_df), "id")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .where(F.col("freq") >= phi * total)
        .collect()
    }
    exact = {
        (r["token"], r["freq"])
        for r in tok.groupBy("token")
        .agg(F.count("*").alias("freq"))
        .where(F.col("freq") >= phi * total)
        .collect()
    }
    assert got == exact and len(got) > 0
    tok.unpersist()


def test_mg_exact_topk_certificate_on_ties(spark):
    """Tie-heavy data: MG _shrink can leave zero candidates while
    decrement > 0 — the decrement-based certificate must fall back to
    the exact plan instead of silently returning a wrong 'exact' top-k
    (a len(candidates)-based gate would not)."""
    import numpy as np

    from heavy_hitters_spark.core import MisraGries
    from heavy_hitters_spark.queries import _mg_exact_topk
    from heavy_hitters_spark.spark import key_id_col

    rows = [(f"k{i % 50}",) for i in range(500)]  # 50 keys, 10 each (all tied)
    df = spark.createDataFrame(rows, "token string").withColumn("id", key_id_col("token"))
    mg = MisraGries(k=4)
    ids = np.array([r["id"] for r in df.collect()], dtype=np.uint64)
    mg.update_batch(ids)
    got = _mg_exact_topk(df, mg, "token", 5).collect()
    exact = (
        df.groupBy("token").count().orderBy(F.desc("count"), F.asc("token")).limit(5).collect()
    )
    assert [(r["token"], r["freq"]) for r in got] == [(r["token"], r["count"]) for r in exact]


def test_windowed_quantiles_bounded_fallback_adversarial(spark):
    """Certificate-failure path must stay BOUNDED: with windows that
    completely miss every true quantile (sketch arbitrarily wrong) and
    no rewindow, resolution goes through _bisect_ranks — O(#qs) driver
    counters per round, never a full distinct-value collect — and still
    returns the exact answers."""
    import math as m

    from pyspark.sql import functions as F

    from heavy_hitters_spark.queries import _bisect_ranks, _exact_quantiles_windowed

    vals = spark.range(1, 1001).select((F.col("id") * 7).alias("v"))  # 7..7000
    qs = [0.1, 0.5, 0.99]
    # windows entirely below and entirely above the data
    bad = [(-100, -90), (10**9, 10**9 + 1), (-5, -1)]
    got = _exact_quantiles_windowed(vals, qs, bad, rewindow=None)
    exact = [7 * max(1, m.ceil(q * 1000)) for q in qs]
    assert got == exact
    # _bisect_ranks directly: exact value-at-rank on its own
    assert _bisect_ranks(vals, [1, 500, 1000]) == [7, 3500, 7000]


def test_windowed_quantiles_rewindow_recovers(spark):
    """A too-tiny pad that misses some quantiles must recover through
    the doubled-pad rewindow rounds (still certified), without hitting
    bisection."""
    from pyspark.sql import functions as F

    from heavy_hitters_spark.queries import _exact_quantiles_windowed

    vals = spark.range(1, 1001).select(F.col("id").alias("v"))
    qs = [0.25, 0.75]
    calls = []

    def rewindow(attempt):
        calls.append(attempt)
        w = 10 * (2 ** attempt)
        return [(250 - w, 250 + w), (750 - w, 750 + w)]

    # initial windows deliberately offset so the certificate fails
    got = _exact_quantiles_windowed(vals, qs, [(100, 110), (900, 910)], rewindow=rewindow)
    assert got == [250, 750]
    assert calls  # the rewindow path actually ran


def test_quantiles_exact_with_zero_pad_still_exact(spark):
    """pad=0 gives the narrowest possible sketch windows; the
    certificate + rewindow chain must still produce the exact answer
    (oracle semantics: quantile_disc)."""
    from heavy_hitters_spark.queries import quantiles_events_value_exact

    a = {r["q"]: r["value_est"] for r in quantiles_events_value_exact(spark, SF, pad=0.0).collect()}
    b = {r["q"]: r["value_est"] for r in quantiles_events_value_exact(spark, SF, pad=0.05).collect()}
    assert a == b


def test_simhash_capped_equals_uncapped_at_small_sf(spark):
    """The simhash_pairs / simhash_pairs_capped split (ADVICE r04 #3):
    at scale factors where every chunk bucket is under the 2000-doc
    ceiling the capped variant must return EXACTLY the uncapped
    guaranteed-recall output; the cap may only bind (documented
    recall/volume trade) at larger corpora."""
    import __spark_entry__ as entry_mod

    q = entry_mod.queries()
    unc = {(r["doc_a"], r["doc_b"], r["hamming"])
           for r in q["simhash_pairs"](spark, SF).collect()}
    cap = {(r["doc_a"], r["doc_b"], r["hamming"])
           for r in q["simhash_pairs_capped"](spark, SF).collect()}
    assert cap == unc
    assert len(unc) > 0


HYBRID = (
    "topk_tokens", "phi_heavy_tokens", "phi_heavy_users", "phi_heavy_users_const",
    "phi_heavy_users_cs", "phi_heavy_users_binary", "topk_event_types", "topk_urls",
    "topk_hosts", "topk_users_weighted", "point_freq_cm", "range_count_dyadic",
    "distinct_tokens_hll_rounded", "quantiles_kll_exact", "quantiles_tdigest_exact",
    "eval_hh_precision", "topk_tokens_stream", "windowed_event_counts_stream",
)


@pytest.mark.parametrize("name", HYBRID)
def test_hybrid_query_reads_each_table_once(spark, monkeypatch, name):
    """A hybrid query reads each input table once and reuses the
    DataFrame for its sketch and exact passes (a second
    ``spark.read.parquet`` of the same table costs a schema-inference
    job)."""
    from collections import Counter

    from pyspark.sql.readwriter import DataFrameReader

    import __spark_entry__ as entry_mod

    reads = Counter()
    real = DataFrameReader.parquet

    def counting(self, *paths, **kw):
        reads.update(p for p in paths if p.startswith(SF))
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    entry_mod.queries()[name](spark, SF).collect()
    assert reads and max(reads.values()) == 1, dict(reads)
