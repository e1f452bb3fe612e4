"""Skew helpers correctness + physical-plan quality gates: predicate
pushdown / column pruning must reach the parquet scan, broadcast joins
must be broadcast, and the hot projection path must be codegen'd."""

import pytest
from pyspark.sql import functions as F

from heavy_hitters_spark.spark import key_id_col, tokens
from heavy_hitters_spark.spark.skew import salted_agg, salted_join, with_salt

SF = "/root/testdata/sf0.001"


def test_salted_agg_matches_plain(spark):
    df = spark.range(10000).select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
    got = {
        (r["k"]): (r["cnt"], r["total"])
        for r in salted_agg(df, ["k"], {"cnt": "count", "total": "sum:v"}, n_salts=8).collect()
    }
    exact = {
        r["k"]: (r["cnt"], r["total"])
        for r in df.groupBy("k").agg(F.count("*").alias("cnt"), F.sum("v").alias("total")).collect()
    }
    assert got == exact


def test_salted_join_matches_plain(spark):
    big = spark.range(20000).select((F.col("id") % 5).alias("k"), F.col("id").alias("v"))
    small = spark.createDataFrame([(i, f"x{i}") for i in range(5)], "k long, name string")
    got = salted_join(big, small, on="k", n_salts=4).groupBy("name").count().collect()
    exact = big.join(small, "k").groupBy("name").count().collect()
    assert {(r["name"], r["count"]) for r in got} == {(r["name"], r["count"]) for r in exact}


def test_salt_determinism(spark):
    df = spark.range(1000).select(F.col("id").alias("k"))
    a = with_salt(df, ["k"], 16).collect()
    assert all(0 <= r["__salt"] < 16 for r in a)


def test_ip_to_uint32(spark):
    """IPv4 packing parity with the reference parsers
    (precision_hh.c:543,597: (a<<24)|(b<<16)|(c<<8)|d)."""
    from heavy_hitters_spark.spark.keys import ip_to_uint32_col

    df = spark.createDataFrame(
        [("0.0.0.1",), ("10.0.0.1",), ("255.255.255.255",), ("192.168.1.42",)],
        "ip string",
    )
    got = {r["ip"]: r["id"] for r in df.withColumn("id", ip_to_uint32_col("ip")).collect()}
    assert got["0.0.0.1"] == 1
    assert got["10.0.0.1"] == (10 << 24) + 1
    assert got["255.255.255.255"] == (1 << 32) - 1
    assert got["192.168.1.42"] == (192 << 24) + (168 << 16) + (1 << 8) + 42


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    q = ev.where(F.col("user_id").between(10, 59)).select("user_id")
    plan = _plan(q)
    assert "PushedFilters" in plan and "user_id" in plan
    # column pruning: scan schema should not include event_type/props
    assert "props" not in plan.split("ReadSchema")[-1]


def test_broadcast_join_used_for_candidates(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tok = tokens(docs).withColumn("id", key_id_col("token"))
    cand = spark.createDataFrame([(i,) for i in range(10)], "id long")
    j = tok.join(F.broadcast(cand), "id")
    assert "BroadcastHashJoin" in _plan(j)


def test_tokenize_path_codegen(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tok = tokens(docs).withColumn("id", key_id_col("token"))
    plan = _plan(tok)
    assert "*(1)" in plan  # whole-stage codegen (explode/split/xxhash JVM-side)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # column pruning: only text is read
    assert "ReadSchema: struct<text:string>" in plan


def test_fused_build_scan_prunes_to_text(spark):
    """The fused mapInArrow build must read ONLY the text column."""
    from heavy_hitters_spark.core import MisraGries
    from heavy_hitters_spark.spark.aggregate import PARTIAL_SCHEMA
    from heavy_hitters_spark.spark.fused import _fused_fn

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    partials = docs.select("text").mapInArrow(
        _fused_fn(MisraGries(k=64).to_bytes(), "text"), PARTIAL_SCHEMA
    )
    plan = _plan(partials)
    assert "ReadSchema: struct<text:string>" in plan


def test_shingle_hashing_is_jvm_side(spark):
    """shingle/token hashing must stay in Catalyst codegen — the Arrow
    kernel only sees hashed arrays (no Python string work)."""
    from heavy_hitters_spark.functions.dedup import shingle_hashes_col, token_hashes_col

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p1 = _plan(docs.select(shingle_hashes_col("text").alias("h")))
    p2 = _plan(docs.select(token_hashes_col("text").alias("h")))
    for plan in (p1, p2):
        assert "xxhash64" in plan.lower()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _lambda_bodies(plan: str) -> list[str]:
    """The text of every ``lambdafunction(...)`` in a plan string."""
    out, start = [], plan.find("lambdafunction(")
    while start >= 0:
        depth, i = 0, start + len("lambdafunction")
        while True:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
            if depth == 0:
                break
        out.append(plan[start:i])
        start = plan.find("lambdafunction(", start + 1)
    return out


def test_shingle_split_runs_once_per_document(spark):
    """Every shingle site splits a document once: no ``split`` under a
    lambda function in the optimized plan (a split inside the shingle
    ``transform`` re-runs per shingle, quadratic in the token count)."""
    from heavy_hitters_spark.functions.dedup import (
        _doc_shingle_hashes,
        jaccard_pairs,
        shingle_hashes_col,
        shingles_df,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (
        shingles_df(docs),
        _doc_shingle_hashes(docs, 3, "text", "doc_id"),
        jaccard_pairs(docs, threshold=0.5),
        docs.select(shingle_hashes_col("text").alias("h")),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        bodies = _lambda_bodies(plan)
        assert "split(" in plan and bodies
        assert not [b for b in bodies if "split(" in b]


def test_minhash_verify_has_no_shingle_self_join(spark):
    """near_dup_pairs_minhash verification joins per-doc shingle ARRAYS
    on doc ids (narrow) — the plan must not contain a join keyed on the
    shingle value (corpus-wide self-join was the old scale hazard)."""
    from heavy_hitters_spark.functions.dedup import near_dup_pairs_minhash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(near_dup_pairs_minhash(docs, threshold=0.5))
    assert "SortMergeJoin [shingle" not in plan and "ShuffledHashJoin [shingle" not in plan


def test_minhash_verify_single_corpus_subtree_no_forced_broadcast(spark):
    """The verify join must (a) not force-broadcast the candidate-pair
    side (unbounded at web scale — AQE picks the strategy at runtime)
    and (b) keep exactly ONE corpus-side shingle-set subtree
    (array_distinct over the hashed shingles appears once): the unpivot
    shape executes the corpus tokenize+hash exactly once regardless of
    join strategy."""
    from heavy_hitters_spark.functions.dedup import near_dup_pairs_minhash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = near_dup_pairs_minhash(docs, threshold=0.5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("array_distinct") == 1
    # the logical plan must carry no user ResolvedHint on the join
    assert "UnresolvedHint" not in df._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" not in df._jdf.queryExecution().optimizedPlan().toString()
