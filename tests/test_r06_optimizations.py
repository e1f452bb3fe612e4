"""Round-6 optimization pins: each test fixes the CONTRACT of an
internal that was rewritten for speed, against a slow reference
implementation on a fixture where the old and new paths must agree
bit-for-bit.

- SWAR popcount == LUT popcount (simhash verify kernel)
- first-agreeing-chunk emission == per-chunk emission + distinct
  (uncapped simhash pair dedup-at-source)
- max_bucket_size-as-stop-shingle-cap == dfreq-filter semantics (jaccard)
- vectorized lang_id == the straightforward per-doc marker count
- kernel width: a quarter of the shuffle width, at least 4
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_popcount64_matches_lut():
    from heavy_hitters_spark.functions.dedup import _popcount64

    rng = np.random.default_rng(7)
    x = rng.integers(0, 1 << 63, size=100_000, dtype=np.int64).view(np.uint64)
    x[:4] = [0, 1, np.uint64(0xFFFFFFFFFFFFFFFF), np.uint64(1) << np.uint64(63)]
    lut = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(axis=1)
    ref = lut[x.view(np.uint8)].reshape(-1, 8).sum(axis=1)
    got = _popcount64(x)
    assert got.dtype == np.uint8
    assert (got == ref).all()


def test_simhash_first_chunk_emission_equals_distinct(spark, rng):
    """The uncapped kernel emits each qualifying pair exactly once from
    its smallest agreeing chunk; a huge (never-binding) bucket cap
    forces the historical per-chunk emission + .distinct() path — both
    must produce the identical pair set with identical hammings, and
    the uncapped output must already be duplicate-free."""
    from heavy_hitters_spark.functions.dedup import near_dup_pairs_simhash

    words = [f"w{i}" for i in range(40)]
    docs = [
        (i, " ".join(rng.choice(words, size=30).tolist())) for i in range(300)
    ]
    # planted near-dups: identical and one-token-edited copies
    docs += [(1000 + i, docs[i][1]) for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    uncapped = near_dup_pairs_simhash(df, max_hamming=7)
    legacy = near_dup_pairs_simhash(df, max_hamming=7, max_bucket_size=1 << 40)
    a = sorted(map(tuple, uncapped.collect()))
    b = sorted(map(tuple, legacy.collect()))
    assert a == b
    assert len(a) == len(set(a))  # no duplicate emissions without distinct


def test_jaccard_cap_equals_dfreq_filter(spark, rng):
    """max_bucket_size implemented as the kernel bucket cap must equal
    the literal spec: drop shingles with document frequency > cap, then
    count intersections over the surviving shingles (sizes unfiltered)."""
    from heavy_hitters_spark.functions.dedup import (
        _doc_shingle_hashes,
        jaccard_pairs,
    )

    words = [f"w{i}" for i in range(12)]  # tiny vocab -> hot shingles
    docs = [(i, " ".join(rng.choice(words, size=15).tolist())) for i in range(120)]
    docs += [(500 + i, docs[i][1]) for i in range(10)]  # exact dups
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cap = 4
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(df, threshold=0.1, n=3, max_bucket_size=cap).collect()
    }
    # reference: dfreq filter in DataFrame ops, intersection via join
    sh = _doc_shingle_hashes(df, 3, "text", "doc_id")
    keep = sh.groupBy("h").agg(F.count("*").alias("df")).where(F.col("df") <= cap)
    shc = sh.join(keep.select("h"), "h")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = shc.withColumnRenamed("doc_id", "doc_a")
    b = shc.withColumnRenamed("doc_id", "doc_b")
    inter = (
        a.join(b, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    ref_rows = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .where(F.col("jaccard") >= 0.1)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .collect()
    )
    ref = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in ref_rows}
    assert got == ref


def test_lang_id_kernel_matches_reference(spark):
    """The sorted-search marker-count kernel must reproduce the naive
    per-doc count + first-max tie-break, including the 'und' rule,
    empty text, multi-language marker overlap ('la', 'que' are in both
    fr and es) and whitespace-duplicate tokens."""
    from heavy_hitters_spark.functions.text import LANG_MARKERS, lang_id

    rows = [
        (0, "the cat and the hat is on the mat"),
        (1, "der hund und die katze ist nicht da"),
        (2, "le chat est dans la maison pour la nuit"),
        (3, "el gato es una historia por la noche"),
        (4, "zzz qqq www"),          # no markers -> und
        (5, ""),                      # empty -> und
        (6, "la la la"),              # fr/es tie on shared marker -> fr (order)
        (7, "the der le el"),         # four-way tie at 1 -> en (order)
        (8, "  the   the  "),         # empty split tokens ignored
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["pred_lang"], r["marker_hits"]) for r in lang_id(df).collect()}

    def ref(text):
        toks = text.lower().split(" ")
        scores = [sum(t in ms for t in toks) for ms in LANG_MARKERS.values()]
        best = max(range(4), key=lambda i: (scores[i], -i))
        if scores[best] == 0:
            return ("und", 0)
        return (list(LANG_MARKERS)[best], scores[best])

    for doc_id, text in rows:
        assert got[doc_id] == ref(text), (doc_id, got[doc_id], ref(text))


def test_kernel_partitions_scale_adaptive(spark, tmp_path):
    """Quarter shuffle width (at least 4) for any input, file-backed or
    not: the kernel width scales with the configured parallelism only."""
    from heavy_hitters_spark.functions.dedup import _kernel_partitions

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _kernel_partitions(spark.range(10).toDF("doc_id")) == max(4, n_shuffle // 4)

    p = str(tmp_path / "t.parquet")
    spark.range(100).toDF("doc_id").write.mode("overwrite").parquet(p)
    assert _kernel_partitions(spark.read.parquet(p)) == max(4, n_shuffle // 4)


def test_near_dup_groups_fallback_matches_fast_path(spark, rng, monkeypatch):
    """The driver-bounded union-find fast path and the distributed
    min-label propagation fallback must produce identical keep/drop
    lists; forcing the bound to 0 exercises the fallback."""
    import heavy_hitters_spark.functions.dedup as dd

    words = [f"w{i}" for i in range(60)]
    docs = [(i, " ".join(rng.choice(words, size=25).tolist())) for i in range(150)]
    docs += [(1000 + i, docs[i][1]) for i in range(12)]   # dup of i
    docs += [(2000 + i, docs[i][1]) for i in range(6)]    # chains i-1000i-2000i
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fast = {(r["doc_id"], r["canonical"]) for r in dd.near_dup_groups(df, threshold=0.9).collect()}
    monkeypatch.setattr(dd, "_MAX_DRIVER_EDGES", 0)
    slow = {(r["doc_id"], r["canonical"]) for r in dd.near_dup_groups(df, threshold=0.9).collect()}
    assert fast == slow
    # planted dups resolve to the min id of their component
    assert (1000, 0) in fast and (2000, 0) in fast


def test_tree_merge_folds_in_partition_order(spark):
    """tree_merge must fold the collected partials in part_id order,
    whatever order they arrive in, so order-sensitive states come out
    deterministic. MisraGries(k=4) rows in a scrambled part_id order
    must equal the in-order left fold byte for byte."""
    import numpy as np

    from heavy_hitters_spark.core import MisraGries
    from heavy_hitters_spark.core.base import pack_state, unpack_state
    from heavy_hitters_spark.spark.aggregate import PARTIAL_SCHEMA, tree_merge

    rng = np.random.default_rng(3)
    blobs = []
    for p in range(6):
        mg = MisraGries(k=4)  # tiny k forces decrements -> order matters
        mg.update_batch(rng.integers(0, 50, size=400, dtype=np.uint64))
        blobs.append(pack_state(mg))  # snapshot BEFORE any merge mutates

    def fold(ps):
        acc = unpack_state(blobs[ps[0]])
        for p in ps[1:]:
            acc = acc.merge(unpack_state(blobs[p]))
        return acc

    ref = fold(range(6))
    order = [3, 0, 5, 1, 4, 2]  # adversarial arrival order
    rows = [(p, blobs[p], 400, 400, 0.0, 0, "") for p in order]
    partials = spark.createDataFrame(rows, PARTIAL_SCHEMA)
    assert [r["part_id"] for r in partials.collect()] == order
    got, m = tree_merge(partials, fanin=16, n_hint=len(order))
    assert m["n_partials"] == 6
    assert got.to_bytes() == ref.to_bytes()

    # one fan-in round (groups part_id % 2) folds each group in part_id
    # order too: (p0 p2 p4) then (p1 p3 p5)
    ref2 = fold([0, 2, 4]).merge(fold([1, 3, 5]))
    got2, m2 = tree_merge(partials, fanin=3, n_hint=len(order))
    assert m2["n_partials"] == 2
    assert got2.to_bytes() == ref2.to_bytes()
