"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator (SURVEY.md §2 +
training-data ops); ``oracle_sql()`` gives the DuckDB-equivalent ANSI
SQL for the deterministic (hybrid sketch→exact and pure-relational)
queries. Sketch-ESTIMATE queries (CM point, HLL, KLL, dyadic range, L2,
SimHash/LSH buckets) intentionally have no SQL oracle — the estimate is
the product; their (ε, δ) bounds are asserted in tests/ instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: phi-heavy-hitter tokens (sketch candidates + exact
    verify) over sf0.001 documents."""
    from heavy_hitters_spark.queries import phi_heavy_tokens

    return phi_heavy_tokens(spark, SF0001, phi=0.02)


# ----------------------------------------------------------------------


def _q_topk_tokens(spark, sf):
    from heavy_hitters_spark.queries import topk_tokens

    return topk_tokens(spark, sf, k=20)


def _q_phi_heavy_tokens(spark, sf):
    from heavy_hitters_spark.queries import phi_heavy_tokens

    return phi_heavy_tokens(spark, sf, phi=0.02)


def _q_phi_heavy_users(spark, sf):
    from heavy_hitters_spark.queries import phi_heavy_users

    return phi_heavy_users(spark, sf, phi=0.005)


def _q_topk_event_types(spark, sf):
    from heavy_hitters_spark.queries import topk_event_types

    return topk_event_types(spark, sf, k=5)


def _q_token_count(spark, sf):
    from heavy_hitters_spark.functions.text import token_count_col

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return docs.select("doc_id", token_count_col("text").alias("n_tokens"))


def _q_bpe_token_count(spark, sf):
    from heavy_hitters_spark.functions.dedup import _widen_narrow_scan
    from heavy_hitters_spark.functions.text import bpe_ish_count_col

    # widened only where a CPU-heavy per-doc text kernel dominates
    # (BPE segmentation, regex quality metrics, rolling-hash
    # fingerprints); the sketch-build scans stay raw (see queries._docs)
    docs = _widen_narrow_scan(spark.read.parquet(f"{sf}/documents.parquet"))
    return docs.select("doc_id", bpe_ish_count_col("text").alias("n_pieces"))


def _q_quality_scores(spark, sf):
    from heavy_hitters_spark.functions.dedup import _widen_narrow_scan
    from heavy_hitters_spark.functions.text import quality_scores

    docs = _widen_narrow_scan(spark.read.parquet(f"{sf}/documents.parquet"))
    q = quality_scores(docs)
    return q.select(
        "doc_id",
        "n_tokens",
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
    )


def _q_lang_id(spark, sf):
    from heavy_hitters_spark.functions.text import lang_id

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return lang_id(docs)


def _q_dedup_exact(spark, sf):
    from heavy_hitters_spark.functions.dedup import dedup_exact

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return dedup_exact(docs, key_col="text", id_col="doc_id")


def _q_jaccard_pairs(spark, sf):
    from heavy_hitters_spark.functions.dedup import jaccard_pairs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return jaccard_pairs(docs, threshold=0.2, n=3)


def _q_near_dup_minhash(spark, sf):
    from heavy_hitters_spark.functions.dedup import near_dup_pairs_minhash

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return near_dup_pairs_minhash(docs, threshold=0.5, n_hashes=128, bands=32, shingle_n=3)


def _q_dedup_near_groups(spark, sf):
    """Near-dup connected components -> canonical doc per group (the
    pipeline keep/drop list). Deterministic: pairs are exact-Jaccard
    verified; components via min-label propagation."""
    from heavy_hitters_spark.functions.dedup import near_dup_groups

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return near_dup_groups(docs, threshold=0.5, n_hashes=128, bands=32, shingle_n=3)


def _q_topk_users_weighted(spark, sf):
    """Weighted CASH-REGISTER hybrid top-k: MG over integer-scaled
    (non-negative) event values as update weights + exact weighted
    rescoring. Exercises the reference's weighted-update path (test_hh
    fixtures' A[i][2] shape) through the driver gate; the turnstile
    (signed) path goes through CountSketch — see turnstile_net_cs."""
    from heavy_hitters_spark.core import MisraGries
    from heavy_hitters_spark.queries import _events, _mg_exact_topk, _with_user_id
    from heavy_hitters_spark.spark import build_sketch

    ev = _with_user_id(_events(spark, sf)).withColumn("w", (F.col("value") * 100).cast("long"))
    mg, _ = build_sketch(ev, MisraGries(k=4096), id_col="id", weight_col="w")
    return _mg_exact_topk(ev, mg, "user_id", 10, weight_col="w")


def _signed_user_events(spark, sf):
    """The TURNSTILE events stream: user ids, with weight ``w`` = -1 for
    an error event (a deletion) and +1 for any other (an insertion)."""
    from heavy_hitters_spark.queries import _events, _with_user_id

    sign = F.when(F.col("event_type") == "error", F.lit(-1)).otherwise(F.lit(1))
    return _with_user_id(_events(spark, sf)).withColumn("w", sign.cast("long"))


def _q_turnstile_net_cs(spark, sf):
    """TURNSTILE Count-Median point estimates end-to-end: every
    non-error event is an insertion (+1), every error event a deletion
    (-1), streamed through CountSketch's signed counters
    (count_median.c:81-100 — the reference's count_median_update takes
    a signed long). Exact on this data at width 2^16 (150 distinct
    users; median row collision-free), so the oracle is the exact net
    count per probe user."""
    import numpy as np

    from heavy_hitters_spark.core import CountSketch, SeedStream
    from heavy_hitters_spark.queries import _sorted_frame
    from heavy_hitters_spark.spark import build_sketch

    probes = [10, 20, 30, 40, 50]
    ev = _signed_user_events(spark, sf)
    cs_t = CountSketch(width=1 << 16, depth=7, hash_family="ms", seed_stream=SeedStream(1234, 5678))
    cs, _ = build_sketch(ev, cs_t, id_col="id", weight_col="w")
    est = cs.point(np.array(probes, dtype=np.uint64))
    return _sorted_frame(
        spark, [(int(u), int(e)) for u, e in zip(probes, est)], "user_id long, net_freq long"
    )


def _q_simhash_pairs_planted(spark, sf):
    """Oracle-gated SimHash variant: plant TWO identical-text copies of
    docs 0..24 (ids +10^7 and +2*10^7), run the radius-7 chunked
    pipeline over the augmented corpus, keep pairs where both sides are
    planted and hamming == 0. Identical text => identical simhash, and
    docs 0..24 have 25 DISTINCT simhashes on this fixture (verified),
    so the output is exactly the 25 (i+10^7, i+2*10^7) pairs — a DuckDB
    text-equality oracle gates the whole chunk-bucket + popcount-verify
    path. The unrestricted query (simhash_pairs) stays rows-only."""
    from heavy_hitters_spark.functions.dedup import near_dup_pairs_simhash

    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    base = docs.where(F.col("doc_id") < 25)
    aug = docs.unionByName(
        base.select((F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text")
    ).unionByName(
        base.select((F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"), "text")
    )
    pairs = near_dup_pairs_simhash(aug, max_hamming=7)
    return (
        pairs.where((F.col("doc_a") >= 10_000_000) & (F.col("hamming") == 0))
        .orderBy("doc_a", "doc_b")
    )


def _q_jaccard_pairs_capped(spark, sf):
    """The 100x-relevant capped path of jaccard_pairs: stop-shingles
    with document frequency > 5 (a shingle's bucket size) are dropped
    before pair generation (web-scale hot-bucket bound). Intersections
    count surviving shingles only; sizes stay exact — the oracle
    applies the identical DF filter in SQL."""
    from heavy_hitters_spark.functions.dedup import jaccard_pairs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return jaccard_pairs(docs, threshold=0.2, n=3, max_bucket_size=5)


def _q_simhash_pairs(spark, sf):
    """8 x 8-bit chunk bucketing: recall GUARANTEED for hamming <= 7
    (pigeonhole); radius 7 keeps candidate volume ~n^2/256 per chunk.
    UNCAPPED — this query carries the guaranteed-recall contract
    (ADVICE r04 #3: arming the bucket ceiling here silently weakened it
    at scale factors where the cap binds); the armed web-scale ceiling
    is the simhash_pairs_capped variant below, mirroring the
    jaccard_pairs / jaccard_pairs_capped split."""
    from heavy_hitters_spark.functions.dedup import near_dup_pairs_simhash

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return near_dup_pairs_simhash(docs, max_hamming=7)


def _q_simhash_pairs_capped(spark, sf):
    """The 100x-relevant capped SimHash path: max_bucket_size=2000 is
    the armed web-scale ceiling. Measured skew at sf0.1 puts 25% of the
    corpus in ONE chunk bucket (1253/5000 docs) — every bucket is still
    under this cap, so at sf0.1 the output equals the uncapped query
    (asserted in tests); at 100x the cap bounds the quadratic verify
    task for a hot chunk while the other 7 chunks keep catching pairs
    (pigeonhole gives several agreeing chunks per true near-dup). Pairs
    whose only agreeing chunks are all hot are dropped — the documented
    recall/volume trade, now explicit in its own variant instead of
    silently armed in the contract-carrying query."""
    from heavy_hitters_spark.functions.dedup import near_dup_pairs_simhash

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return near_dup_pairs_simhash(docs, max_hamming=7, max_bucket_size=2000)


def _query_vectors(emb):
    """The embeddings of vec_id 0..2, the ANN queries' probe vectors,
    in vec_id order (three rows, sorted on the driver)."""
    rows = emb.where(F.col("vec_id") < 3).select("vec_id", "embedding").collect()
    return [r["embedding"] for r in sorted(rows, key=lambda r: r["vec_id"])]


def _q_ann_topk(spark, sf):
    import numpy as np

    from heavy_hitters_spark.functions.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return brute_force_topk(emb, np.array(_query_vectors(emb)), k=10)


def _q_ann_lsh_topk(spark, sf):
    """Hyperplane-LSH ANN. 6 planes x 16 tables: this fixture's
    embeddings are near-uniform (the hard regime for LSH), so the
    bucket design trades candidate volume for recall@10 = 0.53 vs the
    exact ann_topk (deterministic, gated in tests/test_functions.py);
    clustered real-world corpora hit far higher recall at far lower
    volume (test_lsh_topk_recall_planted: 0.85+)."""
    import numpy as np

    from heavy_hitters_spark.functions.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return lsh_topk(emb, np.array(_query_vectors(emb)), k=10, n_planes=6, n_tables=16)


def _q_ann_ivf_topk(spark, sf):
    """IVF ANN (coarse k-means cells + probed-cell exact rescoring) —
    the write-once-partitioning scale path; recall grows with n_probe."""
    import numpy as np

    from heavy_hitters_spark.functions.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return ivf_topk(emb, np.array(_query_vectors(emb)), k=10, n_cells=32, n_probe=8)


def _q_ann_lsh_recall(spark, sf):
    """Driver-gated recall@10 of the LSH index vs the exact ranking
    (VERDICT r04 #5), computed IN SPARK by eval.ann_recall — the
    precision_hh-style harness applied to ANN. Deterministic: the
    hyperplane seeds, table layout, and tie-breaks are all fixed, so
    the per-query hit counts are a reproducible function of the data —
    the oracle recomputes the exact top-10 ranking in SQL (proving the
    ground-truth side and the query_id set) and pins the hit counts at
    their fixed-seed values (same recipe as eval_hh_precision, whose
    recall/precision literals are pinned at their provable values; the
    recall floors are additionally bounds-gated in pytest)."""
    from heavy_hitters_spark.eval import ann_recall

    return ann_recall(_q_ann_topk(spark, sf), _q_ann_lsh_topk(spark, sf), k=10)


def _q_ann_ivf_recall(spark, sf):
    """Driver-gated recall@10 of the IVF index (n_cells=32, n_probe=8)
    vs the exact ranking — same harness and oracle recipe as
    ann_lsh_recall; k-means training order and cell assignment are
    seed-fixed, so the hit counts are deterministic."""
    from heavy_hitters_spark.eval import ann_recall

    return ann_recall(_q_ann_topk(spark, sf), _q_ann_ivf_topk(spark, sf), k=10)


def _q_cosine_near_dups(spark, sf):
    """Planted-pair variant (oracle-gated): augment the embeddings with
    scaled copies (vec_id + 10^7, embedding * 2 — same direction, so
    cosine == 1 and every hyperplane sign agrees => LSH recall is
    DETERMINISTIC for the planted pairs). threshold 0.99 excludes all
    non-planted pairs on this data (max random cosine << 0.99), so the
    output is exactly the planted set and a DuckDB exact all-pairs
    oracle can gate it."""
    from heavy_hitters_spark.functions.similarity import cosine_near_dup_pairs

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "embedding")
    planted = emb.where(F.col("vec_id") < 40).select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias("embedding"),
    )
    aug = emb.unionByName(planted)
    return cosine_near_dup_pairs(aug, threshold=0.99)


def _q_distinct_tokens_exact(spark, sf):
    from heavy_hitters_spark.spark import tokens

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return tokens(docs).agg(F.countDistinct("token").alias("n_distinct"))


def _q_events_user_range_exact(spark, sf):
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return ev.where(F.col("user_id").between(10, 59)).agg(F.count("*").alias("n"))


def _q_doc_fingerprints(spark, sf):
    from heavy_hitters_spark.functions.dedup import _widen_narrow_scan
    from heavy_hitters_spark.functions.text import fingerprint_col

    docs = _widen_narrow_scan(spark.read.parquet(f"{sf}/documents.parquet"))
    return docs.select("doc_id", fingerprint_col("text").alias("fp"))


def _q_point_freq(spark, sf):
    from heavy_hitters_spark.queries import point_freq_tokens

    return point_freq_tokens(spark, sf)


def _q_point_freq_cs(spark, sf):
    """Count-median (Count-Sketch) point estimates for probe tokens
    (count_median.c:107-124). Deterministically exact on this data at
    width 2^16 (median row collision-free at both sf0.01 and sf0.1,
    verified), so the oracle is the exact count — the unbiasedness and
    eps*L2 bounds are asserted separately in tests."""
    import numpy as np

    from heavy_hitters_spark.core import CountSketch, SeedStream
    from heavy_hitters_spark.queries import _docs, _sorted_frame
    from heavy_hitters_spark.spark import key_id
    from heavy_hitters_spark.spark.fused import build_token_sketch

    probes = ["the", "a", "value", "table", "spark"]
    cs_t = CountSketch(width=1 << 16, depth=7, hash_family="ms", seed_stream=SeedStream(1234, 5678))
    cs, _ = build_token_sketch(_docs(spark, sf), cs_t)
    est = cs.point(np.array([key_id(t) for t in probes], dtype=np.uint64))
    return _sorted_frame(
        spark, [(t, int(e)) for t, e in zip(probes, est)], "token string, est_freq long"
    )


def _q_above_threshold_cm(spark, sf):
    """CM above_threshold over probe tokens (count_min.c:124-145).
    Exact on this data at width 2^18 (min-row collision-free, same
    certificate as point_freq_cm)."""
    import numpy as np

    from heavy_hitters_spark.core import CountMin, SeedStream
    from heavy_hitters_spark.queries import _docs, _sorted_frame
    from heavy_hitters_spark.spark import key_id
    from heavy_hitters_spark.spark.fused import build_token_sketch

    probes = ["the", "a", "value", "table", "spark", "zzz-not-a-token"]
    cm_t = CountMin(width=1 << 18, depth=5, hash_family="ms", seed_stream=SeedStream(1234, 5678))
    cm, _ = build_token_sketch(_docs(spark, sf), cm_t)
    th = int(0.001 * cm.norm)
    hits = cm.above_threshold(np.array([key_id(t) for t in probes], dtype=np.uint64), th)
    return _sorted_frame(
        spark, [(t, bool(h), th) for t, h in zip(probes, hits)],
        "token string, above boolean, threshold long",
    )


def _q_range_sum_cm(spark, sf):
    """CM naive range_sum (count_min.c:147-156) over user_id in
    [10, 59] — exact here for the point_freq_cm reason; the scalable
    form is range_count_dyadic."""
    from heavy_hitters_spark.core import CountMin, SeedStream
    from heavy_hitters_spark.queries import _events, _with_user_id
    from heavy_hitters_spark.spark import build_sketch

    ev = _with_user_id(_events(spark, sf))
    cm_t = CountMin(width=1 << 18, depth=5, hash_family="ms", seed_stream=SeedStream(1234, 5678))
    cm, _ = build_sketch(ev, cm_t, id_col="id")
    return spark.createDataFrame(
        [(10, 59, int(cm.range_sum(10, 59)))], "lo long, hi long, range_sum long"
    )


def _q_distinct_hll(spark, sf):
    from heavy_hitters_spark.queries import distinct_tokens_hll

    return distinct_tokens_hll(spark, sf)


def _q_distinct_hll_rounded(spark, sf):
    """HLL estimate rounded to a count — on low-cardinality inputs the
    linear-counting regime is within +-0.5 of truth, so this is
    deterministically exact here (the raw-estimate query stays
    rows-only)."""
    from heavy_hitters_spark.queries import distinct_tokens_hll

    return distinct_tokens_hll(spark, sf).select(
        F.round("distinct_est").cast("long").alias("n_distinct")
    )


def _q_quantiles_kll(spark, sf):
    from heavy_hitters_spark.queries import quantiles_events_value

    return quantiles_events_value(spark, sf)


def _q_quantiles_kll_exact(spark, sf):
    """Hybrid KLL->exact quantiles: sketch windows prune, exact passes
    certify + resolve — deterministically equal to quantile_disc."""
    from heavy_hitters_spark.queries import quantiles_events_value_exact

    return quantiles_events_value_exact(spark, sf)


def _q_quantiles_tdigest_exact(spark, sf):
    from heavy_hitters_spark.queries import quantiles_events_value_exact_tdigest

    return quantiles_events_value_exact_tdigest(spark, sf)


def _q_topk_urls(spark, sf):
    from heavy_hitters_spark.queries import topk_urls

    return topk_urls(spark, sf, k=20)


def _q_topk_hosts(spark, sf):
    from heavy_hitters_spark.queries import topk_hosts

    return topk_hosts(spark, sf, k=10)


def _q_range_count_dyadic(spark, sf):
    from heavy_hitters_spark.queries import range_count_users

    return range_count_users(spark, sf, lo=10, hi=59)


def _q_l2_norm(spark, sf):
    from heavy_hitters_spark.queries import l2_norm_tokens

    return l2_norm_tokens(spark, sf)


def _q_l2_norm_exact(spark, sf):
    """Exact L2 of the token-frequency vector (pure Catalyst companion
    to the AMS estimate; the estimate's accuracy vs this value is
    bounds-checked in tests)."""
    from heavy_hitters_spark.spark import tokens

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    freqs = tokens(docs).groupBy("token").agg(F.count("*").alias("f"))
    return freqs.agg(
        F.round(F.sqrt(F.sum(F.col("f") * F.col("f"))), 6).alias("l2"),
        F.sum("f").alias("l1"),
    )


def _q_phi_heavy_users_const(spark, sf):
    """Same phi-HH question answered by the hh_const_sketch variant
    (cheap per-level rows + verification sketch) + exact verify —
    deterministic, same oracle as phi_heavy_users."""
    from heavy_hitters_spark.hh import ConstSketchHH
    from heavy_hitters_spark.queries import (
        _events,
        _user_hierarchy,
        _verified_heavy_users,
        _with_user_id,
    )

    ev = _with_user_id(_events(spark, sf))
    return _verified_heavy_users(ev, _user_hierarchy(0.005, cls=ConstSketchHH))


def _q_phi_heavy_users_cs(spark, sf):
    """TURNSTILE hierarchical phi-HH end-to-end: the signed +1/−1 event
    stream (insert per non-error, delete per error) through
    ``DyadicHH(sketch_type='count_sketch')`` — the reference's
    ``hh_median_sketch`` analog (sketch.c:47-70 hierarchy over
    count_median.c:81-100 signed counters, with the CS threshold policy
    ``th − ε·L1``, count_median.h:46-49) — then exact net-frequency
    verification of the candidates. Deterministic: candidates only
    prune; the filter is the exact net count."""
    from heavy_hitters_spark.queries import _user_hierarchy, _verified_heavy_users

    # width/depth override = the reference's -w/-h global dims
    # (precision_hh.c:116-150): the (eps, delta')-derived CS dims are
    # quadratic in 1/eps (~1.5 GB/level here) — the exact verification
    # below only needs candidate RECALL, which 2^16 x 7 delivers with
    # huge margin on a 2^8-ary prefix tree
    hh = _user_hierarchy(0.005, sketch_type="count_sketch", width=1 << 16, depth=7)
    return _verified_heavy_users(_signed_user_events(spark, sf), hh, weight_col="w")


def _q_phi_heavy_users_binary(spark, sf):
    """Same phi-HH question through the BINARY hierarchy
    (``DyadicHH(gran=1)`` — the reference's ``hh_sketch``,
    sketch.c:47-70, one bit per level) + exact verification; same
    oracle as phi_heavy_users. Closes the last reference HH variant
    without a gated driver query (gran=8 ktree, const-sketch, and the
    CS hierarchy are gated elsewhere)."""
    from heavy_hitters_spark.queries import (
        _events,
        _user_hierarchy,
        _verified_heavy_users,
        _with_user_id,
    )

    ev = _with_user_id(_events(spark, sf))
    return _verified_heavy_users(ev, _user_hierarchy(0.005, gran=1))


def _q_hot_shingle_stats(spark, sf):
    """The web-scale cap-sizing observability query through the gate:
    hot_bucket_stats over the per-shingle buckets (the table
    jaccard_pairs_capped prunes), reporting what a max_bucket_size=5
    ceiling would drop. Bucket sizes are identical whether buckets are
    keyed by shingle string (SQL) or its xxhash64 (Spark) — 64-bit
    collisions would only merge buckets, and the planted corpus has
    none (hash_match gates it)."""
    from heavy_hitters_spark.functions.dedup import (
        _doc_shingle_hashes,
        _widen_narrow_scan,
        hot_bucket_stats,
    )

    # same narrow-scan widening as the pair queries: the shingle
    # generation is the CPU-heavy stage and the corpus parquet is 1-2
    # splits at bench scale
    docs = _widen_narrow_scan(spark.read.parquet(f"{sf}/documents.parquet"))
    sh = _doc_shingle_hashes(docs, 3, "text", "doc_id")
    return hot_bucket_stats(sh, ["h"], max_bucket_size=5)


def _q_doc_fingerprints_planted(spark, sf):
    """Oracle-gated fingerprint variant (same recipe as
    simhash_pairs_planted): plant TWO identical-text copies of docs
    0..24 (ids +10^7 and +2·10^7), fingerprint the planted set, return
    pairs with EQUAL fingerprints. Identical text ⇒ identical rolling
    hash, and the order-sensitivity of the polynomial means distinct
    texts collide only with probability ~2^-64 — so the equality
    structure is exactly the DuckDB text-equality self-join. (The hash
    VALUES can't be recomputed in SQL; the structure can. The
    unrestricted doc_fingerprints stays rows-only.)"""
    from heavy_hitters_spark.functions.text import fingerprint_col

    base = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .where(F.col("doc_id") < 25)
        .select("doc_id", "text")
    )
    planted = base.select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    ).unionByName(
        base.select((F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"), "text")
    )
    fp = planted.select("doc_id", fingerprint_col("text").alias("fp"))
    a = fp.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fp.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b")
    )


def _q_topk_tokens_stream(spark, sf):
    """topk_tokens driven through Structured Streaming (readStream ->
    foreachBatch sketch sink -> merged MG -> exact rescoring); same
    oracle as the batch query by construction."""
    from heavy_hitters_spark.queries import topk_tokens_stream

    return topk_tokens_stream(spark, sf, k=20)


def _q_windowed_event_counts_stream(spark, sf):
    """Tumbling event-time windows through the windowed streaming sink;
    exact per-window event counts gate the window assignment."""
    from heavy_hitters_spark.queries import windowed_event_counts_stream

    return windowed_event_counts_stream(spark, sf, window="1 day")


def _q_eval_hh_precision(spark, sf):
    """The reference's precision_hh harness run over the hybrid
    phi-heavy-hitter output. The hybrid provably has recall 1.0 /
    precision 1.0 / 0 errors (sketch candidates with certified recall +
    exact verification), so the harness row is deterministic and the
    oracle only needs the exact phi-heavy count."""
    from heavy_hitters_spark.eval import hh_precision_recall
    from heavy_hitters_spark.queries import (
        _events,
        _user_hierarchy,
        _verified_heavy_users,
        _with_user_id,
    )

    phi = 0.005
    ev = _with_user_id(_events(spark, sf))  # one read for the query and the harness
    reported = [r["user_id"] for r in _verified_heavy_users(ev, _user_hierarchy(phi)).collect()]
    return hh_precision_recall(spark, ev, reported, phi=phi, epsilon=0.0)


def _q_bloom_membership(spark, sf):
    """Bloom-filter membership probes over the token set. With this
    capacity/fpp and fixed seeds the probe list has no false positives
    on this data (deterministic), so the oracle is an exact IN check."""
    import numpy as np

    from heavy_hitters_spark.core import Bloom
    from heavy_hitters_spark.queries import _docs, _sorted_frame
    from heavy_hitters_spark.spark import key_id
    from heavy_hitters_spark.spark.fused import build_token_sketch

    bloom, _ = build_token_sketch(_docs(spark, sf), Bloom(capacity=1_000_000, fpp=0.001))
    probes = ["the", "value", "zzz-not-a-token", "spark", "qqq-missing"]
    hits = bloom.contains(np.array([key_id(t) for t in probes], dtype=np.uint64))
    return _sorted_frame(
        spark, [(t, bool(h)) for t, h in zip(probes, hits)], "token string, member boolean"
    )


def _q_quantiles_tdigest(spark, sf):
    from heavy_hitters_spark.core import TDigest
    from heavy_hitters_spark.queries import _events_value_grid, _sorted_frame
    from heavy_hitters_spark.spark import build_sketch

    td, _ = build_sketch(_events_value_grid(spark, sf), TDigest(200), id_col="v")
    qs = [0.1, 0.5, 0.9, 0.99]
    est = td.quantile(qs) / 100.0
    return _sorted_frame(
        spark, [(float(q), float(v)) for q, v in zip(qs, est)], "q double, value_est double"
    )


def _q_media_features(spark, sf):  # noqa: ARG001 (synthetic media; sf-independent)
    from heavy_hitters_spark.functions.multimodal import (
        extract_features,
        fake_decoder,
        synth_media_df,
    )

    media = synth_media_df(spark, n_rows=64)
    feats = extract_features(media, decoder=fake_decoder)
    return feats.select(
        "media_id", "kind", "n_bytes", F.round("mean_intensity", 6).alias("mean_intensity")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # hybrid sketch -> exact (deterministic, oracle-gated)
        "topk_tokens": _q_topk_tokens,
        "phi_heavy_tokens": _q_phi_heavy_tokens,
        "phi_heavy_users": _q_phi_heavy_users,
        "phi_heavy_users_const": _q_phi_heavy_users_const,
        "phi_heavy_users_cs": _q_phi_heavy_users_cs,
        "phi_heavy_users_binary": _q_phi_heavy_users_binary,
        "topk_event_types": _q_topk_event_types,
        "topk_urls": _q_topk_urls,
        "topk_hosts": _q_topk_hosts,
        # relational / text ops (oracle-gated)
        "token_count": _q_token_count,
        "bpe_token_count": _q_bpe_token_count,
        "quality_scores": _q_quality_scores,
        "lang_id": _q_lang_id,
        "dedup_exact": _q_dedup_exact,
        "dedup_near_groups": _q_dedup_near_groups,
        "topk_users_weighted": _q_topk_users_weighted,
        "jaccard_pairs": _q_jaccard_pairs,
        "jaccard_pairs_capped": _q_jaccard_pairs_capped,
        "hot_shingle_stats": _q_hot_shingle_stats,
        "near_dup_minhash": _q_near_dup_minhash,
        "turnstile_net_cs": _q_turnstile_net_cs,
        "simhash_pairs_planted": _q_simhash_pairs_planted,
        "ann_topk": _q_ann_topk,
        "distinct_tokens_exact": _q_distinct_tokens_exact,
        "events_user_range_exact": _q_events_user_range_exact,
        # structured-streaming surface (deterministic, oracle-gated)
        "topk_tokens_stream": _q_topk_tokens_stream,
        "windowed_event_counts_stream": _q_windowed_event_counts_stream,
        # sketch estimates; point_freq_cm / range_count_dyadic /
        # distinct_tokens_hll_rounded are oracle-gated because with these
        # widths and fixed seeds the estimates are deterministically
        # exact on this data (verified; CM min-row collision-free)
        "point_freq_cm": _q_point_freq,
        "point_freq_cs": _q_point_freq_cs,
        "above_threshold_cm": _q_above_threshold_cm,
        "range_sum_cm": _q_range_sum_cm,
        "distinct_tokens_hll": _q_distinct_hll,
        "distinct_tokens_hll_rounded": _q_distinct_hll_rounded,
        "bloom_membership": _q_bloom_membership,
        "eval_hh_precision": _q_eval_hh_precision,
        "quantiles_kll": _q_quantiles_kll,
        "quantiles_tdigest": _q_quantiles_tdigest,
        "quantiles_kll_exact": _q_quantiles_kll_exact,
        "quantiles_tdigest_exact": _q_quantiles_tdigest_exact,
        "range_count_dyadic": _q_range_count_dyadic,
        "l2_norm_cs": _q_l2_norm,
        "l2_norm_exact": _q_l2_norm_exact,
        "simhash_pairs": _q_simhash_pairs,
        "simhash_pairs_capped": _q_simhash_pairs_capped,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "ann_lsh_recall": _q_ann_lsh_recall,
        "ann_ivf_recall": _q_ann_ivf_recall,
        "cosine_near_dups": _q_cosine_near_dups,
        "doc_fingerprints": _q_doc_fingerprints,
        "doc_fingerprints_planted": _q_doc_fingerprints_planted,
        "media_features": _q_media_features,
    }


_TOKENS = (
    "SELECT unnest(string_split(text, ' ')) AS token FROM documents"
)

_EN = "('the','a','of','and','to','in','is','it','that','for')"


def oracle_sql() -> dict[str, str]:
    return {
        "topk_tokens": f"""
            SELECT token, count(*) AS freq FROM ({_TOKENS}) t
            WHERE token <> '' GROUP BY token
            ORDER BY freq DESC, token ASC LIMIT 20
        """,
        "phi_heavy_tokens": f"""
            WITH tok AS (SELECT token FROM ({_TOKENS}) t WHERE token <> ''),
            tot AS (SELECT count(*) AS n FROM tok)
            SELECT token, count(*) AS freq FROM tok, tot
            GROUP BY token, tot.n HAVING count(*) >= 0.02 * tot.n
            ORDER BY token ASC
        """,
        "phi_heavy_users": """
            WITH tot AS (SELECT count(*) AS n FROM events)
            SELECT user_id, count(*) AS freq FROM events, tot
            GROUP BY user_id, tot.n HAVING count(*) >= 0.005 * tot.n
            ORDER BY user_id ASC
        """,
        "phi_heavy_users_const": """
            WITH tot AS (SELECT count(*) AS n FROM events)
            SELECT user_id, count(*) AS freq FROM events, tot
            GROUP BY user_id, tot.n HAVING count(*) >= 0.005 * tot.n
            ORDER BY user_id ASC
        """,
        "topk_tokens_stream": f"""
            SELECT token, count(*) AS freq FROM ({_TOKENS}) t
            WHERE token <> '' GROUP BY token
            ORDER BY freq DESC, token ASC LIMIT 20
        """,
        "windowed_event_counts_stream": """
            SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS window_epoch,
                   count(*) AS n_events
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "phi_heavy_users_cs": """
            WITH net AS (SELECT user_id,
                                CAST(sum(CASE WHEN event_type = 'error'
                                              THEN -1 ELSE 1 END) AS BIGINT) AS net
                         FROM events GROUP BY user_id),
            tot AS (SELECT sum(net) AS n FROM net)
            SELECT user_id, net AS net_freq FROM net, tot
            WHERE net >= 0.005 * tot.n
            ORDER BY user_id ASC
        """,
        "phi_heavy_users_binary": """
            WITH tot AS (SELECT count(*) AS n FROM events)
            SELECT user_id, count(*) AS freq FROM events, tot
            GROUP BY user_id, tot.n HAVING count(*) >= 0.005 * tot.n
            ORDER BY user_id ASC
        """,
        "doc_fingerprints_planted": """
            WITH b AS (SELECT doc_id, text FROM documents WHERE doc_id < 25),
            planted AS (SELECT doc_id + 10000000 AS doc_id, text FROM b
                        UNION ALL
                        SELECT doc_id + 20000000 AS doc_id, text FROM b)
            SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
            FROM planted a JOIN planted c
              ON a.doc_id < c.doc_id AND a.text = c.text
            ORDER BY doc_a, doc_b
        """,
        "topk_event_types": """
            SELECT event_type, count(*) AS freq FROM events
            GROUP BY event_type ORDER BY freq DESC, event_type ASC LIMIT 5
        """,
        "token_count": """
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
        """,
        "bpe_token_count": """
            SELECT doc_id,
                   len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r]'))
                       AS n_pieces
            FROM documents
        """,
        "quality_scores": f"""
            WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   round(length(text) * 1.0 / len(toks), 6) AS mean_token_len,
                   round(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0
                         / length(text), 6) AS punct_ratio,
                   round(len(list_filter(toks, x -> x IN {_EN})) * 1.0
                         / len(toks), 6) AS stopword_ratio
            FROM t
        """,
        "lang_id": f"""
            WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
            s AS (SELECT doc_id,
                  len(list_filter(toks, x -> x IN {_EN})) AS s_en,
                  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','mit','zu','den'))) AS s_de,
                  len(list_filter(toks, x -> x IN ('le','la','les','et','est','une','des','que','pour','dans'))) AS s_fr,
                  len(list_filter(toks, x -> x IN ('el','la','los','y','es','una','que','por','con','para'))) AS s_es
                  FROM t)
            SELECT doc_id,
                   CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                        WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                        WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                        WHEN s_fr >= s_es THEN 'fr'
                        ELSE 'es' END AS pred_lang,
                   greatest(s_en, s_de, s_fr, s_es) AS marker_hits
            FROM s
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS doc_id, count(*) AS dup_count
            FROM documents GROUP BY text
        """,
        "jaccard_pairs": """
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            sh AS (SELECT DISTINCT doc_id,
                          array_to_string(t[i.i : i.i + 2], ' ') AS shingle
                   FROM toks, (SELECT unnest(range(1, 2000)) AS i) i
                   WHERE i.i <= len(t) - 2),
            sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                      FROM sh a JOIN sh b
                        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
            WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.2
        """,
        "turnstile_net_cs": """
            WITH net AS (SELECT user_id,
                                CAST(sum(CASE WHEN event_type = 'error'
                                              THEN -1 ELSE 1 END) AS BIGINT) AS net
                         FROM events GROUP BY user_id)
            SELECT CAST(p.user_id AS BIGINT) AS user_id,
                   CAST(coalesce(net.net, 0) AS BIGINT) AS net_freq
            FROM (VALUES (10), (20), (30), (40), (50)) p(user_id)
            LEFT JOIN net ON net.user_id = p.user_id
            ORDER BY p.user_id
        """,
        "simhash_pairs_planted": """
            WITH b AS (SELECT doc_id, text FROM documents WHERE doc_id < 25),
            planted AS (SELECT doc_id + 10000000 AS doc_id, text FROM b
                        UNION ALL
                        SELECT doc_id + 20000000 AS doc_id, text FROM b)
            SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
                   CAST(0 AS BIGINT) AS hamming
            FROM planted a JOIN planted c
              ON a.doc_id < c.doc_id AND a.text = c.text
            ORDER BY doc_a, doc_b
        """,
        "jaccard_pairs_capped": """
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            sh AS (SELECT DISTINCT doc_id,
                          array_to_string(t[i.i : i.i + 2], ' ') AS shingle
                   FROM toks, (SELECT unnest(range(1, 2000)) AS i) i
                   WHERE i.i <= len(t) - 2),
            sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 5),
            shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
            inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                      FROM shc a JOIN shc b
                        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
            WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.2
        """,
        "hot_shingle_stats": """
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            sh AS (SELECT DISTINCT doc_id,
                          array_to_string(t[i.i : i.i + 2], ' ') AS shingle
                   FROM toks, (SELECT unnest(range(1, 2000)) AS i) i
                   WHERE i.i <= len(t) - 2),
            sizes AS (SELECT shingle, count(*) AS m FROM sh GROUP BY shingle)
            SELECT CAST(coalesce(sum(CASE WHEN m > 5 THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS n_buckets_dropped,
                   CAST(coalesce(sum(CASE WHEN m > 5 THEN m END), 0) AS BIGINT)
                       AS n_ids_dropped,
                   CAST(max(m) AS BIGINT) AS max_bucket_seen
            FROM sizes
        """,
        "near_dup_minhash": """
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            sh AS (SELECT DISTINCT doc_id,
                          array_to_string(t[i.i : i.i + 2], ' ') AS shingle
                   FROM toks, (SELECT unnest(range(1, 2000)) AS i) i
                   WHERE i.i <= len(t) - 2),
            sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                      FROM sh a JOIN sh b
                        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
            WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5
        """,
        "dedup_near_groups": """
            WITH RECURSIVE
            toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            sh AS (SELECT DISTINCT doc_id,
                          array_to_string(t[i.i : i.i + 2], ' ') AS shingle
                   FROM toks, (SELECT unnest(range(1, 2000)) AS i) i
                   WHERE i.i <= len(t) - 2),
            sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                      FROM sh a JOIN sh b
                        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
            pairs AS (SELECT doc_a, doc_b FROM inter
                      JOIN sz sa ON sa.doc_id = doc_a
                      JOIN sz sb ON sb.doc_id = doc_b
                      WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5),
            edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                      UNION SELECT doc_b, doc_a FROM pairs),
            reach AS (SELECT u, v FROM edges
                      UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
            mins AS (SELECT u, least(u, min(v)) AS canonical FROM reach GROUP BY u)
            SELECT d.doc_id, coalesce(m.canonical, d.doc_id) AS canonical
            FROM documents d LEFT JOIN mins m ON m.u = d.doc_id
        """,
        "topk_users_weighted": """
            SELECT user_id, CAST(sum(CAST(trunc(value * 100) AS BIGINT)) AS BIGINT) AS weight
            FROM events GROUP BY user_id
            ORDER BY weight DESC, user_id ASC LIMIT 10
        """,
        "ann_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 3),
            scored AS (SELECT q.query_id, e.vec_id,
                              list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                                     CAST(e.embedding AS DOUBLE[])) AS score
                       FROM q CROSS JOIN embeddings e),
            ranked AS (SELECT query_id, vec_id, score,
                              row_number() OVER (PARTITION BY query_id
                                                 ORDER BY score DESC, vec_id ASC) AS rank
                       FROM scored)
            SELECT query_id, vec_id, round(score, 6) AS score, rank
            FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
        """,
        "distinct_tokens_exact": f"""
            SELECT count(DISTINCT token) AS n_distinct FROM ({_TOKENS}) t WHERE token <> ''
        """,
        "events_user_range_exact": """
            SELECT count(*) AS n FROM events WHERE user_id BETWEEN 10 AND 59
        """,
        "point_freq_cm": f"""
            WITH f AS (SELECT token, count(*) AS c FROM ({_TOKENS}) t
                       WHERE token <> '' GROUP BY token)
            SELECT p.token, coalesce(f.c, 0) AS est_freq
            FROM (VALUES ('the'), ('a'), ('value'), ('table'), ('spark')) p(token)
            LEFT JOIN f USING (token) ORDER BY p.token
        """,
        "point_freq_cs": f"""
            WITH f AS (SELECT token, count(*) AS c FROM ({_TOKENS}) t
                       WHERE token <> '' GROUP BY token)
            SELECT p.token, coalesce(f.c, 0) AS est_freq
            FROM (VALUES ('the'), ('a'), ('value'), ('table'), ('spark')) p(token)
            LEFT JOIN f USING (token) ORDER BY p.token
        """,
        "above_threshold_cm": f"""
            WITH tok AS (SELECT token FROM ({_TOKENS}) t WHERE token <> ''),
            tot AS (SELECT CAST(trunc(0.001 * count(*)) AS BIGINT) AS th FROM tok),
            f AS (SELECT token, count(*) AS c FROM tok GROUP BY token)
            SELECT p.token, coalesce(f.c, 0) >= tot.th AS above, tot.th AS threshold
            FROM (VALUES ('the'), ('a'), ('value'), ('table'), ('spark'),
                         ('zzz-not-a-token')) p(token)
            CROSS JOIN tot
            LEFT JOIN f ON f.token = p.token
            ORDER BY p.token
        """,
        "range_sum_cm": """
            SELECT 10 AS lo, 59 AS hi, count(*) AS range_sum
            FROM events WHERE user_id BETWEEN 10 AND 59
        """,
        "range_count_dyadic": """
            SELECT 10 AS lo, 59 AS hi, count(*) AS range_est
            FROM events WHERE user_id BETWEEN 10 AND 59
        """,
        "distinct_tokens_hll_rounded": f"""
            SELECT count(DISTINCT token) AS n_distinct FROM ({_TOKENS}) t WHERE token <> ''
        """,
        "bloom_membership": f"""
            SELECT p.token,
                   p.token IN (SELECT token FROM ({_TOKENS}) t WHERE token <> '') AS member
            FROM (VALUES ('the'), ('value'), ('zzz-not-a-token'), ('spark'),
                         ('qqq-missing')) p(token)
            ORDER BY p.token
        """,
        "topk_urls": f"""
            WITH u AS (SELECT 'https://' || source || '.' || lang || '.example.com/p'
                              || CAST(n_chars % 50 AS VARCHAR) AS url
                       FROM documents)
            SELECT url, count(*) AS freq FROM u
            GROUP BY url ORDER BY freq DESC, url ASC LIMIT 20
        """,
        "l2_norm_exact": f"""
            WITH f AS (SELECT token, count(*) AS f FROM ({_TOKENS}) t
                       WHERE token <> '' GROUP BY token)
            SELECT round(sqrt(sum(f * f)), 6) AS l2, CAST(sum(f) AS BIGINT) AS l1 FROM f
        """,
        "topk_hosts": """
            WITH h AS (SELECT source || '.' || lang || '.example.com' AS host
                       FROM documents)
            SELECT host, count(*) AS freq FROM h
            GROUP BY host ORDER BY freq DESC, host ASC LIMIT 10
        """,
        "eval_hh_precision": """
            WITH tot AS (SELECT count(*) AS n FROM events),
            h AS (SELECT user_id FROM events, tot
                  GROUP BY user_id, tot.n HAVING count(*) >= 0.005 * tot.n)
            SELECT CAST(1.0 AS DOUBLE) AS recall, CAST(1.0 AS DOUBLE) AS precision,
                   CAST(0 AS BIGINT) AS errors,
                   count(*) AS n_exact, count(*) AS n_reported FROM h
        """,
        "quantiles_kll_exact": _QUANTILES_SQL,
        "quantiles_tdigest_exact": _QUANTILES_SQL,
        # ANN recall oracles: the exact top-10 ranking (ground truth and
        # query_id set) is RECOMPUTED in SQL; the per-query hit counts
        # are pinned at their fixed-seed deterministic values for the
        # gate's sf0.01 tables (eval_hh_precision recipe — the oracle
        # rows exist only if the recomputed exact ranking yields the
        # expected 3 query ids x 10 rows, so a ground-truth drift fails
        # the gate, not just a recall drift)
        "ann_lsh_recall": _ann_recall_sql("(0, 6), (1, 4), (2, 6)"),
        "ann_ivf_recall": _ann_recall_sql("(0, 7), (1, 8), (2, 4)"),
        "cosine_near_dups": """
            WITH aug AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 10000000 AS vec_id,
                       list_transform(embedding, x -> CAST(x * 2 AS FLOAT)) AS embedding
                FROM embeddings WHERE vec_id < 40
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 6) AS cosine
            FROM aug a JOIN aug b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.99
        """,
    }


def _ann_recall_sql(pinned_hits: str) -> str:
    """Oracle for the ANN recall harness queries: recompute the exact
    cosine top-10 per query in SQL, then join the fixed-seed pinned
    per-query hit counts against the query_ids the exact ranking
    actually produced (each must contribute exactly 10 ranked rows)."""
    return f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM embeddings WHERE vec_id < 3),
        scored AS (SELECT q.query_id, e.vec_id,
                          list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                                 CAST(e.embedding AS DOUBLE[])) AS score
                   FROM q CROSS JOIN embeddings e),
        ranked AS (SELECT query_id, vec_id,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY score DESC, vec_id ASC) AS rank
                   FROM scored),
        ex AS (SELECT query_id, count(*) AS n_exact FROM ranked
               WHERE rank <= 10 GROUP BY query_id),
        pinned(query_id, n_hits) AS (VALUES {pinned_hits})
        SELECT CAST(ex.query_id AS BIGINT) AS query_id,
               CAST(p.n_hits AS BIGINT) AS n_hits,
               round(p.n_hits / 10.0, 6) AS recall_at_10
        FROM ex JOIN pinned p ON p.query_id = ex.query_id
        WHERE ex.n_exact = 10
        ORDER BY query_id
    """


_QS = "[0.1, 0.25, 0.5, 0.75, 0.9, 0.99]"

# exact quantiles over the integer value grid (value*100 truncated toward
# zero — matching Spark's cast('long')); quantile_disc = value at 1-based
# rank max(1, ceil(q*n)), which is what the hybrid KLL->exact query resolves
_QUANTILES_SQL = f"""
    WITH g AS (SELECT CAST(trunc(value * 100) AS BIGINT) AS v FROM events),
    a AS (SELECT quantile_disc(v, {_QS}) AS vs FROM g)
    SELECT unnest({_QS}) AS q,
           round(unnest(vs) / 100.0, 6) AS value_est
    FROM a ORDER BY q
"""
