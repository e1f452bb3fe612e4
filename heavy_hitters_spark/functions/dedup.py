"""Deduplication operators for training-data pipelines:

- exact dedup                 hash-groupBy, pure Catalyst
- n-gram Jaccard similarity   map-side shingle hashing + bucket
                              pair-expansion kernel + Catalyst count
                              aggregation
- MinHash + LSH near-dup      signatures in an arrow_udf kernel,
                              banding + bucket-join in DataFrame ops,
                              exact-Jaccard verification on candidates
- SimHash near-dup            64-bit simhash + hamming-ball bucket join

Python kernels take Arrow arrays and return Arrow arrays: the per-row
ones (MinHash, SimHash) are ``arrow_udf``s, the whole-partition ones
(bucket pairs, SimHash verify) ``mapInArrow`` tasks. A batch of
per-document hash arrays is read as one flat vector plus its row
lengths (``_list_segments``) and reduced per document by numpy
``reduceat`` — no pandas and no per-row Python.

Scale shape: every candidate-generation join is on a *bucket key*
(band hash / simhash chunk), never a cross join; verification touches
only candidate pairs. At 100 TB the LSH band join is the standard
shuffle-bounded near-dup plan; the exact verify joins candidate rows
to the raw text and hashes shingles for the matched rows only
(broadcast when the candidate set is small).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ..core.hashing import splitmix64

_M64 = 0xFFFFFFFFFFFFFFFF


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized branch-free SWAR popcount over a uint64 array (the
    classic bit-slicing identity). One pass over the words — measured
    ~2.5x the 256-entry-LUT gather form on the pair-verify matrices
    (no per-byte gather, no 8x uint8 temporaries)."""
    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h01 = np.uint64(0x0101010101010101)
    x = x - ((x >> np.uint64(1)) & m1)
    x = (x & m2) + ((x >> np.uint64(2)) & m2)
    x = (x + (x >> np.uint64(4))) & m4
    with np.errstate(over="ignore"):  # the *h01 fold wraps by design
        return ((x * h01) >> np.uint64(56)).astype(np.uint8)


# ----------------------------------------------------------------------
# exact dedup
# ----------------------------------------------------------------------


def dedup_exact(df: DataFrame, key_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact key. Hash-groupBy on a 128-bit
    key (md5) so shuffle rows stay narrow without the 64-bit collision
    hazard: at 10^12 docs a 64-bit key folds ~10^4-10^5 distinct texts
    together (birthday bound), silently dropping non-duplicates; with
    128 bits the expected collision count is ~10^-14."""
    return (
        df.withColumn("__h", F.md5(F.col(key_col).cast("binary")))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("__h")
    )


# ----------------------------------------------------------------------
# token shingles + exact n-gram Jaccard
# ----------------------------------------------------------------------


def shingle_grams(toks, n: int):
    """array<string> of token n-grams; EMPTY array for docs with fewer
    than n tokens (unguarded, F.sequence(0, size-n) is descending for
    size<n and F.slice start 0 throws INVALID_PARAMETER_VALUE.START)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles_df(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct token n-gram shingles per doc (Catalyst-only: split +
    transform + array_distinct + explode). (doc, shingle) uniqueness
    only needs PER-DOC dedup, so array_distinct happens map-side before
    the explode — no global distinct shuffle. Docs shorter than n tokens
    produce no shingles (matching the SQL-oracle semantics)."""
    toks = F.split(F.col(text_col), " ")
    return df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingle_grams(toks, n))).alias("shingle"),
    )


def _doc_shingle_hashes(
    df: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, h) rows: xxhash64 of each DISTINCT shingle per doc, all
    map-side (hash + array_distinct inside the row, then explode).
    64-bit shingle identity: deterministic; collision probability
    ~m^2/2^65 folds two shingles (use 128 bits past ~10^8 distinct
    shingles per corpus if provable exactness is required)."""
    toks = F.split(F.col(text_col), " ")
    hashes = F.array_distinct(
        F.transform(shingle_grams(toks, n), lambda g: F.xxhash64(g))
    )
    return df.select(F.col(id_col), F.explode(hashes).alias("h"))


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for all pairs sharing >= 1 shingle.
    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold.

    Pair intersections come from per-shingle bucket pair-generation
    (groupBy shingle -> in-bucket pairs -> count per pair == |A∩B|,
    since shingles are distinct per doc) — one scan of the shingle
    table instead of a self-join that re-executes it on both sides.

    ``max_bucket_size`` is the STOP-SHINGLE cap for web scale: a
    shingle's bucket size equals its document frequency (shingle rows
    are distinct per doc), so shingles appearing in more docs than the
    cap are dropped before pair generation, bounding the
    otherwise-quadratic hot-shingle buckets. With the cap on, pairs
    that share ONLY stop-shingles are missed and intersections count
    non-stop shingles only (sizes stay exact) — a documented
    recall/undercount trade; leave None for exact results.

    Physical shape note (round 6): a two-kernel rewrite (sizes attached
    to shingle rows, pair-count fold + threshold filter in a second
    Python partition kernel) was measured and REJECTED — the extra 126M-row
    JVM->Python->JVM round-trip (5 GB each way at sf1.0) cost far more
    than the Catalyst groupBy it replaced (107 s vs 21.6 s noop walls);
    a 16g driver-heap variant and shuffle-partition sweeps (64/128/200)
    also measured worse than the 32-partition default. The pair-count
    aggregation stays in Catalyst."""
    # per-doc sizes map-side (no shuffle); pair generation over 8-byte
    # shingle hashes instead of shingle strings (narrower shuffle rows)
    df = _widen_narrow_scan(df)
    toks = F.split(F.col(text_col), " ")
    # sizes via DISTINCT HASH count — the same 64-bit shingle identity
    # the intersection counts already use (consistent under collision,
    # identical values otherwise; the pair counting has relied on this
    # identity since round 3). array_distinct over the string shingles
    # measured 6x slower than over their hashes at sf1.0 (11.6 s vs
    # 1.8 s for the whole shingle subtree — UTF8String equality per
    # element vs long compares), and the sizes subtree is evaluated on
    # both sides of the size join.
    # no ``sz > 0`` filter: it is semantically redundant (a doc with no
    # shingles produces no bucket rows, so no pair can reference it and
    # the inner joins below never see its size row) and actively
    # harmful — the optimizer pushed the predicate BELOW the widening
    # exchange, evaluating the whole shingle expression a second time
    # on the raw 2-split scan (measured at sf1.0: 11.9 s with the
    # filter vs 2.4 s without, same join results).
    #
    # coalesce(-1) makes ``sz`` NON-NULLABLE: without it, the jaccard
    # threshold filter downstream makes InferFiltersFromConstraints
    # derive ``isnotnull(sz)`` and push it below the widening exchange,
    # where isnotnull(size(array_distinct(transform(...)))) re-runs the
    # whole shingle expression on the narrow scan — measured 3.3 s ->
    # 11.9 s at sf1.0 for the otherwise-identical plan. The sentinel is
    # unreachable: text is never NULL here, and a hypothetical NULL-text
    # doc has no shingles, so no pair row can join to it.
    sizes = df.select(
        F.col(id_col),
        F.coalesce(
            F.size(
                F.array_distinct(
                    F.transform(shingle_grams(toks, n), lambda g: F.xxhash64(g))
                )
            ),
            F.lit(-1),
        ).alias("sz"),
    )
    sh = _doc_shingle_hashes(df, n, text_col, id_col)
    # the cap is a per-bucket ceiling inside the pair kernel: shingle
    # rows are DISTINCT per doc, so a shingle's bucket size IS its
    # document frequency, and dropping buckets with m > max_bucket_size
    # before expansion is row-for-row identical to the round-5 plan's
    # separate dfreq aggregation + semi-join — which re-evaluated the
    # whole scan+shingle subtree on both sides of a 2.6M-row join
    # (measured at sf1.0: the capped query spent more wall in that
    # join than the uncapped query spent counting 127M pairs). Sizes
    # stay full distinct counts, exactly as the oracle's.
    inter = (
        _bucket_pairs_all_kernel(sh, "h", id_col, max_bucket_size=max_bucket_size)
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("cnt").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _bucket_pairs_all(
    keyed: DataFrame,
    bucket_col: str,
    id_col: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """REFERENCE implementation of bucket pair expansion in pure
    Catalyst (groupBy + collect_list + nested transform): one output
    row per (bucket, pair) co-occurrence, so downstream counts per pair
    equal the number of shared buckets. The HOT PATH is
    _bucket_pairs_all_kernel (same contract, ~20-25% faster on ~1M
    mostly-size-1 buckets: per-group array allocation and the transform^2
    expansion dominate here); a parity test pins them equal.

    ``max_bucket_size`` drops buckets with more ids than the cap BEFORE
    pair expansion: one pathological bucket (boilerplate-heavy corpus)
    would otherwise materialize m^2 pairs in one task. Pairs that
    co-occur ONLY in dropped buckets are missed; use
    ``hot_bucket_stats`` to size the cap."""
    ids = F.sort_array(F.collect_list(F.col(id_col))).alias("ids")
    pairs = F.filter(
        F.flatten(
            F.transform(
                "ids",
                lambda x: F.transform("ids", lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b"))),
            )
        ),
        lambda p: p["doc_a"] < p["doc_b"],
    )
    agg = keyed.groupBy(bucket_col).agg(ids).where(F.size("ids") > 1)
    if max_bucket_size is not None:
        agg = agg.where(F.size("ids") <= max_bucket_size)
    return (
        agg.select(F.explode(pairs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
    )


def _pairs_by_size(key: np.ndarray, ids: np.ndarray, max_bucket_size: int | None):
    """(doc_a, doc_b) value pairs with doc_a < doc_b, one per (bucket,
    pair) co-occurrence — the contract of the Catalyst reference
    (_bucket_pairs_all). Vectorized in-kernel expansion: sort by
    (bucket, id), find bucket boundaries, then expand i<j index pairs
    for ALL buckets of each distinct size at once (offsets[:, None] +
    triu template) — no per-bucket Python loop, no per-group array
    allocation."""
    order = np.lexsort((ids, key))
    k_s, id_s = key[order], ids[order]
    bounds = np.flatnonzero(np.r_[True, k_s[1:] != k_s[:-1], True])
    sizes = np.diff(bounds)
    keep = sizes >= 2
    if max_bucket_size is not None:
        keep &= sizes <= max_bucket_size
    offs, szs = bounds[:-1][keep], sizes[keep]
    out_a, out_b = [], []
    for m in np.unique(szs):
        o = offs[szs == m]  # all buckets of this size, vectorized
        ti, tj = np.triu_indices(int(m), k=1)
        out_a.append(id_s[(o[:, None] + ti[None, :]).ravel()])
        out_b.append(id_s[(o[:, None] + tj[None, :]).ravel()])
    if not out_a:
        return id_s[:0], id_s[:0]
    a, b = np.concatenate(out_a), np.concatenate(out_b)
    # ids ascend within a bucket, so positional i<j gives a <= b;
    # equality happens exactly for duplicated (bucket, id) rows
    strict = a < b
    return a[strict], b[strict]


def _bucket_pairs_all_kernel(
    keyed: DataFrame,
    bucket_col: str,
    id_col: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, cnt) partial co-occurrence counts from per-shingle
    buckets — the kernel replacement for the groupBy/collect_list plan:
    with ~1M mostly-size-1 buckets the JVM per-group array allocation
    and nested-transform pair expansion dominate; here one repartition
    co-locates each bucket, and a numpy kernel (np.lexsort + boundary
    scan + per-size vectorized triangle expansion) emits partition-local
    (pair, count) rows. Downstream sums partials per pair (buckets never
    span partitions, pairs may)."""

    def part_fn(batches):
        from ..core import memtune  # noqa: F401

        batches = list(batches)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        a, b = _pairs_by_size(tbl[bucket_col].to_numpy(), tbl[id_col].to_numpy(), max_bucket_size)
        if not len(a):
            return
        order = np.lexsort((b, a))
        a_s, b_s = a[order], b[order]
        bnd = np.flatnonzero(np.r_[True, (a_s[1:] != a_s[:-1]) | (b_s[1:] != b_s[:-1]), True])
        yield pa.RecordBatch.from_arrays(
            [a_s[bnd[:-1]], b_s[bnd[:-1]], np.diff(bnd).astype(np.int64)],
            names=["doc_a", "doc_b", "cnt"],
        )

    # EXPLICIT partition count (exempt from AQE coalescing): without it
    # AQE's byte-based coalescing shrinks this exchange to 1-2 tasks
    # (the shingle table is only tens of MB), serializing the
    # CPU-QUADRATIC pair expansion onto 1-2 Python workers — measured
    # round 5 at sf0.1: 2 tasks, and the r3/r4 2.5-11s jaccard wall
    # variance traced to those two unsmoothed workers (any per-worker
    # host stall lands 1:1 on the wall). Pair cost scales with
    # sum(m^2) per bucket, not bytes, so byte-based coalescing is the
    # wrong policy here (the count: _kernel_partitions).
    return keyed.repartition(_kernel_partitions(keyed), F.col(bucket_col)).mapInArrow(
        part_fn, "doc_a long, doc_b long, cnt long"
    )


def _kernel_partitions(df: DataFrame) -> int:
    """Partition count for the CPU-heavy per-doc and bucket kernels:
    a quarter of the shuffle width, at least 4. Full width measured
    WORSE on small corpora (fresh workers pay first-touch warm-up and
    ~40 ms per task for ms-scale kernel slices); a quarter keeps one
    wave of substantial tasks and still scales with the configured
    parallelism. Interleaved sweep at sf0.1, 32-partition session
    (steady walls): AQE 3.8-9.8 s erratic, n=32 4.8-5.5 s, n=8
    3.7-4.7 s, n=4 3.4-4.6 s."""
    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return max(4, n_shuffle // 4)


def _widen_narrow_scan(df: DataFrame) -> DataFrame:
    """Ensure minimum parallelism for the CPU-heavy per-doc kernels
    (shingle/minhash/simhash): a small corpus parquet is ONE 128 MB
    split, so the whole tokenize+hash stage would run as a single task
    — both serializing it and exposing the wall 1:1 to any single-core
    host stall. On a web-scale corpus the scan already has thousands of
    splits and this is a no-op (the condition is on the SCAN's split
    count, so no shuffle is added at scale)."""
    n_min = _kernel_partitions(df)
    if df.rdd.getNumPartitions() < n_min:
        return df.repartition(n_min)
    return df


def _bucket_pairs_kernel(
    keyed: DataFrame,
    bucket_col: str,
    id_col: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) via the same in-kernel
    expansion; pairs are deduped within the partition (sort + boundary)
    and globally (buckets of different partitions can emit the same
    pair). Used where the caller only needs the candidate SET."""
    counted = _bucket_pairs_all_kernel(keyed, bucket_col, id_col, max_bucket_size)
    return counted.select("doc_a", "doc_b").distinct()


def hot_bucket_stats(
    keyed: DataFrame, bucket_cols: list[str], max_bucket_size: int
) -> DataFrame:
    """Observability companion to the ``max_bucket_size`` guard: one row
    (n_buckets_dropped, n_ids_dropped, max_bucket_seen) describing what
    the cap would discard. Run it when tuning the cap; the pair
    functions themselves drop silently so the hot path stays one
    aggregation."""
    sizes = keyed.groupBy(*bucket_cols).agg(F.count("*").alias("m"))
    return sizes.agg(
        F.coalesce(
            F.sum(F.when(F.col("m") > max_bucket_size, 1).otherwise(0)), F.lit(0)
        ).alias("n_buckets_dropped"),
        F.coalesce(
            F.sum(F.when(F.col("m") > max_bucket_size, F.col("m"))), F.lit(0)
        ).alias("n_ids_dropped"),
        F.max("m").alias("max_bucket_seen"),
    )


# ----------------------------------------------------------------------
# MinHash + LSH
# ----------------------------------------------------------------------


def shingle_hashes_col(text_col, shingle_n: int = 3):
    """array<long>: xxhash64 of each token n-gram shingle, computed
    ENTIRELY in Catalyst (split + transform + xxhash64 — whole-stage
    codegen, zero Python). Docs shorter than n tokens fall back to one
    whole-text shingle (so every doc has >= 1 hash and LSH still
    buckets short docs)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.split(c, " ")
    grams = F.when(F.size(toks) >= shingle_n, shingle_grams(toks, shingle_n)).otherwise(
        F.array(F.array_join(toks, " "))
    )
    return F.transform(grams, lambda g: F.xxhash64(g))


def minhash_col(text_col, n_hashes: int = 128, shingle_n: int = 3, seed: int = 0x51A5):
    """array<long> MinHash signature over token n-gram shingles.

    Shingle hashing is JVM-side (shingle_hashes_col); the Arrow kernel
    only computes the n_hashes affine minima over the hash arrays — one
    flat vector + n_hashes (multiply, add, segmented-min) C passes per
    batch, no per-token Python anywhere. Signatures are bit-identical
    to hashing driver-side with spark.keys.xxh64 (same seed-42 xxhash64)."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(ArrayType(LongType()))
    def _mh(hashes: pa.Array) -> pa.Array:
        from ..core import memtune  # noqa: F401

        n = len(hashes)
        # per-hash affine mixers a*x+b over splitmix-derived constants
        ab = splitmix64(np.arange(2 * n_hashes, dtype=np.uint64), seed)
        a = ab[:n_hashes] | np.uint64(1)
        b = ab[n_hashes:]
        flat, starts, _, nz = _list_segments(hashes)
        # empty rows stay 0 (unreachable: every doc has >= 1 shingle)
        sig = np.zeros((n, n_hashes), dtype=np.uint64)
        if len(flat):
            with np.errstate(over="ignore"):
                for j in range(n_hashes):
                    sig[nz, j] = np.minimum.reduceat(a[j] * flat + b[j], starts)
        offsets = np.arange(0, n * n_hashes + 1, n_hashes, dtype=np.int32)
        return pa.ListArray.from_arrays(offsets, sig.view(np.int64).ravel())

    return _mh(shingle_hashes_col(text_col, shingle_n))


def lsh_candidates(
    df: DataFrame,
    n_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0x51A5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs (doc_a < doc_b). rows_per_band =
    n_hashes // bands; collision threshold s* ~ (1/bands)^(1/rows).
    Candidates come from bucket pair-generation (one aggregation), so
    the MinHash signatures are computed exactly once.
    ``max_bucket_size`` caps pathological band buckets (_bucket_pairs_all)."""
    rows = n_hashes // bands
    sig = df.select(F.col(id_col), minhash_col(text_col, n_hashes, shingle_n, seed).alias("sig"))
    banded = sig.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bnd: F.struct(
                    bnd.alias("band"),
                    F.xxhash64(F.slice("sig", bnd * rows + 1, rows)).alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    # pack (band, bh) into one int64 bucket key for the kernel path.
    # shift = ceil(log2(bands)) keeps the pack INJECTIVE in band for ANY
    # bands value (a fixed 5-bit shift silently merged unrelated
    # (band, bh) buckets for bands > 32); shiftleft drops bh's top
    # `shift` bits, so two buckets merge only when band matches AND bh
    # agrees on its low (64-shift) bits (~2^-(64-shift) per pair) — and
    # a merge can only ADD a candidate, which exact verification
    # downstream removes
    shift = max(1, (bands - 1).bit_length())
    packed = banded.select(
        id_col, F.shiftleft(F.col("bh"), shift).bitwiseOR(F.col("band")).alias("bk")
    )
    return _bucket_pairs_kernel(packed, "bk", id_col, max_bucket_size=max_bucket_size)


def near_dup_pairs_minhash(
    df: DataFrame,
    threshold: float = 0.8,
    n_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidates -> exact-Jaccard verification -> pairs >= threshold.
    Deterministic output (the sketch only prunes; the filter is exact).

    Verification joins each candidate pair with the two docs' DISTINCT
    shingle-hash arrays and computes |A∩B| via array_intersect — exact
    up to 64-bit shingle-hash identity (see _doc_shingle_hashes), and
    shuffles only candidate docs' arrays (never a shingle self-join
    over the corpus). Verification uses the SAME whole-text fallback as
    the LSH signatures for docs shorter than shingle_n tokens, so
    identical short docs verify at jaccard 1.0 instead of being
    silently dropped with an empty shingle set."""
    df = _widen_narrow_scan(df)
    cand = lsh_candidates(
        df, n_hashes, bands, shingle_n, text_col, id_col, max_bucket_size=max_bucket_size
    )
    # single-scan verification: joining a per-doc shingle-array table
    # once per pair side would execute the corpus-wide tokenize+hash
    # subtree TWICE (broadcast joins don't reuse it); instead unpivot
    # each pair into two (pair, role, doc) rows, join the TEXT in one
    # pass, and compute the shingle arrays AFTER the join — round 6:
    # computing arrays before the join hashed the whole corpus to feed
    # a candidate set that is typically a vanishing fraction of it
    # (sf1.0: 50k docs' arrays built for a few hundred candidates,
    # ~1.2 s of the verify). Post-join, the expensive expression runs
    # on |2 x candidates| rows only.
    sides = cand.select(
        "doc_a", "doc_b", F.col("doc_a").alias(id_col), F.lit(0).alias("role")
    ).unionByName(
        cand.select("doc_a", "doc_b", F.col("doc_b").alias(id_col), F.lit(1).alias("role"))
    )
    # NO broadcast hint: the candidate set is unbounded (quadratic in
    # near-dup density — O(corpus) on boilerplate-heavy web data), so a
    # forced broadcast is a driver/executor OOM at scale. AQE converts
    # the join to broadcast at runtime when the observed size of
    # ``sides`` is under the adaptive broadcast threshold (the common
    # case), and degrades to a shuffled join otherwise — either way the
    # corpus-side text scan executes exactly once
    # (plan-asserted in tests/test_skew_and_plans.py).
    matched = (
        df.select(F.col(id_col), F.col(text_col))
        .join(sides, id_col)
        .withColumn(
            "sh_set", F.array_distinct(shingle_hashes_col(text_col, shingle_n))
        )
    )
    folded = matched.groupBy("doc_a", "doc_b").agg(
        F.first(F.when(F.col("role") == 0, F.col("sh_set")), ignorenulls=True).alias("sa"),
        F.first(F.when(F.col("role") == 1, F.col("sh_set")), ignorenulls=True).alias("sb"),
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter / (F.size("sa") + F.size("sb") - inter)
    return (
        folded.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ----------------------------------------------------------------------
# SimHash
# ----------------------------------------------------------------------


def token_hashes_col(text_col):
    """array<long>: xxhash64 of each whitespace token, JVM-side
    (codegen). Empty text -> empty array (parity with the previous
    Python kernel's `if txt else []`)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.when(
        c != "", F.transform(F.split(c, " "), lambda t: F.xxhash64(t))
    ).otherwise(F.array().cast("array<long>"))


def _list_segments(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """A batch of ``array<long>`` rows as (flat uint64 values, starts and
    lengths of the non-empty rows, non-empty mask). ``flatten()`` honours
    a sliced batch's offset and skips null rows, which count as empty;
    ``starts`` index ``flat`` for ``np.*.reduceat``, which needs every
    segment non-empty."""
    lens = pc.list_value_length(arr).fill_null(0).to_numpy().astype(np.int64)
    nz = lens > 0
    lens_nz = lens[nz]
    starts = np.zeros(len(lens_nz), dtype=np.int64)
    np.cumsum(lens_nz[:-1], out=starts[1:])
    flat = arr.flatten().to_numpy(zero_copy_only=False).view(np.uint64)
    return flat, starts, lens_nz, nz


def _simhash_bits(hv: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Per-segment SimHash of the mixed token hashes ``hv``: bit b is
    set where more than half of the segment's tokens have bit b set
    (the sign of the +-1 sum). All 64 bits are unpacked into one
    (tokens, 64) matrix (little-endian byte view + bitorder="little"
    puts bit b in column b) and reduced in ONE segmented sum; the
    uint32 accumulator is exact up to 2^32 tokens per segment."""
    bits = np.unpackbits(hv.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    pop = np.add.reduceat(bits, starts, axis=0, dtype=np.uint32)
    over = 2 * pop.astype(np.int64) > lens[:, None]
    return np.packbits(over, axis=1, bitorder="little").view(np.uint64).ravel()


def simhash_col(text_col, seed: int = 0x51AA):
    """64-bit SimHash over whitespace tokens (sign of per-bit weight
    sums). Token hashing is JVM-side; the Arrow kernel mixes the flat
    hash vector and reduces it per document in one segmented sum
    (``_simhash_bits``) — no per-token Python. Bit-identical to the
    driver-side xxh64+splitmix64 chain and to the per-bit loop form
    (unit-pinned)."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(LongType())
    def _sh(hashes: pa.Array) -> pa.Array:
        from ..core import memtune  # noqa: F401

        flat, starts, lens_nz, nz = _list_segments(hashes)
        out = np.zeros(len(hashes), dtype=np.int64)
        if len(flat):
            out[nz] = _simhash_bits(splitmix64(flat, seed), starts, lens_nz).view(np.int64)
        return pa.array(out)

    return _sh(token_hashes_col(text_col))


def near_dup_pairs_simhash(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dups with GUARANTEED recall at the requested radius:
    bucket on (max_hamming + 1) bit-chunks of the 64-bit simhash — by
    pigeonhole, any pair within hamming distance max_hamming agrees
    exactly on at least one chunk — then verify with popcount on
    candidates only.

    Scale note: chunk width = 64/(max_hamming+1) bits sets the bucket
    count per chunk (2^width); small radii (<= 3, 16-bit chunks) keep
    candidate volume ~n^2/2^16 per chunk and are the web-scale setting;
    larger radii trade exponentially more candidates for recall.

    max_hamming == 0 is exact 64-bit simhash equality and short-circuits
    to a plain bucket join on the full simhash (the chunked path would
    need a 64-bit chunk mask, which overflows LongType literals).

    ``max_bucket_size`` is the same belt-and-braces per-bucket ceiling
    as the jaccard/LSH paths: chunk buckets with more members are
    SKIPPED before the m^2/2 popcount verify (one degenerate chunk
    value — e.g. the all-zeros chunk of short/empty docs on a sparse
    bit region — would otherwise dominate a partition). A pair whose
    only agreeing chunk lands in a dropped bucket is missed; the other
    agreeing chunks (pigeonhole gives >= 1 per true near-dup, often
    several) can still catch it. Use ``hot_bucket_stats`` on the
    (ck, cv) keys to size the cap; None = exact recall guarantee."""
    if not 0 <= max_hamming <= 63:
        raise ValueError("max_hamming must be in [0, 63]")
    df = _widen_narrow_scan(df)
    if max_hamming == 0:
        sh0 = df.select(F.col(id_col), simhash_col(text_col).alias("sh"))
        return _bucket_pairs_kernel(
            sh0, "sh", id_col, max_bucket_size=max_bucket_size
        ).withColumn("hamming", F.lit(0).cast("long"))
    n_chunks = max_hamming + 1
    base, rem = divmod(64, n_chunks)
    widths = [base + 1] * rem + [base] * (n_chunks - rem)
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    sh = df.select(F.col(id_col), simhash_col(text_col).alias("sh"))
    chunk_structs = [
        F.struct(
            F.lit(i).alias("ck"),
            F.shiftrightunsigned(F.col("sh"), offsets[i])
            .bitwiseAND(F.lit((1 << widths[i]) - 1))
            .alias("cv"),
        )
        for i in range(n_chunks)
    ]
    chunks = sh.select(
        id_col, "sh", F.explode(F.array(*chunk_structs)).alias("c")
    ).select(id_col, "sh", F.col("c.ck").alias("ck"), F.col("c.cv").alias("cv"))
    cap = max_bucket_size
    # per-bucket pairwise popcount verify as a VECTORIZED numpy kernel:
    # repartition by bucket key + mapInArrow with IN-KERNEL grouping
    # (np boundary detection) — one Python invocation per partition, not
    # per bucket (applyInPandas over thousands of tiny buckets measured
    # ~4 s of pure per-group overhead on 5k docs). Hot buckets cost
    # m^2/2 C-speed xor+SWAR-popcount word ops in upper-triangle row
    # blocks: vs the round-5 kernel (full-row blocks + 256-entry LUT
    # gather) the triangle blocking halves the xor volume and the
    # branch-free SWAR popcount (one pass over the xor words, no gather,
    # no 8x uint8 materialization) replaces three full-size temporaries —
    # measured 5.1x on the sf1.0 hottest bucket (m=12605: 6.5 -> 1.3 s,
    # identical pairs).
    #
    # UNCAPPED dedup-at-source (round 6): a qualifying pair agrees on
    # >= 1 chunk and was previously emitted once PER agreeing chunk
    # (ham <= 7 pairs typically agree on several), then deduplicated by
    # a global .distinct() — a full extra shuffle+aggregate over ~3x
    # the output volume. Now each pair is emitted ONLY from its
    # smallest agreeing chunk (the xor of the two signatures tells the
    # kernel which earlier chunks agree — both docs are by construction
    # members of every agreeing chunk's bucket, so exactly one bucket
    # claims the pair) and the distinct disappears. With a bucket cap
    # this reasoning breaks (the claiming bucket may have been dropped
    # while a later agreeing chunk's bucket survived), so the capped
    # variant keeps per-chunk emission + distinct — its semantics and
    # output are bit-identical to round 5 either way.
    mh = int(max_hamming)
    off_u = [np.uint64(o) for o in offsets]
    msk_u = [np.uint64((1 << w) - 1) for w in widths]
    first_chunk_only = cap is None

    def part_fn(batches):
        from ..core import memtune  # noqa: F401

        batches = list(batches)  # groups are whole within a partition
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        # packed (ck, cv) bucket key: cv < 2^32 is guaranteed here
        # because n_chunks >= 2 (radius 0 short-circuits above) bounds
        # chunk widths at ceil(64/2) = 32 bits
        key = (tbl["ck"].to_numpy().astype(np.int64) << 32) | tbl["cv"].to_numpy()
        ids0 = tbl[id_col].to_numpy()
        # sort by (bucket, id): groups contiguous, ids ascending in-group
        order = np.lexsort((ids0, key))
        ids_s, keys = ids0[order], key[order]
        sig_s = tbl["sh"].to_numpy()[order].view(np.uint64)
        bounds = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1], True])
        out_a, out_b, out_h = [], [], []
        for g0, g1 in zip(bounds[:-1], bounds[1:]):
            m = int(g1 - g0)
            if m < 2 or (cap is not None and m > cap):
                continue
            ck = int(keys[g0] >> 32)
            ids, sig = ids_s[g0:g1], sig_s[g0:g1]
            block = max(1, (1 << 22) // m)  # ~32 MB xor blocks
            for i0 in range(0, m - 1, block):
                i1 = min(i0 + block, m - 1)
                # columns j >= i0 only: the sub-diagonal half of each
                # row block can never satisfy the strict upper-triangle
                # condition, so it is never computed
                x = sig[i0:i1, None] ^ sig[None, i0:]
                pc = _popcount64(x)
                ri, ci = np.nonzero(pc <= mh)
                keep = ci > ri  # strict upper triangle: doc_a < doc_b
                ri, ci = ri[keep], ci[keep]
                if first_chunk_only and ck > 0 and len(ri):
                    # claim the pair only if NO earlier chunk agrees
                    xv = x[ri, ci]
                    lower = np.zeros(len(ri), dtype=bool)
                    for ckp in range(ck):
                        lower |= ((xv >> off_u[ckp]) & msk_u[ckp]) == 0
                    ri, ci = ri[~lower], ci[~lower]
                out_a.append(ids[ri + i0])
                out_b.append(ids[ci + i0])
                out_h.append(pc[ri, ci].astype(np.int64))
        if out_a:
            yield pa.RecordBatch.from_arrays(
                [np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_h)],
                names=["doc_a", "doc_b", "hamming"],
            )

    # explicit numPartitions for the same reason as
    # _bucket_pairs_all_kernel: the per-bucket popcount verify is
    # CPU-quadratic in bucket size, so AQE's byte-based coalescing
    # (which collapsed this exchange to 1-2 tasks at sf0.1) both
    # serializes the work and amplifies single-worker host stalls
    res = chunks.repartition(_kernel_partitions(chunks), F.col("ck"), F.col("cv")).mapInArrow(
        part_fn, "doc_a long, doc_b long, hamming long"
    )
    # uncapped: first-agreeing-chunk emission already yields each pair
    # exactly once (see part_fn) — no global distinct needed
    return res if first_chunk_only else res.distinct()


# ----------------------------------------------------------------------
# near-dup grouping (connected components) -> canonical doc per group
# ----------------------------------------------------------------------

# hard bound on the driver-side union-find fast path of near_dup_groups:
# one million verified pair rows (~16 MB of ids) — far above any healthy
# near-dup density at bench scale, far below driver memory; past it the
# distributed propagation loop runs instead
_MAX_DRIVER_EDGES = 1_000_000


def _union_find_min(pair_rows) -> dict:
    """Connected components over (doc_a, doc_b) rows via union-find with
    path compression + union by size; returns {member: min_id_of_its
    component} for every doc appearing in some pair."""
    parent: dict = {}
    size: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in pair_rows:
        a, b = r[0], r[1]
        for v in (a, b):
            if v not in parent:
                parent[v] = v
                size[v] = 1
        ra, rb = find(a), find(b)
        if ra != rb:
            if size[ra] < size[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] += size[rb]
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        m = comp_min.get(r)
        if m is None or v < m:
            comp_min[r] = v
    return {v: comp_min[find(v)] for v in parent}


def near_dup_groups(
    df: DataFrame,
    threshold: float = 0.8,
    n_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_iters: int = 50,
) -> DataFrame:
    """(doc_id, canonical) — connected components over the verified
    near-dup pair graph, canonical = min doc_id in the component. This
    is the keep/drop list a dedup pipeline actually consumes: keep rows
    where doc_id == canonical.

    Fast path (round 6): the verified pair list is the SAME row set the
    sibling ``near_dup_pairs_minhash`` query returns in full, so up to a
    hard driver bound (``_MAX_DRIVER_EDGES``) it is collected once and
    resolved with a path-compressing union-find — replacing 3-5
    propagation rounds of join+aggregate+count jobs (each a full
    fixed-cost Spark job over a tiny cached graph) with one bounded
    collect. Components and canonical ids are identical by
    construction (canonical = min member either way).

    Beyond the bound: distributed min-label propagation — each round
    joins labels to the (tiny, pairs-only) edge list and takes the min
    over neighbors — converges in <= component-diameter rounds
    (near-dup clusters are shallow, and each extra round on the cached
    pair graph is cheap). Docs not in any pair are their own canonical
    and never enter the loop. If a pathological chain is still changing
    after max_iters rounds the result would be WRONG (split
    components), so that raises instead of returning silently."""
    spark = df.sparkSession
    pairs = near_dup_pairs_minhash(
        df, threshold, n_hashes, bands, shingle_n, text_col, id_col
    ).select("doc_a", "doc_b")
    probe = pairs.limit(_MAX_DRIVER_EDGES + 1).collect()
    if len(probe) <= _MAX_DRIVER_EDGES:
        canon = _union_find_min(probe)
        labels = spark.createDataFrame(
            [(int(d), int(c)) for d, c in canon.items()] or [],
            f"{id_col} long, canonical long",
        )
        singletons = (
            df.select(F.col(id_col))
            .join(labels.select(id_col), id_col, "left_anti")
            .withColumn("canonical", F.col(id_col))
        )
        return labels.unionByName(singletons)
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).cache()  # the pair graph is tiny relative to the corpus; without
    # this every propagation round re-runs the whole LSH+verify pipeline
    # iterate only over docs that appear in some pair
    labels = (
        edges.select(F.col("doc_a").alias(id_col)).distinct()
        .withColumn("canonical", F.col(id_col))
    )
    labels = labels.cache()
    labels.count()
    changed = 0
    for _ in range(max_iters):
        neigh = (
            edges.join(labels.withColumnRenamed(id_col, "doc_b"), "doc_b")
            .groupBy(F.col("doc_a").alias(id_col))
            .agg(F.min("canonical").alias("n_min"))
        )
        new_labels = (
            labels.join(neigh, id_col, "left")
            .select(
                id_col,
                F.least(F.col("canonical"), F.coalesce("n_min", F.col("canonical"))).alias("canonical"),
            )
        ).cache()
        changed = (
            new_labels.withColumnRenamed("canonical", "c2")
            .join(labels, id_col)
            .where(F.col("c2") != F.col("canonical"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"near_dup_groups did not converge in {max_iters} rounds "
            f"({changed} labels still changing); raise max_iters — each "
            "round is one join over the cached pair graph"
        )
    singletons = (
        df.select(F.col(id_col))
        .join(labels.select(id_col), id_col, "left_anti")
        .withColumn("canonical", F.col(id_col))
    )
    return labels.unionByName(singletons)
