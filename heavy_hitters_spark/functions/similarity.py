"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: Arrow-batched numpy matmul per partition
  against a broadcast query matrix — the exact baseline
- LSH-bucketed (random hyperplane) variant: the scale path — candidates
  from sign-pattern buckets, exact rescoring on candidates only
- embedding-cosine near-dup pairs: hyperplane-LSH bucket join + exact
  cosine verify (same shape as MinHash dedup)

At 100 TB the brute-force path is a single map-side pass per query
batch (no shuffle; queries broadcast); the LSH path trades recall for a
bucket-join. Both return exact cosine scores for everything they emit.

The Python kernels take and return Arrow arrays: the per-row ones
(LSH signatures, IVF cell) are ``arrow_udf``s, the per-partition ones
(scoring, cosine verify) ``mapInArrow`` tasks. A batch of embeddings is
read as one (rows, dim) matrix (``_matrix``) — no pandas and no
per-row Python.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..core.hashing import splitmix64


def _normalize(mat: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(mat, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return mat / n


def _matrix(vecs: pa.Array, dim: int) -> np.ndarray:
    """A batch of ``array<float|double>`` rows as one float64 (rows,
    dim) matrix, read off the flattened values. A row of any other
    length (a null row counts as length 0) raises ``ValueError``."""
    lens = pc.list_value_length(vecs).fill_null(0).to_numpy()
    if (lens != dim).any():
        raise ValueError(f"embedding rows must have length {dim}, got {lens.min()} to {lens.max()}")
    return vecs.flatten().to_numpy(zero_copy_only=False).astype(np.float64).reshape(len(vecs), dim)


def _ranked_topk(src: DataFrame, score_fn, k: int, id_col: str) -> DataFrame:
    """The global top-k per query over the (query_id, id, score) rows
    that ``score_fn`` (a ``mapInArrow`` task over ``src``) emits: rank
    by score descending, then id ascending; scores rounded to 6
    places."""
    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField(id_col, LongType()),
            StructField("score", DoubleType()),
        ]
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        src.mapInArrow(score_fn, schema)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, F.round("score", 6).alias("score"), "rank")
        .orderBy("query_id", "rank")
    )


def brute_force_topk(
    emb: DataFrame,
    queries: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector. Per-partition numpy matmul
    emits each partition's local top-k; a tiny global top-k reduction
    finishes it (total shuffled rows = k * partitions * n_queries)."""
    q = _normalize(np.asarray(queries, dtype=np.float64))
    nq = q.shape[0]

    def part_topk(batches):
        from ..core import memtune  # noqa: F401

        for batch in batches:
            if not batch.num_rows:
                continue
            scores = q @ _normalize(_matrix(batch[vec_col], q.shape[1])).T  # nq x batch
            kk = min(k, scores.shape[1])
            top = np.argpartition(-scores, kk - 1, axis=1)[:, :kk]
            yield pa.RecordBatch.from_arrays(
                [
                    np.repeat(np.arange(nq, dtype=np.int64), kk),
                    batch[id_col].to_numpy()[top.ravel()],
                    np.take_along_axis(scores, top, axis=1).ravel(),
                ],
                names=["query_id", id_col, "score"],
            )

    return _ranked_topk(emb.select(id_col, vec_col), part_topk, k, id_col)


def _random_planes(n_planes: int, dim: int, seed: int) -> np.ndarray:
    """Deterministic gaussian-ish hyperplanes from splitmix64 bits."""
    u = splitmix64(np.arange(2 * n_planes * dim, dtype=np.uint64), seed).astype(np.float64) / 1.8446744073709552e19
    u1, u2 = u[: n_planes * dim], u[n_planes * dim :]
    g = np.sqrt(-2 * np.log(np.clip(u1, 1e-12, 1))) * np.cos(2 * np.pi * u2)
    return g.reshape(n_planes, dim)


def lsh_topk(
    emb: DataFrame,
    queries: np.ndarray,
    k: int = 10,
    n_planes: int = 12,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH candidate union,
    exact cosine rescoring of candidates only (scale path). All tables'
    bucket ids come from ONE signature kernel pass; the query-side
    signatures broadcast-join on (table, sig)."""
    q = _normalize(np.asarray(queries, dtype=np.float64))
    dim = q.shape[1]
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    qrows = []
    for t in range(n_tables):
        planes = _random_planes(n_planes, dim, 0xA11 + 131 * t)
        qsig = ((q @ planes.T) > 0) @ weights
        qrows.extend((t, int(s), int(i)) for i, s in enumerate(qsig))
    qdf = emb.sparkSession.createDataFrame(qrows, "tbl int, sig long, query_id long")
    sigs = emb.select(
        id_col,
        vec_col,
        F.posexplode(
            multitable_sig_col(vec_col, n_planes, dim, n_tables, seed_base=0xA11, seed_step=131)
        ).alias("tbl", "sig"),
    )
    cand = (
        sigs.join(F.broadcast(qdf), ["tbl", "sig"])
        .select("query_id", id_col, vec_col)
        .dropDuplicates(["query_id", id_col])
    )
    return _rescore_topk(cand, q, k, id_col, vec_col)


def _rescore_topk(
    cand: DataFrame, q: np.ndarray, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Exact-cosine rescoring of (query_id, id, vec) candidate rows +
    global top-k per query — the shared tail of every ANN variant.
    One Arrow pass for the dot products; the window tops out at
    k * candidates-per-query shuffled rows."""

    def rescore(batches):
        from ..core import memtune  # noqa: F401

        for batch in batches:
            if not batch.num_rows:
                continue
            qi = batch["query_id"].to_numpy()
            sc = np.einsum("ij,ij->i", q[qi], _normalize(_matrix(batch[vec_col], q.shape[1])))
            yield pa.RecordBatch.from_arrays(
                [qi, batch[id_col].to_numpy(), sc], names=["query_id", id_col, "score"]
            )

    return _ranked_topk(cand, rescore, k, id_col)


def multitable_sig_col(
    vec_col, n_planes: int, dim: int, n_tables: int, seed_base: int = 0xD0D0, seed_step: int = 977
):
    """array<long> of hyperplane sign-bucket ids, one per LSH table —
    ALL tables in one Arrow kernel pass (one matmul against the stacked
    plane matrix), instead of n_tables separate UDF scans."""
    from pyspark.sql.functions import arrow_udf

    planes = np.concatenate(
        [_random_planes(n_planes, dim, seed_base + seed_step * t) for t in range(n_tables)]
    )  # (n_tables*n_planes) x dim
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @arrow_udf(ArrayType(LongType()))
    def _sig(vecs: pa.Array) -> pa.Array:
        from ..core import memtune  # noqa: F401

        n = len(vecs)
        bits = (_matrix(vecs, dim) @ planes.T) > 0  # n x (tables*planes)
        sigs = bits.reshape(n, n_tables, n_planes) @ weights  # n x tables
        offsets = np.arange(0, n * n_tables + 1, n_tables, dtype=np.int32)
        return pa.ListArray.from_arrays(offsets, sigs.ravel())

    return _sig(vec_col if not isinstance(vec_col, str) else F.col(vec_col))


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 14,
    n_tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via hyperplane LSH buckets +
    exact cosine verification (emitted pairs carry exact scores).

    One signature kernel pass computes every table's bucket id; pairs
    come from bucket pair-generation (groupBy (table, sig)), so the
    embeddings are scanned once, not 2*n_tables times."""
    from .dedup import _bucket_pairs_kernel

    dim = _dim_of(emb, vec_col)
    sigs = emb.select(
        F.col(id_col),
        F.posexplode(multitable_sig_col(vec_col, n_planes, dim, n_tables)).alias("tbl", "sig"),
    )
    # exact (collision-free) pack: sig < 2^n_planes, so sig*n_tables+tbl
    # is injective and fits a long for any sane n_planes/n_tables
    packed = sigs.select(
        id_col, (F.col("sig") * F.lit(n_tables) + F.col("tbl")).alias("bk")
    )
    cand = (
        _bucket_pairs_kernel(packed, "bk", id_col)
        .withColumnRenamed("doc_a", "id_a")
        .withColumnRenamed("doc_b", "id_b")
    )
    # single-scan verification (round 6; same shape as the minhash
    # verify): joining the embeddings once per pair side executed the
    # corpus scan twice through two sort-merge joins, and the
    # interpreted zip_with/aggregate cosine cost ~28 expression evals
    # per element — ~3.5 s for 125k candidates at sf1.0. Unpivot each
    # pair into two (pair, role, id) rows, join the vectors in ONE
    # pass (the candidate side is small and broadcastable; AQE
    # decides), fold the two sides per pair, and compute the cosine as
    # one vectorized Arrow kernel (~1 s, same values to float64
    # round-off; the gated outputs are exact-1.0 planted pairs).
    sides = cand.select(
        "id_a", "id_b", F.col("id_a").alias(id_col), F.lit(0).alias("role")
    ).unionByName(
        cand.select("id_a", "id_b", F.col("id_b").alias(id_col), F.lit(1).alias("role"))
    )
    matched = emb.select(F.col(id_col), F.col(vec_col)).join(sides, id_col)
    folded = matched.groupBy("id_a", "id_b").agg(
        F.first(F.when(F.col("role") == 0, F.col(vec_col)), ignorenulls=True).alias("va"),
        F.first(F.when(F.col("role") == 1, F.col(vec_col)), ignorenulls=True).alias("vb"),
    )

    def cos_fn(batches):
        from ..core import memtune  # noqa: F401

        for batch in batches:
            if not batch.num_rows:
                continue
            a, b = _matrix(batch["va"], dim), _matrix(batch["vb"], dim)
            dot = np.einsum("ij,ij->i", a, b)
            na = np.sqrt(np.einsum("ij,ij->i", a, a))
            nb = np.sqrt(np.einsum("ij,ij->i", b, b))
            yield pa.RecordBatch.from_arrays(
                [batch["id_a"], batch["id_b"], dot / (na * nb)], names=["id_a", "id_b", "cosine"]
            )

    scored = folded.mapInArrow(cos_fn, "id_a long, id_b long, cosine double")
    return (
        scored.where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def _dim_of(emb: DataFrame, vec_col: str) -> int:
    row = emb.select(F.size(vec_col).alias("d")).first()
    return int(row["d"]) if row else 0


# ----------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer + probed-cell search
# ----------------------------------------------------------------------


def _ivf_training_sample(
    emb: DataFrame,
    vec_col: str,
    sample_fraction: float,
    max_train_rows: int,
    seed: int,
) -> DataFrame:
    """The bounded driver-side training sample: at most ~max_train_rows
    vectors reach the driver NO MATTER the corpus size (count -> sample
    at an over-shot fraction -> hard limit). The count is a cheap
    metadata/row-group scan on parquet sources; the .limit is the hard
    backstop against a driver OOM when the caller forgets to bound."""
    s = emb.select(vec_col)
    if sample_fraction < 1.0:
        s = s.sample(fraction=sample_fraction, seed=seed)
    n = s.count()
    if n > max_train_rows:
        # oversample by 25% so the limit (not sampling variance) sets
        # the final size, keeping the training set deterministic-sized
        frac = min(1.0, 1.25 * max_train_rows / n)
        s = s.sample(fraction=frac, seed=seed)
    return s.limit(max_train_rows)


def train_ivf_centroids(
    emb: DataFrame,
    n_cells: int = 64,
    sample_fraction: float = 1.0,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0x1BF,
    max_train_rows: int = 100_000,
) -> np.ndarray:
    """Deterministic spherical k-means on a driver-side sample — the
    standard IVF coarse quantizer. The sample is HARD-BOUNDED at
    max_train_rows regardless of sample_fraction (default 100k vectors:
    ~50 MB at dim 64 — safe on any driver even when the corpus is
    100 TB); assignment stays fully distributed. Returns
    (n_cells x dim) L2-normalized centroids."""
    s = _ivf_training_sample(emb, vec_col, sample_fraction, max_train_rows, seed)
    mat = _normalize(np.stack([r[vec_col] for r in s.collect()]).astype(np.float64))
    # deterministic init: splitmix-shuffled sample rows
    order = np.argsort(splitmix64(np.arange(len(mat), dtype=np.uint64), seed))
    cent = mat[order[: min(n_cells, len(mat))]].copy()
    for _ in range(iters):
        assign = (mat @ cent.T).argmax(axis=1)
        for c in range(len(cent)):
            members = mat[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
        cent = _normalize(cent)
    return cent


def ivf_assign_col(vec_col, centroids: np.ndarray):
    """int: nearest-centroid cell id (one Arrow-batched matmul)."""
    from pyspark.sql.functions import arrow_udf

    cent = np.asarray(centroids, dtype=np.float64)

    @arrow_udf(LongType())
    def _cell(vecs: pa.Array) -> pa.Array:
        from ..core import memtune  # noqa: F401

        mat = _normalize(_matrix(vecs, cent.shape[1]))
        return pa.array((mat @ cent.T).argmax(axis=1).astype(np.int64))

    return _cell(vec_col if not isinstance(vec_col, str) else F.col(vec_col))


def ivf_topk(
    emb: DataFrame,
    queries: np.ndarray,
    k: int = 10,
    n_cells: int = 64,
    n_probe: int = 8,
    centroids: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: assign vectors to their nearest coarse centroid
    (one distributed pass; at scale this is a write-once partitioning of
    the corpus), probe the n_probe closest cells per query, exact-rescore
    only vectors in probed cells. Deterministic given the trained
    centroids; recall grows with n_probe (n_probe == n_cells is exact).

    100 TB shape: the cell assignment is bucket-pruned scanning — each
    query touches ~n_probe/n_cells of the corpus; the probed-cell filter
    is a broadcast semi-join on a small (query_id, cell) table."""
    if centroids is None:
        centroids = train_ivf_centroids(emb, n_cells, id_col=id_col, vec_col=vec_col)
    q = _normalize(np.asarray(queries, dtype=np.float64))
    probes = np.argsort(-(q @ centroids.T), axis=1)[:, : min(n_probe, len(centroids))]
    qcells = emb.sparkSession.createDataFrame(
        [(int(qi), int(c)) for qi in range(len(q)) for c in probes[qi]],
        "query_id long, cell long",
    )
    cells = emb.select(id_col, vec_col, ivf_assign_col(vec_col, centroids).alias("cell"))
    cand = cells.join(F.broadcast(qcells), "cell").select("query_id", id_col, vec_col)
    return _rescore_topk(cand, q, k, id_col, vec_col)


def ivf_write(
    emb: DataFrame,
    path: str,
    n_cells: int = 64,
    centroids: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Persist the write-once IVF layout: one distributed assignment
    pass writes ``path/vectors`` as parquet PARTITIONED BY cell (so
    later queries prune unprobed cells at the file-listing level, never
    reading their bytes) plus a ``path/centroids`` sidecar. This is the
    durable form of ivf_topk's per-call assignment — pay the scan once,
    then every query touches ~n_probe/n_cells of the files."""
    if centroids is None:
        centroids = train_ivf_centroids(emb, n_cells, id_col=id_col, vec_col=vec_col)
    cells = emb.select(id_col, vec_col, ivf_assign_col(vec_col, centroids).alias("cell"))
    cells.write.partitionBy("cell").mode("overwrite").parquet(f"{path}/vectors")
    cent_df = emb.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell long, centroid array<double>",
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    return np.asarray(centroids, dtype=np.float64)


def ivf_topk_indexed(
    spark,
    path: str,
    queries: np.ndarray,
    k: int = 10,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over a persisted ivf_write layout. The probed-cell
    predicate is a PARTITION filter on the cell-partitioned parquet, so
    the scan lists and reads only the probed cells' files; per-query
    probe fan-out is the same broadcast (query_id, cell) join as
    ivf_topk. Same results as ivf_topk with the same centroids."""
    cent_rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    centroids = np.stack([np.asarray(r["centroid"], dtype=np.float64) for r in cent_rows])
    q = _normalize(np.asarray(queries, dtype=np.float64))
    probes = np.argsort(-(q @ centroids.T), axis=1)[:, : min(n_probe, len(centroids))]
    probed_cells = sorted({int(c) for row in probes for c in row})
    qcells = spark.createDataFrame(
        [(int(qi), int(c)) for qi in range(len(q)) for c in probes[qi]],
        "query_id long, cell long",
    )
    vec = spark.read.parquet(f"{path}/vectors").where(F.col("cell").isin(probed_cells))
    cand = vec.join(F.broadcast(qcells), "cell").select("query_id", id_col, vec_col)
    return _rescore_topk(cand, q, k, id_col, vec_col)
