"""Training-data pipeline ops: dedup (exact / MinHash-LSH / SimHash /
n-gram Jaccard), similarity search (brute force + LSH), text analysis,
multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from heavy_hitters_spark.functions.dedup import (
    dedup_exact,
    jaccard_pairs,
    lsh_candidates,
    near_dup_pairs_minhash,
    near_dup_pairs_simhash,
    shingles_df,
)
from heavy_hitters_spark.functions.multimodal import (
    extract_features,
    fake_decoder,
    frame_sample,
    real_decoder,
    synth_media_df,
)
from heavy_hitters_spark.functions.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    lsh_topk,
)
from heavy_hitters_spark.functions.text import (
    fingerprint_col,
    lang_id,
    quality_scores,
    token_count_col,
)


@pytest.fixture(scope="module")
def dup_docs(spark):
    """Corpus with planted exact dups and near-dups."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi omicron pi"
    toks = base.split()
    rows = []
    for i in range(40):
        rot = toks[i % 4 :] + toks[: i % 4]
        rows.append((i, " ".join(rot) + f" row{i}"))  # unique suffix token
    rows.append((100, rows[0][1]))  # exact dup of doc 0
    rows.append((101, rows[1][1]))  # exact dup of doc 1
    near = rows[2][1].split()
    near[-1] = "CHANGED"  # near-dup of doc 2 (one token differs)
    rows.append((102, " ".join(near)))
    rows.append((200, "totally different content about completely other things entirely"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact(spark, dup_docs):
    out = {r["doc_id"]: r["dup_count"] for r in dedup_exact(dup_docs).collect()}
    assert out[0] == 2 and out[1] == 2  # dups collapse to lowest id
    assert 100 not in out and 101 not in out
    assert out[2] == 1


def test_shingles_and_jaccard(spark, dup_docs):
    sh = shingles_df(dup_docs, n=3)
    assert sh.where(F.col("doc_id") == 0).count() == 15  # 17 tokens -> 15 trigrams
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in jaccard_pairs(dup_docs, 0.9).collect()}
    assert pairs[(0, 100)] == 1.0 and pairs[(1, 101)] == 1.0
    p2 = {(r["doc_a"], r["doc_b"]) for r in jaccard_pairs(dup_docs, 0.7).collect()}
    assert (2, 102) in p2  # near-dup found at lower threshold


def test_minhash_lsh_recall(spark, dup_docs):
    cand = {(r["doc_a"], r["doc_b"]) for r in lsh_candidates(dup_docs, 128, 32).collect()}
    assert (0, 100) in cand and (1, 101) in cand and (2, 102) in cand
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in near_dup_pairs_minhash(dup_docs, 0.7).collect()}
    assert out[(0, 100)] == 1.0 and (2, 102) in out
    # verified pairs equal the exact-Jaccard answer at this threshold
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in jaccard_pairs(dup_docs, 0.7).collect()}
    assert out == exact


def test_simhash_near_dups(spark, dup_docs):
    out = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in near_dup_pairs_simhash(dup_docs, 16).collect()}
    assert out[(0, 100)] == 0 and out[(1, 101)] == 0
    assert (2, 102) in out and out[(2, 102)] > 0


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_brute_force_topk_exact(spark, emb):
    rows = emb.orderBy("vec_id").limit(3).collect()
    q = np.array([r["embedding"] for r in rows])
    got = brute_force_topk(emb, q, k=5).collect()
    # numpy oracle
    all_rows = emb.collect()
    ids = np.array([r["vec_id"] for r in all_rows])
    mat = np.array([r["embedding"] for r in all_rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    scores = qn @ mat.T
    for qi in range(3):
        order = np.lexsort((ids, -np.round(scores[qi], 12)))[:5]
        expect = ids[order].tolist()
        mine = [r["vec_id"] for r in got if r["query_id"] == qi]
        assert mine == expect
        assert mine[0] == rows[qi]["vec_id"]  # self is nearest


def test_lsh_topk_recall_planted(spark):
    """LSH's contract is high recall on genuinely-near neighbors: plant
    clusters of noisy copies (cosine >= ~0.97) and require they are
    recovered. (On near-uniform random embeddings all 'neighbors' are
    barely closer than random and hyperplane LSH is legitimately weak —
    the brute-force path is the exact baseline for that regime.)"""
    g = np.random.default_rng(3)
    base = g.normal(size=(20, 32))
    rows, vid = [], 0
    truth = {}
    for b in base:
        ids = []
        for _ in range(5):
            v = b + 0.08 * g.normal(size=32)
            rows.append((vid, (v / np.linalg.norm(v)).tolist()))
            ids.append(vid)
            vid += 1
        truth[ids[0]] = set(ids)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = np.array([rows[i][1] for i in sorted(truth)])
    approx = lsh_topk(df, q, k=5, n_planes=8, n_tables=8).collect()
    exact = brute_force_topk(df, q, k=5).collect()
    rec = []
    for qi, qid in enumerate(sorted(truth)):
        ap = {r["vec_id"] for r in approx if r["query_id"] == qi}
        assert qid in ap  # self always recovered
        rec.append(len(ap & truth[qid]) / 5)
    assert np.mean(rec) >= 0.85
    # and on this clustered data LSH matches brute force almost everywhere
    ex_pairs = {(r["query_id"], r["vec_id"]) for r in exact}
    ap_pairs = {(r["query_id"], r["vec_id"]) for r in approx}
    assert len(ex_pairs & ap_pairs) / len(ex_pairs) >= 0.85


def test_cosine_near_dups(spark):
    vecs = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.999, 0.01, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]), (3, [0.0, 0.0, 1.0, 0.0])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = {(r["id_a"], r["id_b"]) for r in cosine_near_dup_pairs(df, threshold=0.99, n_planes=6, n_tables=8).collect()}
    assert (0, 1) in out
    assert all(p == (0, 1) for p in out)


def test_text_ops(spark):
    df = spark.createDataFrame(
        [(0, "the cat sat on the mat."), (1, "der hund und die katze"), (2, "xyzzy plugh")],
        "doc_id long, text string",
    )
    tc = {r["doc_id"]: r["n"] for r in df.select("doc_id", token_count_col("text").alias("n")).collect()}
    assert tc == {0: 6, 1: 5, 2: 2}
    langs = {r["doc_id"]: r["pred_lang"] for r in lang_id(df).collect()}
    assert langs[0] == "en" and langs[1] == "de" and langs[2] == "und"
    q = {r["doc_id"]: r for r in quality_scores(df).collect()}
    assert q[0]["n_tokens"] == 6 and 0 < q[0]["punct_ratio"] < 0.1
    assert q[0]["stopword_ratio"] == pytest.approx(2 / 6)


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "c b a"), (2, "a b c")], "doc_id long, text string"
    )
    fp = {r["doc_id"]: r["fp"] for r in df.select("doc_id", fingerprint_col("text").alias("fp")).collect()}
    assert fp[0] == fp[2]
    assert fp[0] != fp[1]  # order matters (rolling hash)


def test_multimodal_pipeline(spark):
    media = synth_media_df(spark, n_rows=32)
    feats = extract_features(media, decoder=fake_decoder).collect()
    assert len(feats) == 32
    assert all(len(r["feature"]) == 8 for r in feats)
    again = {r["media_id"]: r["feature"] for r in extract_features(media, decoder=fake_decoder).collect()}
    assert all(again[r["media_id"]] == r["feature"] for r in feats)  # deterministic
    fs = frame_sample(media, every_n=5)
    assert fs.where(F.col("frame_idx") % 5 != 0).count() == 0
    with pytest.raises(NotImplementedError):
        real_decoder(b"\x00")


def test_shingles_short_docs_no_crash(spark):
    """Docs with fewer than n tokens must yield zero shingles, not a
    SparkRuntimeException (F.sequence(0, size-n) descends for size<n)."""
    df = spark.createDataFrame(
        [(0, "one two"), (1, "single"), (2, ""), (3, "a b c d e")],
        "doc_id long, text string",
    )
    sh = shingles_df(df, n=3)
    per = {r["doc_id"]: r["n"] for r in sh.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert per == {3: 3}  # only the 5-token doc produces trigrams
    assert jaccard_pairs(df, threshold=0.1, n=3).count() == 0


def test_simhash_pigeonhole_radius(spark, dup_docs):
    """Generic (max_hamming+1)-chunk bucketing: output at radius r must
    equal the exact hamming-<=r filter over ALL pairs (recall guaranteed
    by pigeonhole, precision by the popcount verify)."""
    from heavy_hitters_spark.functions.dedup import simhash_col

    sh = {r["doc_id"]: r["sh"] for r in dup_docs.select("doc_id", simhash_col("text").alias("sh")).collect()}
    ids = sorted(sh)
    for radius in (3, 7):
        expect = {
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin((sh[a] ^ sh[b]) & 0xFFFFFFFFFFFFFFFF).count("1") <= radius
        }
        got = {(r["doc_a"], r["doc_b"]) for r in near_dup_pairs_simhash(dup_docs, max_hamming=radius).collect()}
        assert got == expect


def test_vectorized_kernels_bit_parity(spark):
    """minhash/simhash/fingerprint now hash JVM-side (F.xxhash64 in an
    array transform) + segmented numpy reductions; outputs must be
    bit-identical to the reference driver-side xxh64 chain."""
    from heavy_hitters_spark.core.hashing import splitmix64
    from heavy_hitters_spark.functions.dedup import minhash_col, simhash_col
    from heavy_hitters_spark.spark.keys import xxh64

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "a b",          # shorter than shingle_n
        "",             # empty
        "single",
        "x  y",         # double space -> empty token
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {
        r["doc_id"]: (r["mh"], r["sh"], r["fp"])
        for r in df.select(
            "doc_id",
            minhash_col("text", n_hashes=16, shingle_n=3, seed=0x51A5).alias("mh"),
            simhash_col("text", seed=0x51AA).alias("sh"),
            fingerprint_col("text", seed=0xF1E5).alias("fp"),
        ).collect()
    }

    ab = splitmix64(np.arange(32, dtype=np.uint64), 0x51A5)
    a, b = (ab[:16] | np.uint64(1))[:, None], ab[16:][:, None]
    P = np.uint64(1099511628211)
    for i, txt in enumerate(texts):
        toks = txt.split(" ") if txt else []
        # minhash reference
        if len(toks) < 3:
            sh_set = [" ".join(toks)] if toks else [""]
        else:
            sh_set = {" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)}
        hv = np.array([xxh64(x.encode()) for x in sh_set], dtype=np.uint64)[None, :]
        with np.errstate(over="ignore"):
            ref_mh = (a * hv + b).min(axis=1).view(np.int64).tolist()
        assert got[i][0] == ref_mh, f"minhash mismatch doc {i}"
        # simhash reference
        if not toks:
            ref_sh = 0
        else:
            th = splitmix64(np.array([xxh64(t.encode()) for t in toks], dtype=np.uint64), 0x51AA)
            bits = np.arange(64, dtype=np.uint64)
            v = (2 * ((th[:, None] >> bits) & np.uint64(1)).astype(np.int64) - 1).sum(axis=0)
            ref_sh = int(np.uint64(((v > 0).astype(np.uint64) << bits).sum(dtype=np.uint64)).view(np.int64))
        assert got[i][1] == ref_sh, f"simhash mismatch doc {i}"
        # fingerprint reference (Horner loop)
        h = np.uint64(0xF1E5)
        if toks:
            th = splitmix64(np.array([xxh64(t.encode()) for t in toks], dtype=np.uint64), 0xF1E5)
            with np.errstate(over="ignore"):
                for v in th:
                    h = h * P + v
        assert got[i][2] == int(np.int64(h.view(np.int64))), f"fingerprint mismatch doc {i}"


def test_stop_shingle_cap_bounds_hot_buckets(spark):
    """One shingle shared by EVERY doc: with the cap, the hot bucket is
    dropped before pair generation (no quadratic stage) while genuinely
    similar pairs survive via their other shingles."""
    common = "zzz yyy xxx"  # one trigram shared by all docs
    rows = [(i, f"{common} unique{i} tail{i} end{i}") for i in range(60)]
    rows.append((500, rows[0][1]))  # true near-dup pair (0, 500): identical
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # capped intersection drops the hot shingle: 3 shared of 4+4 -> 0.6
    capped = jaccard_pairs(df, threshold=0.5, n=3, max_bucket_size=10)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in capped.collect()}
    assert got.get((0, 500)) == 0.6
    # with the hot shingle dropped, unrelated docs share nothing
    assert all(p == (0, 500) for p in got)
    # uncapped still exact: the hot shingle alone gives jaccard 1/7 < 0.9
    exact = {(r["doc_a"], r["doc_b"]) for r in jaccard_pairs(df, threshold=0.9, n=3).collect()}
    assert exact == {(0, 500)}


def test_ivf_topk_self_recall_and_vs_exact(spark, emb):
    """IVF: a query that IS a corpus vector always lands in its own
    probed cell (same argmax) => rank-1 self-hit is deterministic; and
    with n_probe == n_cells the result equals brute force exactly."""
    from heavy_hitters_spark.functions.similarity import (
        brute_force_topk,
        ivf_topk,
        train_ivf_centroids,
    )

    rows = emb.orderBy("vec_id").limit(3).collect()
    q = np.array([r["embedding"] for r in rows])
    cents = train_ivf_centroids(emb, n_cells=16)
    got = ivf_topk(emb, q, k=5, n_probe=4, centroids=cents).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qi, r0 in enumerate(rows):
        top = sorted(by_q[qi], key=lambda r: r["rank"])[0]
        assert top["vec_id"] == r0["vec_id"] and top["score"] == 1.0
    # full probing == exact
    exact = brute_force_topk(emb, q, k=5).collect()
    full = ivf_topk(emb, q, k=5, n_probe=16, centroids=cents).collect()
    assert [(r["query_id"], r["vec_id"]) for r in full] == [
        (r["query_id"], r["vec_id"]) for r in exact
    ]


def test_near_dup_groups_transitive(spark):
    """A chain a~b~c (a never directly paired with c) must collapse to
    ONE component with canonical = min id; unrelated docs stay their
    own canonical."""
    from heavy_hitters_spark.functions.dedup import near_dup_groups

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    a = " ".join(base)
    b = " ".join(base[:-1] + ["CHANGED1"])          # ~ a
    c = " ".join(base[:-2] + ["CHANGED2", "CHANGED1"])  # ~ b, farther from a
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (9, "totally different other content entirely here")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["canonical"] for r in near_dup_groups(df, threshold=0.5, shingle_n=3).collect()}
    assert got[1] == 1 and got[2] == 1 and got[3] == 1  # one component
    assert got[9] == 9


# ----------------------------------------------------------------------
# round-3 additions: bucket ceilings, radius-0 simhash, short-doc
# verification fallback, bounded IVF training, persisted IVF layout,
# recall gates at the driver's own parameters, insert-only MG guard
# ----------------------------------------------------------------------


def test_max_bucket_size_guard(spark):
    """A pathological bucket (every doc identical => one band bucket
    with ALL ids) is dropped before pair expansion, so no task builds
    the m^2 pair array; docs pairing through normal-sized buckets are
    unaffected; hot_bucket_stats reports what the cap discarded."""
    from heavy_hitters_spark.functions.dedup import (
        hot_bucket_stats,
        lsh_candidates,
        near_dup_pairs_minhash,
    )

    rows = [(i, "mega bucket same text every row here") for i in range(300)]
    rows += [(1000, "alpha beta gamma delta epsilon zeta eta theta"),
             (1001, "alpha beta gamma delta epsilon zeta eta theta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = lsh_candidates(df, max_bucket_size=50).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in capped}
    assert got == {(1000, 1001)}  # mega bucket dropped, small pair kept
    # end-to-end through verification too
    pairs = near_dup_pairs_minhash(df, threshold=0.9, max_bucket_size=50).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1000, 1001)}
    # stats row quantifies the drop (300-id buckets across 32 bands)
    from heavy_hitters_spark.functions.dedup import minhash_col
    from pyspark.sql import functions as SF
    sig = df.select("doc_id", minhash_col("text").alias("sig"))
    banded = sig.select(
        "doc_id",
        SF.explode(
            SF.transform(
                SF.sequence(SF.lit(0), SF.lit(31)),
                lambda b: SF.struct(
                    b.alias("band"), SF.xxhash64(SF.slice("sig", b * 4 + 1, 4)).alias("bh")
                ),
            )
        ).alias("bb"),
    ).select("doc_id", SF.col("bb.band").alias("band"), SF.col("bb.bh").alias("bh"))
    stats = hot_bucket_stats(banded, ["band", "bh"], max_bucket_size=50).collect()[0]
    assert stats["n_buckets_dropped"] >= 32  # the mega bucket in every band
    assert stats["max_bucket_seen"] == 300


def test_simhash_radius0_and_validation(spark):
    """max_hamming=0 = exact 64-bit simhash equality (used to overflow
    LongType via a 64-bit chunk mask); out-of-range radii raise."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # identical -> hamming 0
        (3, "totally different other words here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = near_dup_pairs_simhash(df, max_hamming=0).collect()
    assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in got] == [(1, 2, 0)]
    with pytest.raises(ValueError):
        near_dup_pairs_simhash(df, max_hamming=-1)
    with pytest.raises(ValueError):
        near_dup_pairs_simhash(df, max_hamming=64)


def test_minhash_short_doc_fallback_verified(spark):
    """Docs shorter than shingle_n tokens bucket via the whole-text
    fallback hash AND verify via the same fallback — identical short
    docs come out at jaccard 1.0 instead of being dropped by an empty
    shingle set (0/0 -> NULL)."""
    rows = [
        (1, "hi there"),          # 2 tokens < shingle_n=3
        (2, "hi there"),          # identical short doc
        (3, "bye now"),           # different short doc
        (4, "alpha beta gamma delta epsilon"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in near_dup_pairs_minhash(df, threshold=0.9, shingle_n=3).collect()}
    assert got == {(1, 2): 1.0}


def test_mg_rejects_negative_weights():
    """Misra-Gries is cash-register: deletions would corrupt the
    decrement certificate, so negative weights raise."""
    from heavy_hitters_spark.core import MisraGries

    mg = MisraGries(k=8)
    mg.update_batch(np.array([1, 2], dtype=np.uint64), np.array([3, 4], dtype=np.int64))
    with pytest.raises(ValueError):
        mg.update_batch(np.array([1], dtype=np.uint64), np.array([-1], dtype=np.int64))


def test_ivf_training_sample_bounded(spark):
    """The driver-side k-means sample is hard-capped regardless of
    caller args — a 100 TB corpus cannot OOM the driver through the
    default training path."""
    from heavy_hitters_spark.functions.similarity import (
        _ivf_training_sample,
        train_ivf_centroids,
    )

    g = np.random.default_rng(7)
    rows = [(i, g.normal(size=8).tolist()) for i in range(5000)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    s = _ivf_training_sample(emb, "embedding", sample_fraction=1.0,
                             max_train_rows=500, seed=1)
    assert s.count() <= 500
    cents = train_ivf_centroids(emb, n_cells=8, max_train_rows=500)
    assert cents.shape == (8, 8)


def test_ivf_write_and_indexed_query(spark, tmp_path):
    """ivf_write persists the cell-partitioned layout; ivf_topk_indexed
    returns the same rows as the in-memory ivf_topk with the same
    centroids, and its scan carries a PartitionFilter on cell (probed
    cells only — unprobed cells' files are never read)."""
    from heavy_hitters_spark.functions.similarity import (
        ivf_topk,
        ivf_topk_indexed,
        ivf_write,
        train_ivf_centroids,
    )
    from pyspark.sql import functions as SF

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = train_ivf_centroids(emb, n_cells=8)
    path = str(tmp_path / "ivf")
    ivf_write(emb, path, centroids=cents)
    rows = emb.orderBy("vec_id").limit(3).collect()
    q = np.array([r["embedding"] for r in rows])
    direct = ivf_topk(emb, q, k=5, n_probe=2, centroids=cents).collect()
    indexed = ivf_topk_indexed(spark, path, q, k=5, n_probe=2).collect()
    assert [tuple(r) for r in indexed] == [tuple(r) for r in direct]
    # the probed-cell predicate is a partition filter at the scan
    vec = spark.read.parquet(f"{path}/vectors").where(SF.col("cell").isin([0, 1]))
    vec.collect()
    plan = vec._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    # and partition pruning actually restricts the rows read
    full = spark.read.parquet(f"{path}/vectors").count()
    assert vec.count() < full


def test_ann_recall_gates_driver_params(spark):
    """recall@10 of the approximate ANN paths vs the exact ann_topk at
    the DRIVER queries' own parameters on the sf0.01 fixture — all
    seeds fixed, so these are deterministic values, not flaky bounds
    (measured: lsh 0.53, ivf 0.63 on near-uniform embeddings, the
    hardest regime for both)."""
    from heavy_hitters_spark.functions.similarity import ivf_topk, train_ivf_centroids

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qv = np.array([r["embedding"]
                   for r in emb.where(F.col("vec_id") < 3).orderBy("vec_id").collect()])
    exact = brute_force_topk(emb, qv, k=10).collect()
    ex = {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall(rows):
        ap = {}
        for r in rows:
            ap.setdefault(r["query_id"], set()).add(r["vec_id"])
        return np.mean([len(ap.get(qid, set()) & ex[qid]) / 10 for qid in ex])

    lsh = lsh_topk(emb, qv, k=10, n_planes=6, n_tables=16).collect()
    assert recall(lsh) >= 0.5
    cents = train_ivf_centroids(emb, n_cells=32)
    ivf = ivf_topk(emb, qv, k=10, n_probe=8, centroids=cents).collect()
    assert recall(ivf) >= 0.6
    # self-hit is deterministic for both (query IS a corpus vector)
    for rows in (lsh, ivf):
        firsts = {r["query_id"]: r["vec_id"] for r in rows if r["rank"] == 1}
        assert firsts == {0: 0, 1: 1, 2: 2}


def test_near_dup_groups_nonconvergence_raises(spark, monkeypatch):
    """Stopping while labels still change would silently split
    components — the propagation loop must raise instead. (Round 6:
    the driver-bounded union-find fast path resolves any collected
    graph exactly and never iterates, so the failsafe only guards the
    distributed fallback — force it by zeroing the fast-path bound.)"""
    import heavy_hitters_spark.functions.dedup as dd

    monkeypatch.setattr(dd, "_MAX_DRIVER_EDGES", 0)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    a = " ".join(base)
    b = " ".join(base[:-1] + ["CHANGED1"])
    c = " ".join(base[:-2] + ["CHANGED2", "CHANGED1"])
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.near_dup_groups(df, threshold=0.5, shingle_n=3, max_iters=1)


def test_bucket_pair_kernel_matches_catalyst_reference(spark):
    """The mapInPandas pair-expansion kernel must agree exactly with
    the pure-Catalyst reference (same pairs, same co-occurrence
    counts), with and without the bucket cap."""
    from pyspark.sql import functions as SF

    from heavy_hitters_spark.functions.dedup import (
        _bucket_pairs_all,
        _bucket_pairs_all_kernel,
    )

    g = np.random.default_rng(11)
    rows = [(int(g.integers(0, 200)), int(i)) for i in range(3000)]
    rows += [(777, 10_000 + j) for j in range(60)]  # one hot bucket
    keyed = spark.createDataFrame(rows, "h long, doc_id long").distinct()
    for cap in (None, 30):
        ref = (
            _bucket_pairs_all(keyed, "h", "doc_id", max_bucket_size=cap)
            .groupBy("doc_a", "doc_b").agg(SF.count("*").alias("c")).collect()
        )
        got = (
            _bucket_pairs_all_kernel(keyed, "h", "doc_id", max_bucket_size=cap)
            .groupBy("doc_a", "doc_b").agg(SF.sum("cnt").alias("c")).collect()
        )
        assert {(r["doc_a"], r["doc_b"], r["c"]) for r in ref} == \
               {(r["doc_a"], r["doc_b"], r["c"]) for r in got}
        assert len(got) > 0


def test_pairs_by_size_drops_self_pairs_on_duplicate_rows():
    """Duplicate (bucket, id) input rows must not produce doc_a ==
    doc_b self-pairs: the kernel's contract is STRICT doc_a < doc_b,
    matching the Catalyst reference (_bucket_pairs_all)."""
    from heavy_hitters_spark.functions.dedup import _pairs_by_size

    key = np.array([1, 1, 1, 2, 2], dtype=np.int64)
    ids = np.array([10, 10, 11, 7, 7], dtype=np.int64)  # dup (1,10), (2,7)
    a, b = _pairs_by_size(key, ids, None)
    assert (a < b).all()
    # bucket 1 still yields the real pair twice? no — (10,10) dropped,
    # (10,11) kept twice (two positional combinations with the dup row)
    assert set(zip(a.tolist(), b.tolist())) == {(10, 11)}
    # bucket 2 was only the duplicated id -> nothing survives
    assert len(a) == 2


def test_lsh_band_pack_injective_for_many_bands(spark):
    """bands > 32 overflowed the old fixed 5-bit band pack, merging
    unrelated (band, bh) buckets. The dynamic shift keeps the pack
    injective: two docs with DISJOINT shingle sets must produce no
    candidate pair even at bands=64 (their band hashes only collide
    with probability ~2^-58)."""
    from heavy_hitters_spark.functions.dedup import lsh_candidates

    rows = [(1, "aa bb cc dd ee ff gg hh"), (2, "zz yy xx ww vv uu tt ss"),
            (3, "aa bb cc dd ee ff gg hh")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cand = lsh_candidates(df, n_hashes=128, bands=64, shingle_n=3)
    got = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    assert got == {(1, 3)}


def test_simhash_bucket_cap_skips_hot_bucket(spark):
    """max_bucket_size on the simhash path: a degenerate chunk bucket
    (here: many identical short docs, all-equal simhash) must be
    skipped by the cap — pairs caught ONLY there disappear — while
    pairs with other agreeing chunks survive. cap=None keeps the exact
    pigeonhole recall guarantee."""
    from heavy_hitters_spark.functions.dedup import near_dup_pairs_simhash

    hot = [(i, "x") for i in range(20)]  # 20 identical docs -> one hot bucket per chunk
    base = "alpha beta gamma delta epsilon zeta".split()
    pair = [(100, " ".join(base)), (101, " ".join(base))]
    df = spark.createDataFrame(hot + pair, "doc_id long, text string")
    full = {(r["doc_a"], r["doc_b"])
            for r in near_dup_pairs_simhash(df, max_hamming=3).collect()}
    assert (100, 101) in full
    assert (0, 1) in full  # hot-bucket pairs present without the cap
    capped = {(r["doc_a"], r["doc_b"])
              for r in near_dup_pairs_simhash(df, max_hamming=3, max_bucket_size=10).collect()}
    assert (100, 101) in capped       # distinct-text pair survives the cap
    assert (0, 1) not in capped       # hot-bucket-only pairs dropped


def test_widen_narrow_scan_contract(spark):
    """_widen_narrow_scan: a scan narrower than the kernel width gets
    repartitioned up (the small-corpus case that serialized the per-doc
    kernels onto one task); an input already at/above the width is
    returned UNCHANGED — the scale no-op contract, so web-scale scans
    with data-determined splits never pay an extra shuffle."""
    from heavy_hitters_spark.functions.dedup import (
        _kernel_partitions,
        _widen_narrow_scan,
    )

    df = spark.createDataFrame([(i, "t") for i in range(100)], "doc_id long, text string")
    n_min = _kernel_partitions(df)
    narrow = df.coalesce(1)
    widened = _widen_narrow_scan(narrow)
    assert widened.rdd.getNumPartitions() == n_min
    wide = df.repartition(n_min + 3)
    assert _widen_narrow_scan(wide) is wide  # untouched, no added shuffle


def test_simhash_vectorized_equals_loop_form():
    """The library's one-pass simhash reduction (dedup._simhash_bits)
    must be bit-identical to the 64-pass shift+mask loop on the same
    hash vectors — including ties (2*pop == len, sign bit 0),
    single-token docs and docs of more than 2^16 tokens, one of them
    with per-bit counts past 2^16."""
    import numpy as np

    from heavy_hitters_spark.functions.dedup import _simhash_bits, splitmix64

    rng = np.random.RandomState(7)
    lens = [1, 2, 3, 17, 250, 4096, 70_000, 70_000]
    segs = [rng.randint(0, 2**63, size=m).astype(np.uint64) for m in lens[:-1]]
    segs.append(np.full(lens[-1], segs[0][0]))  # per-bit counts of 0 or 70,000
    flat = np.concatenate(segs)
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(np.array(lens[:-1]), out=starts[1:])
    lens_nz = np.array(lens, dtype=np.int64)
    hv = splitmix64(flat, 0x51AA)

    # loop form (reference)
    sh_ref = np.zeros(len(lens), dtype=np.uint64)
    one = np.uint64(1)
    for b in range(64):
        ones = ((hv >> np.uint64(b)) & one).astype(np.int64)
        pop = np.add.reduceat(ones, starts)
        sh_ref |= ((2 * pop > lens_nz).astype(np.uint64)) << np.uint64(b)

    assert np.array_equal(sh_ref, _simhash_bits(hv, starts, lens_nz))


def _driver_kernel_refs(txt, n_hashes=16, shingle_n=3):
    """Driver-side (minhash, simhash, fingerprint, lang_id) of one text
    through spark.keys.xxh64 and splitmix64, with the seeds of the
    library defaults. A null text is an empty token list, and its one
    MinHash shingle hashes as Spark's xxhash64(null), the seed 42."""
    from heavy_hitters_spark.core.hashing import splitmix64
    from heavy_hitters_spark.functions.text import LANG_MARKERS
    from heavy_hitters_spark.spark.keys import xxh64

    toks = txt.split(" ") if txt else []
    if txt is None:
        hv = np.array([42], dtype=np.uint64)
    else:
        grams = [" ".join(toks)] if len(toks) < shingle_n else {
            " ".join(toks[j : j + shingle_n]) for j in range(len(toks) - shingle_n + 1)
        }
        hv = np.array([xxh64(g.encode()) for g in grams], dtype=np.uint64)
    ab = splitmix64(np.arange(2 * n_hashes, dtype=np.uint64), 0x51A5)
    a, b = (ab[:n_hashes] | np.uint64(1))[:, None], ab[n_hashes:][:, None]
    with np.errstate(over="ignore"):
        mh = (a * hv[None, :] + b).min(axis=1).view(np.int64).tolist()
    th = np.array([xxh64(t.encode()) for t in toks], dtype=np.uint64)
    sh = 0
    if toks:
        bits = np.arange(64, dtype=np.uint64)
        ones = ((splitmix64(th, 0x51AA)[:, None] >> bits) & np.uint64(1)).astype(np.int64)
        v = (2 * ones - 1).sum(axis=0)
        sh = int(np.uint64(((v > 0).astype(np.uint64) << bits).sum(dtype=np.uint64)).view(np.int64))
    h, P = np.uint64(0xF1E5), np.uint64(1099511628211)
    with np.errstate(over="ignore"):
        for x in splitmix64(th, 0xF1E5):
            h = h * P + x
    scores = [sum(t in ms for t in (txt or "").lower().split(" ")) for ms in LANG_MARKERS.values()]
    best = max(range(len(scores)), key=lambda i: (scores[i], -i))
    lid = (list(LANG_MARKERS)[best], scores[best]) if scores[best] else ("und", 0)
    return mh, sh, int(h.view(np.int64)), lid


def test_kernel_edge_rows_small_batches(spark):
    """The per-row Arrow kernels on edge rows in 3-row batches (many
    short batches per task): null text, "", double spaces, docs shorter
    than shingle_n and a doc of more than 2^16 tokens match the
    driver-side references; the list-offset reader honours slices, null
    rows and large_list; ragged embedding rows raise ValueError."""
    import pyarrow as pa

    from heavy_hitters_spark.functions.dedup import _list_segments, minhash_col, simhash_col
    from heavy_hitters_spark.functions.similarity import _matrix, ivf_assign_col

    long_doc = " ".join(("der", "und", "the", f"w{i % 997}")[i % 4] for i in range(70_000))
    texts = [None, "", "x  y", "a b", "  the   the  ", long_doc, "single", None,
             "the quick brown fox jumps over the lazy dog", "la la la", "der hund und die katze"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string").repartition(2)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        got = {
            r["doc_id"]: [None, r["sh"], r["fp"]]
            for r in df.select(
                "doc_id", simhash_col("text").alias("sh"), fingerprint_col("text").alias("fp")
            ).collect()
        }
        for r in df.select("doc_id", minhash_col("text", n_hashes=16).alias("mh")).collect():
            got[r["doc_id"]][0] = r["mh"]
        lid = {r["doc_id"]: (r["pred_lang"], r["marker_hits"]) for r in lang_id(df).collect()}
        emb = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0]), (3, [1.0]), (4, [0.5, 0.5])],
            "vec_id long, embedding array<float>",
        )
        cells = emb.select(ivf_assign_col("embedding", np.eye(2)).alias("cell"))
        with pytest.raises(Exception) as err:
            cells.collect()
        assert "ValueError" in str(err.value)
    finally:
        spark.conf.set(conf, old)
    for i, txt in enumerate(texts):
        mh, sh, fp, ref_lid = _driver_kernel_refs(txt)
        assert got[i] == [mh, sh, fp], f"doc {i}"
        assert lid[i] == ref_lid, f"doc {i}"
    assert lid[5] == ("de", 35_000)

    # null rows backed by non-empty value spans, sliced, and large_list
    offsets, values = [0, 2, 4, 4, 5, 8, 10, 11], pa.array(range(1, 12), pa.int64())
    mask = pa.array([False, True, False, False, False, True, False])
    for arr in (pa.ListArray.from_arrays(offsets, values, mask=mask),
                pa.LargeListArray.from_arrays(offsets, values, mask=mask)):
        for part in (arr, arr.slice(1), arr.slice(3, 3)):
            rows = part.to_pylist()
            flat, starts, lens, nz = _list_segments(part)
            assert flat.tolist() == [x for r in rows if r for x in r]
            assert lens.tolist() == [len(r) for r in rows if r]
            assert starts.tolist() == np.r_[0, np.cumsum(lens)[:-1]].tolist()
            assert nz.tolist() == [bool(r) for r in rows]
    with pytest.raises(ValueError):
        _matrix(pa.array([[1.0, 2.0], [3.0]]), 2)
