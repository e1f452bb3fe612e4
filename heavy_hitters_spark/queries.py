"""User-facing query API (SURVEY.md §7 step 5).

Two families:

**Hybrid sketch→exact queries** (deterministic, oracle-checkable):
the sketch pass scans once and produces a SMALL candidate set with a
recall guarantee; a second exact pass — filtered to candidates via a
broadcast join — rescopes counts exactly and applies the exact
threshold/top-k. The output equals the all-exact answer whenever the
sketch's recall certificate holds, and each function *checks* the
certificate and falls back to the exact plan if it doesn't. At 100 TB
this is the production shape: pass 1 is map-side-only (fixed-size
states, no shuffle of raw updates), pass 2 shuffles only candidate-key
rows.

**Sketch-estimate queries** (approximate, bounds-checked in tests):
point frequency, HLL distinct, KLL quantiles, dyadic range counts, L2
norm — where the estimate itself is the product.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core import HLL, KLL, CountMin, CountSketch, MisraGries, SeedStream
from .hh import DyadicHH
from .spark import build_sketch, key_id, key_id_col, tokens
from .spark.fused import build_token_sketch
from .spark.keys import MASK32


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT widened (round-6 measurement): the fused tokenize->sketch
    # kernels cost well under a second at bench scale, and widening
    # (repartition shuffle + 16x more partial states to fold + an extra
    # plan analysis per action) measured NET WORSE on every consumer
    # (topk_tokens 1.4 -> 2.1 s, point_freq_cm 0.8 -> 1.2 s at sf1.0).
    # Widening pays only for the CPU-heavy text kernels (shingle pair
    # expansion, lang_id, fingerprints), which widen internally.
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # not widened — same round-6 measurement as _docs (sketch updates
    # over 1M event ids are sub-second; the widen overhead nets worse:
    # quantiles_*_exact 1.6 -> 6.3 s, phi_heavy_users 0.8 -> 2.0 s),
    # plus quantiles_events_value's RAW KLL estimate is order-sensitive
    # state whose declared output must stay bit-identical anyway
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tokens(_docs(spark, sf_dir)).withColumn("id", key_id_col("token"))


# ----------------------------------------------------------------------
# hybrid sketch -> exact
# ----------------------------------------------------------------------


def _mg_exact_topk(
    ids: DataFrame, mg: MisraGries, key_col: str, k: int
) -> DataFrame:
    """Exact top-k from an MG candidate pass, with a SOUND certificate.

    Any key absent from the MG summary has true count <= mg.decrement
    (the exactly-tracked cumulative subtraction, maintained through
    merges). So if the exact k-th candidate count is > decrement, no
    absent key can belong to the top-k and the hybrid answer IS the
    all-exact answer; otherwise fall back to the full exact plan.
    (A len(candidates)-based gate is unsound: _shrink can drop counters
    below k while decrement > 0 on tie-heavy data.)"""
    spark = ids.sparkSession
    cand = [int(i) for i, _ in mg.candidates()]

    def full_exact() -> DataFrame:
        return (
            ids.groupBy(key_col)
            .agg(F.count("*").alias("freq"))
            .orderBy(F.desc("freq"), F.asc(key_col))
            .limit(k)
        )

    if not cand:
        return full_exact()
    cand_df = spark.createDataFrame([(c,) for c in cand], "id long")
    exact = (
        ids.join(F.broadcast(cand_df), "id")
        .groupBy(key_col)
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc(key_col))
        .limit(k)
    )
    rows = exact.collect()
    kth = rows[-1]["freq"] if len(rows) >= k else 0
    if kth <= mg.decrement:
        return full_exact()
    return exact


def topk_tokens(spark: SparkSession, sf_dir: str, k: int = 20, kc: int = 4096) -> DataFrame:
    """Exact top-k tokens via Misra-Gries candidates + exact rescoring.

    The MG pass runs on the FUSED build path (spark/fused.py: one Arrow
    row per document, tokenize/dictionary-encode in Arrow C) — ~250x
    less JVM->Python transfer than exploding tokens into partial_states.
    The exact rescoring pass is pure Catalyst (explode + broadcast join
    + groupBy)."""
    mg, _ = build_token_sketch(_docs(spark, sf_dir), MisraGries(k=kc))
    return _mg_exact_topk(_token_ids(spark, sf_dir), mg, "token", k)


def phi_heavy_tokens(spark: SparkSession, sf_dir: str, phi: float = 0.02) -> DataFrame:
    """All tokens with freq >= phi*L1, exact counts. MG candidate pass
    on the fused build path + exact verify; precision errors are
    filtered exactly. Recall certificate: any token absent from the MG
    summary has true count <= mg.decrement; if decrement < phi*L1 the
    candidate set provably contains every phi-heavy token (kc is chosen
    so the worst-case bound L1/(kc+1) < phi*L1 already, but the witness
    is checked, not assumed)."""
    kc = max(4096, int(math.ceil(2.0 / phi)))
    mg, _ = build_token_sketch(_docs(spark, sf_dir), MisraGries(k=kc))
    ids = _token_ids(spark, sf_dir)
    total = mg.norm  # exact L1 (MG tracks it exactly)
    if mg.decrement >= phi * total:
        # certificate failed (cannot happen for kc >= 2/phi; belt+braces)
        return (
            ids.groupBy("token")
            .agg(F.count("*").alias("freq"))
            .where(F.col("freq") >= phi * total)
            .orderBy(F.asc("token"))
        )
    cand = [int(i) for i, _ in mg.candidates()]
    cand_df = spark.createDataFrame([(c,) for c in cand], "id long")
    return (
        ids.join(F.broadcast(cand_df), "id")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .where(F.col("freq") >= phi * total)
        .orderBy(F.asc("token"))
    )


def phi_heavy_users(spark: SparkSession, sf_dir: str, phi: float = 0.005) -> DataFrame:
    """phi-heavy-hitter user_ids over events, via the hierarchical
    dyadic structure (reference semantics: recall of everything >=
    phi*L1 guaranteed) + exact verification pass."""
    ev = _events(spark, sf_dir).withColumn("id", F.col("user_id").bitwiseAND(F.lit(MASK32)))
    hh = DyadicHH(
        phi=phi, epsilon=phi / 2, delta=0.05, m=MASK32, gran=8,
        seed_stream=SeedStream(1234, 5678),
    )
    merged, _ = build_sketch(ev, hh, id_col="id")
    cand = [int(i) for i, _ in merged.query()]
    if not cand:
        return spark.createDataFrame([], "user_id long, freq long")
    cand_df = spark.createDataFrame([(c,) for c in cand], "id long")
    total = merged.norm
    return (
        ev.join(F.broadcast(cand_df), "id")
        .groupBy("user_id")
        .agg(F.count("*").alias("freq"))
        .where(F.col("freq") >= phi * total)
        .orderBy(F.asc("user_id"))
    )


def topk_event_types(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn("id", key_id_col("event_type"))
    mg, _ = build_sketch(ev, MisraGries(k=256), id_col="id")
    return _mg_exact_topk(ev, mg, "event_type", k)


def _docs_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Common-Crawl-style URL per document, derived from
    existing columns (the testdata documents table carries no url; the
    reference's per-host HH story — precision_hh.c:543,597 — needs one).
    Same construction is mirrored in the DuckDB oracle SQL."""
    docs = _docs(spark, sf_dir)
    host = F.concat_ws(".", F.col("source"), F.col("lang"), F.lit("example.com"))
    return docs.select(
        "doc_id",
        F.concat(F.lit("https://"), host, F.lit("/p"), (F.col("n_chars") % 50).cast("string")).alias("url"),
    )


def topk_urls(spark: SparkSession, sf_dir: str, k: int = 20, kc: int = 4096) -> DataFrame:
    """Exact top-k URLs: MG candidates over url ids + exact rescoring
    (reference's per-key HH semantics on the URL key)."""
    urls = _docs_urls(spark, sf_dir).withColumn("id", key_id_col("url"))
    mg, _ = build_sketch(urls, MisraGries(k=kc), id_col="id")
    return _mg_exact_topk(urls, mg, "url", k)


def topk_hosts(spark: SparkSession, sf_dir: str, k: int = 10, kc: int = 4096) -> DataFrame:
    """Exact top-k hosts (parse_url(url,'HOST') — JVM-side) via MG
    candidates + exact rescoring; the reference's whole NUST/DARPA input
    path is per-host/IP heavy hitters (precision_hh.c:543,597)."""
    hosts_df = _docs_urls(spark, sf_dir).select(
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host")
    ).withColumn("id", key_id_col("host"))
    mg, _ = build_sketch(hosts_df, MisraGries(k=kc), id_col="id")
    return _mg_exact_topk(hosts_df, mg, "host", k)


# ----------------------------------------------------------------------
# sketch-estimate queries (approximate by design)
# ----------------------------------------------------------------------


def point_freq_tokens(spark: SparkSession, sf_dir: str, probe_tokens: list[str] | None = None) -> DataFrame:
    """Count-Min point-frequency estimates for probe tokens (>= exact,
    within eps*L1 w.p. 1-delta). Fused one-row-per-doc build."""
    probe_tokens = probe_tokens or ["the", "a", "value", "table", "spark"]
    cm_t = CountMin(width=1 << 18, depth=5, hash_family="ms", seed_stream=SeedStream(1234, 5678))
    cm, _ = build_token_sketch(_docs(spark, sf_dir), cm_t)
    est = cm.point(np.array([key_id(t) for t in probe_tokens], dtype=np.uint64))
    return spark.createDataFrame(
        [(t, int(e)) for t, e in zip(probe_tokens, est)], "token string, est_freq long"
    ).orderBy("token")


def distinct_tokens_hll(spark: SparkSession, sf_dir: str, p: int = 14) -> DataFrame:
    hll, _ = build_token_sketch(_docs(spark, sf_dir), HLL(p=p))
    return spark.createDataFrame([(float(hll.estimate()),)], "distinct_est double")


def quantiles_events_value(spark: SparkSession, sf_dir: str, qs: list[float] | None = None) -> DataFrame:
    """KLL quantile estimates over events.value (values scaled to int
    ids for transport; KLL itself consumes doubles)."""
    qs = qs or [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    ev = _events(spark, sf_dir).select((F.col("value") * 100).cast("long").alias("id"))
    kll, _ = build_sketch(ev, KLL(k=256), id_col="id")
    est = kll.quantile(qs) / 100.0
    return spark.createDataFrame(
        [(float(q), float(v)) for q, v in zip(qs, est)], "q double, value_est double"
    ).orderBy("q")


def range_count_users(spark: SparkSession, sf_dir: str, lo: int = 10, hi: int = 59) -> DataFrame:
    """Dyadic range-count estimate of events with user_id in [lo, hi]
    (O(k log m) point queries on the level sketches — the scalable form
    of the reference's naive range_sum, count_min.c:147-156)."""
    ev = _events(spark, sf_dir).withColumn("id", F.col("user_id").bitwiseAND(F.lit(MASK32)))
    hh = DyadicHH(phi=0.01, epsilon=0.005, delta=0.05, m=MASK32, gran=8,
                  seed_stream=SeedStream(1234, 5678))
    merged, _ = build_sketch(ev, hh, id_col="id")
    return spark.createDataFrame(
        [(lo, hi, int(merged.range_count(lo, hi)))], "lo long, hi long, range_est long"
    )


def l2_norm_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS L2-norm estimate of the token frequency vector from a merged
    Count-Sketch (reference: src/norm/l2-sketch.c, computed associatively).
    Fused one-row-per-doc build."""
    cs_t = CountSketch(width=1 << 14, depth=7, hash_family="ms", seed_stream=SeedStream(1234, 5678))
    cs, _ = build_token_sketch(_docs(spark, sf_dir), cs_t)
    return spark.createDataFrame([(float(cs.l2_norm()), int(cs.norm))], "l2_est double, l1 long")


# ----------------------------------------------------------------------
# hybrid sketch -> exact quantiles
# ----------------------------------------------------------------------


def _certify_windows(
    vals: DataFrame, qs: list[float], windows: list[tuple[int, int]]
) -> tuple[list[int | None], int]:
    """One certification pass: per-q answer where the window's exact
    certificate holds (count below window < target rank <= count
    through window), None where it fails. ONE conditional-aggregate
    scan for the below-window counts + ONE filtered groupBy over the
    union of (narrow) windows; both Catalyst with pushed range
    predicates."""
    below_aggs = [
        F.sum(F.when(F.col("v") < int(lo), 1).otherwise(0)).alias(f"b{i}")
        for i, (lo, _) in enumerate(windows)
    ] + [F.count("*").alias("n")]
    below_row = vals.agg(*below_aggs).collect()[0]
    n_total = int(below_row["n"])
    cond = None
    for lo, hi in windows:
        c = (F.col("v") >= int(lo)) & (F.col("v") <= int(hi))
        cond = c if cond is None else (cond | c)
    in_win = (
        vals.where(cond).groupBy("v").agg(F.count("*").alias("c")).orderBy("v").collect()
    )
    out: list[int | None] = []
    for i, (q, (lo, hi)) in enumerate(zip(qs, windows)):
        r = max(1, math.ceil(q * n_total))  # 1-based target rank
        cum = int(below_row[f"b{i}"])
        ans = None
        if cum < r:
            for row in in_win:
                if lo <= row["v"] <= hi:
                    cum += row["c"]
                    if cum >= r:
                        ans = int(row["v"])
                        break
        out.append(ans)
    return out, n_total


def _bisect_ranks(vals: DataFrame, ranks: list[int]) -> list[int]:
    """Exact value-at-rank via distributed bisection: each round issues
    ONE conditional-aggregate scan computing count(v <= mid) for every
    unresolved rank. Driver state is O(#ranks) counters — never a
    distinct-value collect — so this terminal fallback stays bounded on
    arbitrary (even adversarial) value distributions. Rounds <=
    log2(value range)."""
    row = vals.agg(
        F.min("v").alias("mn"), F.max("v").alias("mx"), F.count("*").alias("n")
    ).collect()[0]
    if int(row["n"]) == 0:
        raise ValueError("cannot resolve ranks on an empty value column")
    mn, mx = int(row["mn"]), int(row["mx"])
    # invariant per rank r: count(v <= lo) < r <= count(v <= hi)
    los = [mn - 1] * len(ranks)
    his = [mx] * len(ranks)
    while True:
        open_idx = [i for i in range(len(ranks)) if los[i] + 1 < his[i]]
        if not open_idx:
            break
        mids = {i: (los[i] + his[i]) // 2 for i in open_idx}
        aggs = [
            F.sum(F.when(F.col("v") <= int(m), 1).otherwise(0)).alias(f"c{i}")
            for i, m in mids.items()
        ]
        crow = vals.agg(*aggs).collect()[0]
        for i, m in mids.items():
            if int(crow[f"c{i}"]) >= ranks[i]:
                his[i] = m
            else:
                los[i] = m
    return his


def _exact_quantiles_windowed(
    vals: DataFrame,
    qs: list[float],
    windows: list[tuple[int, int]],
    rewindow=None,
    max_rewindows: int = 4,
) -> list[int]:
    """Exact q-quantiles of an integer column ``v`` given per-q value
    windows from a sketch. The windows only PRUNE — the result never
    depends on the sketch's accuracy. Bounded fallback chain:

    1. certify + resolve inside the given windows (the normal path);
    2. on any failed certificate, ``rewindow(attempt)`` proposes wider
       windows (the callers double the sketch pad) — up to
       ``max_rewindows`` rounds, certified each time;
    3. still-unresolved quantiles fall through to ``_bisect_ranks``:
       one conditional agg per round, O(#qs) driver state.

    Nothing on this path ever collects the full distinct-value set (the
    previous fallback's unbounded driver materialization — a 100x OOM
    on high-cardinality grids)."""
    out, n_total = _certify_windows(vals, qs, windows)
    attempt = 0
    while any(a is None for a in out) and rewindow is not None and attempt < max_rewindows:
        attempt += 1
        wider = rewindow(attempt)
        redo = [i for i, a in enumerate(out) if a is None]
        sub, _ = _certify_windows(
            vals, [qs[i] for i in redo], [wider[i] for i in redo]
        )
        for i, a in zip(redo, sub):
            out[i] = a
    missing = [i for i, a in enumerate(out) if a is None]
    if missing:
        ranks = [max(1, math.ceil(qs[i] * n_total)) for i in missing]
        resolved = _bisect_ranks(vals, ranks)
        for i, v in zip(missing, resolved):
            out[i] = v
    return out


def _events_value_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # trunc toward zero, matching CAST(trunc(value*100) AS BIGINT) in SQL
    return _events(spark, sf_dir).select((F.col("value") * 100).cast("long").alias("v"))


def quantiles_events_value_exact(
    spark: SparkSession, sf_dir: str, qs: list[float] | None = None, pad: float = 0.02
) -> DataFrame:
    """EXACT quantiles via KLL pruning: the sketch proposes a value
    window per q (quantile(q +- pad)), the exact passes certify + resolve
    inside it (fallback to full exact when the certificate fails). Same
    hybrid shape as topk_tokens: sketch for candidate pruning, Catalyst
    for the exact answer."""
    qs = qs or [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    vals = _events_value_grid(spark, sf_dir)
    kll, _ = build_sketch(vals, KLL(k=256), id_col="v")

    def make_windows(p: float) -> list[tuple[int, int]]:
        out = []
        for q in qs:
            lo = kll.quantile(max(0.0, q - p))[0]
            hi = kll.quantile(min(1.0, q + p))[0]
            out.append((int(math.floor(lo)) - 1, int(math.ceil(hi)) + 1))
        return out

    # pad=0 would regenerate identical windows every retry round, so
    # rewindow doubles from a floor pad instead
    base_pad = max(pad, 0.005)
    exact = _exact_quantiles_windowed(
        vals, qs, make_windows(pad),
        rewindow=lambda attempt: make_windows(base_pad * (2 ** attempt)),
    )
    return spark.createDataFrame(
        [(float(q), round(v / 100.0, 6)) for q, v in zip(qs, exact)],
        "q double, value_est double",
    ).orderBy("q")


def topk_tokens_stream(spark: SparkSession, sf_dir: str, k: int = 20, kc: int = 4096) -> DataFrame:
    """topk_tokens answered through STRUCTURED STREAMING end-to-end:
    readStream over the documents parquet -> foreachBatch sketch sink
    (durable per-batch partial states, exactly-once by batch_id
    overwrite) -> tree-merged MisraGries -> the same exact rescoring
    pass as the batch query. Deterministically equal to the batch
    answer (same oracle): the streaming layer only changes HOW the
    sketch pass is driven, never the stream contents. availableNow
    drains the 'stream' to completion, the finite-replayable analog of
    the reference's stream.c input."""
    import shutil
    import tempfile

    from .streaming.sketch_stream import merged_sketch, token_sketch_sink

    state = tempfile.mkdtemp(prefix="hh_stream_state_")
    ckpt = tempfile.mkdtemp(prefix="hh_stream_ckpt_")
    try:
        sch = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        # the file-stream source requires a DIRECTORY; the testdata
        # tables are single files, so stream the dir with a glob filter
        stream = (
            spark.readStream.schema(sch)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
        # fused sink (round 6): text rows stream straight into the
        # one-row-per-doc tokenize->sketch kernel — no per-token explode
        # in the micro-batch; candidate MG + the exact rescoring below
        # keep the output the certified exact top-k either way
        q = token_sketch_sink(stream.select("text"), MisraGries(k=kc), state, ckpt)
        q.awaitTermination()
        mg = merged_sketch(spark, state)
    finally:
        shutil.rmtree(state, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return _mg_exact_topk(_token_ids(spark, sf_dir), mg, "token", k)


def windowed_event_counts_stream(
    spark: SparkSession, sf_dir: str, window: str = "1 day"
) -> DataFrame:
    """Event-time tumbling windows through the WINDOWED streaming sink:
    one sketch state per (window, partition) per micro-batch, built in a
    single map-side pass; late rows merge into their window without
    watermark finalization. The gated output is the per-window exact
    event count (the partial states' n_updates — exact, linear, summed
    in Catalyst), so window ASSIGNMENT itself is what the oracle checks;
    window_start is reported as epoch seconds to keep the comparison
    timezone-representation-free."""
    import shutil
    import tempfile

    from .streaming.sketch_stream import windowed_sketch_sink

    state = tempfile.mkdtemp(prefix="hh_wstream_state_")
    ckpt = tempfile.mkdtemp(prefix="hh_wstream_ckpt_")
    try:
        sch = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        stream = (
            spark.readStream.schema(sch)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        ev = stream.select("ts", F.col("user_id").bitwiseAND(F.lit(MASK32)).alias("id"))
        tmpl = CountMin(width=1 << 12, depth=3, seed_stream=SeedStream(1234, 5678))
        q = windowed_sketch_sink(
            ev, tmpl, state, ckpt, ts_col="ts", window=window, id_col="id"
        )
        q.awaitTermination()
        rows = (
            spark.read.parquet(state)
            .groupBy("window_start")
            .agg(F.sum("n_updates").alias("n_events"))
            .select(
                F.col("window_start").cast("long").alias("window_epoch"),
                "n_events",
            )
            .orderBy("window_epoch")
            .collect()
        )
    finally:
        shutil.rmtree(state, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(
        [(int(r["window_epoch"]), int(r["n_events"])) for r in rows],
        "window_epoch long, n_events long",
    ).orderBy("window_epoch")


def quantiles_events_value_exact_tdigest(
    spark: SparkSession, sf_dir: str, qs: list[float] | None = None, pad: float = 0.05
) -> DataFrame:
    """Same hybrid exact-quantile query with t-digest as the pruning
    sketch (windows from quantile(q +- pad); certificate + fallback make
    the answer exact regardless of digest accuracy)."""
    from .core import TDigest

    qs = qs or [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    vals = _events_value_grid(spark, sf_dir)
    td, _ = build_sketch(vals, TDigest(200), id_col="v")

    def make_windows(p: float) -> list[tuple[int, int]]:
        out = []
        for q in qs:
            lo = td.quantile(max(0.0, q - p))[0]
            hi = td.quantile(min(1.0, q + p))[0]
            out.append((int(math.floor(lo)) - 1, int(math.ceil(hi)) + 1))
        return out

    # pad=0 would regenerate identical windows every retry round, so
    # rewindow doubles from a floor pad instead
    base_pad = max(pad, 0.005)
    exact = _exact_quantiles_windowed(
        vals, qs, make_windows(pad),
        rewindow=lambda attempt: make_windows(base_pad * (2 ** attempt)),
    )
    return spark.createDataFrame(
        [(float(q), round(v / 100.0, 6)) for q, v in zip(qs, exact)],
        "q double, value_est double",
    ).orderBy("q")
