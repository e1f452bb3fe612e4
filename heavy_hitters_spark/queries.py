"""User-facing query API (SURVEY.md §7 step 5).

Two families:

**Hybrid sketch→exact queries** (deterministic, oracle-checkable):
the sketch pass scans once and produces a SMALL candidate set with a
recall guarantee; a second exact pass rescopes counts exactly and
applies the exact threshold/top-k. Each decision of that shape is made
in one place:

- ``_exact_over`` is the one exact pass: the candidate ids broadcast-
  joined against the rows (or every row), grouped and aggregated.
- ``_mg_exact_topk`` is the one Misra-Gries top-k certificate: any key
  absent from the summary has true count <= ``mg.decrement``, so the
  candidate answer stands only while its k-th count is above it;
  otherwise the full exact plan runs. Counts or exact weight sums.
- ``_verified_heavy_users`` is the one phi-heavy-user verify over a
  hierarchy's ``query()`` candidates.
- ``_exact_quantiles`` is the one exact-quantile pass: sketch windows
  prune, ``_exact_quantiles_windowed`` certifies once and bisects what
  the certificate leaves open.

Each query reads each table once and reuses the DataFrame for both
passes. At 100 TB this is the production shape: pass 1 is map-side-only
(fixed-size states, no shuffle of raw updates), pass 2 shuffles only
candidate-key rows.

A query runs a Spark job only to scan, build a sketch or aggregate.
Rows the driver already holds are sorted in Python (``_sorted_frame``,
the certificate's per-value counts), never through a Spark sort, and a
failed quantile certificate goes straight to bisection.

**Sketch-estimate queries** (approximate, bounds-checked in tests):
point frequency, HLL distinct, KLL quantiles, dyadic range counts, L2
norm — where the estimate itself is the product.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .core import HLL, KLL, CountMin, CountSketch, MisraGries, SeedStream, TDigest
from .hh import DyadicHH
from .spark import build_sketch, hosts, key_id, key_id_col, tokens
from .spark.fused import build_token_sketch
from .spark.keys import MASK32

_QS = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


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


def _token_ids(docs: DataFrame) -> DataFrame:
    return tokens(docs).withColumn("id", key_id_col("token"))


def _with_user_id(ev: DataFrame) -> DataFrame:
    """``ev`` plus the uint32 item id ``id`` of its ``user_id`` (the
    hierarchy universe of every user query)."""
    return ev.withColumn("id", F.col("user_id").bitwiseAND(F.lit(MASK32)))


def _events_value_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events value grid every quantile query reads: one integer
    column ``v`` = value*100, truncated toward zero (matching
    CAST(trunc(value*100) AS BIGINT) in SQL)."""
    return _events(spark, sf_dir).select((F.col("value") * 100).cast("long").alias("v"))


def _user_hierarchy(phi: float, cls=DyadicHH, **kw):
    """The user-id hierarchy template (``DyadicHH`` or
    ``ConstSketchHH``): epsilon = phi/2 and delta 0.05 over the 32-bit
    universe, fixed seeds; ``kw`` overrides the class defaults."""
    return cls(
        phi=phi, epsilon=phi / 2, delta=0.05, m=MASK32,
        seed_stream=SeedStream(1234, 5678), **kw,
    )


# ----------------------------------------------------------------------
# hybrid sketch -> exact
# ----------------------------------------------------------------------


def _sorted_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """The answer frame of rows the driver already holds, sorted in
    Python by their leading column (unique in every caller): a local
    relation that no Spark job sorts."""
    return spark.createDataFrame(sorted(rows), schema)


def _exact_over(rows: DataFrame, cand: list[int] | None, key_col: str, agg: Column) -> DataFrame:
    """The exact pass of every hybrid query: ``rows`` restricted to the
    candidate ids ``cand`` (a broadcast join on ``id``; ``None`` keeps
    every row), grouped by ``key_col`` and aggregated with ``agg``."""
    if cand is not None:
        cand_df = rows.sparkSession.createDataFrame([(c,) for c in cand], "id long")
        rows = rows.join(F.broadcast(cand_df), "id")
    return rows.groupBy(key_col).agg(agg)


def _mg_exact_topk(
    ids: DataFrame, mg: MisraGries, key_col: str, k: int, weight_col: str | None = None
) -> DataFrame:
    """Exact top-k from an MG candidate pass, with a SOUND certificate.
    Ranks by ``count`` (reported as ``freq``), or with ``weight_col``
    by the exact ``sum`` of it (reported as ``weight``).

    Any key absent from the MG summary has true count <= mg.decrement
    (the exactly-tracked cumulative subtraction, maintained through
    merges). So if the exact k-th candidate count is > decrement, no
    absent key can belong to the top-k and the hybrid answer IS the
    all-exact answer; otherwise fall back to the full exact plan.
    (A len(candidates)-based gate is unsound: _shrink can drop counters
    below k while decrement > 0 on tie-heavy data.)"""
    name, agg = ("freq", F.count("*")) if weight_col is None else ("weight", F.sum(weight_col))

    def top(cand: list[int] | None) -> DataFrame:
        exact = _exact_over(ids, cand, key_col, agg.alias(name))
        return exact.orderBy(F.desc(name), F.asc(key_col)).limit(k)

    cand = [int(i) for i, _ in mg.candidates()]
    if not cand:
        return top(None)
    exact = top(cand)
    rows = exact.collect()
    kth = rows[-1][name] if len(rows) >= k else 0
    return top(None) if kth <= mg.decrement else exact


def topk_tokens(spark: SparkSession, sf_dir: str, k: int = 20, kc: int = 4096) -> DataFrame:
    """Exact top-k tokens via Misra-Gries candidates + exact rescoring.

    The MG pass runs on the FUSED build path (spark/fused.py: one Arrow
    row per document, tokenize + count in Arrow C) — ~250x less
    JVM->Python transfer than exploding tokens into partial_states.
    The exact rescoring pass is pure Catalyst (explode + broadcast join
    + groupBy) over the same documents read."""
    docs = _docs(spark, sf_dir)
    mg, _ = build_token_sketch(docs, MisraGries(k=kc))
    return _mg_exact_topk(_token_ids(docs), mg, "token", k)


def phi_heavy_tokens(spark: SparkSession, sf_dir: str, phi: float = 0.02) -> DataFrame:
    """All tokens with freq >= phi*L1, exact counts. MG candidate pass
    on the fused build path + exact verify; precision errors are
    filtered exactly. Recall certificate: any token absent from the MG
    summary has true count <= mg.decrement; if decrement < phi*L1 the
    candidate set provably contains every phi-heavy token (kc is chosen
    so the worst-case bound L1/(kc+1) < phi*L1 already, but the witness
    is checked, not assumed; on failure every token is verified)."""
    kc = max(4096, int(math.ceil(2.0 / phi)))
    docs = _docs(spark, sf_dir)
    mg, _ = build_token_sketch(docs, MisraGries(k=kc))
    total = mg.norm  # exact L1 (MG tracks it exactly)
    cand = None if mg.decrement >= phi * total else [int(i) for i, _ in mg.candidates()]
    return (
        _exact_over(_token_ids(docs), cand, "token", F.count("*").alias("freq"))
        .where(F.col("freq") >= phi * total)
        .orderBy(F.asc("token"))
    )


def _verified_heavy_users(ev: DataFrame, hh, weight_col: str | None = None) -> DataFrame:
    """The candidate-to-verify path of every phi-heavy-user query: build
    the hierarchy template ``hh`` over ``ev``'s ``id`` column and keep
    the ``query()`` candidates' user_ids whose exact count (``freq``;
    with ``weight_col``, the net sum ``net_freq``) reaches ``phi * L1``."""
    name, agg = ("freq", F.count("*")) if weight_col is None else ("net_freq", F.sum(weight_col))
    merged, _ = build_sketch(ev, hh, id_col="id", weight_col=weight_col)
    cand = [int(i) for i, _ in merged.query()]
    return (
        _exact_over(ev, cand, "user_id", agg.alias(name))
        .where(F.col(name) >= merged.phi * merged.norm)
        .orderBy(F.asc("user_id"))
    )


def phi_heavy_users(spark: SparkSession, sf_dir: str, phi: float = 0.005) -> DataFrame:
    """phi-heavy-hitter user_ids over events, via the hierarchical
    dyadic structure (reference semantics: recall of everything >=
    phi*L1 guaranteed) + exact verification pass."""
    return _verified_heavy_users(_with_user_id(_events(spark, sf_dir)), _user_hierarchy(phi))


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
    hosts_df = hosts(_docs_urls(spark, sf_dir)).withColumn("id", key_id_col("host"))
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
    return _sorted_frame(
        spark, [(t, int(e)) for t, e in zip(probe_tokens, est)], "token string, est_freq long"
    )


def distinct_tokens_hll(spark: SparkSession, sf_dir: str, p: int = 14) -> DataFrame:
    hll, _ = build_token_sketch(_docs(spark, sf_dir), HLL(p=p))
    return spark.createDataFrame([(float(hll.estimate()),)], "distinct_est double")


def quantiles_events_value(spark: SparkSession, sf_dir: str, qs: list[float] | None = None) -> DataFrame:
    """KLL quantile estimates over events.value (values scaled to int
    ids for transport; KLL itself consumes doubles)."""
    qs = qs or _QS
    kll, _ = build_sketch(_events_value_grid(spark, sf_dir), KLL(k=256), id_col="v")
    est = kll.quantile(qs) / 100.0
    return _sorted_frame(
        spark, [(float(q), float(v)) for q, v in zip(qs, est)], "q double, value_est double"
    )


def range_count_users(spark: SparkSession, sf_dir: str, lo: int = 10, hi: int = 59) -> DataFrame:
    """Dyadic range-count estimate of events with user_id in [lo, hi]
    (O(k log m) point queries on the level sketches — the scalable form
    of the reference's naive range_sum, count_min.c:147-156)."""
    ev = _with_user_id(_events(spark, sf_dir))
    merged, _ = build_sketch(ev, _user_hierarchy(0.01), id_col="id")
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
    in_win = sorted(
        (int(r["v"]), int(r["c"]))
        for r in vals.where(cond).groupBy("v").agg(F.count("*").alias("c")).collect()
    )
    out: list[int | None] = []
    for i, (q, (lo, hi)) in enumerate(zip(qs, windows)):
        r = max(1, math.ceil(q * n_total))  # 1-based target rank
        cum = int(below_row[f"b{i}"])
        ans = None
        if cum < r:
            for v, c in in_win:
                if lo <= v <= hi:
                    cum += c
                    if cum >= r:
                        ans = v
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
    vals: DataFrame, qs: list[float], windows: list[tuple[int, int]]
) -> list[int]:
    """Exact q-quantiles of an integer column ``v`` given per-q value
    windows from a sketch. The windows only PRUNE — the result never
    depends on the sketch's accuracy:

    1. one certification pass resolves each q inside its window (the
       normal path);
    2. a q whose certificate fails goes to ``_bisect_ranks``: one
       conditional agg per round, O(#qs) driver state.

    Nothing on this path ever collects the full distinct-value set."""
    out, n_total = _certify_windows(vals, qs, windows)
    missing = [i for i, a in enumerate(out) if a is None]
    if missing:
        ranks = [max(1, math.ceil(qs[i] * n_total)) for i in missing]
        for i, v in zip(missing, _bisect_ranks(vals, ranks)):
            out[i] = v
    return out


def _exact_quantiles(
    spark: SparkSession, sf_dir: str, template, qs: list[float] | None, pad: float
) -> DataFrame:
    """EXACT quantiles of the events value grid, pruned by a quantile
    sketch (``template``, KLL or t-digest): the sketch proposes a value
    window per q (quantile(q +- pad)), the exact passes certify +
    resolve inside it (``_exact_quantiles_windowed``: bisection when the
    certificate fails)."""
    qs = qs or _QS
    vals = _events_value_grid(spark, sf_dir)
    sk, _ = build_sketch(vals, template, id_col="v")
    lo = sk.quantile([max(0.0, q - pad) for q in qs])
    hi = sk.quantile([min(1.0, q + pad) for q in qs])
    windows = [(int(math.floor(a)) - 1, int(math.ceil(b)) + 1) for a, b in zip(lo, hi)]
    exact = _exact_quantiles_windowed(vals, qs, windows)
    return _sorted_frame(
        spark, [(float(q), round(v / 100.0, 6)) for q, v in zip(qs, exact)],
        "q double, value_est double",
    )


def quantiles_events_value_exact(
    spark: SparkSession, sf_dir: str, qs: list[float] | None = None, pad: float = 0.02
) -> DataFrame:
    """EXACT quantiles via KLL pruning (``_exact_quantiles``). Same
    hybrid shape as topk_tokens: sketch for candidate pruning, Catalyst
    for the exact answer."""
    return _exact_quantiles(spark, sf_dir, KLL(k=256), qs, pad)


def quantiles_events_value_exact_tdigest(
    spark: SparkSession, sf_dir: str, qs: list[float] | None = None, pad: float = 0.05
) -> DataFrame:
    """Same hybrid exact-quantile query with t-digest as the pruning
    sketch; the certificate + fallback make the answer exact regardless
    of digest accuracy."""
    return _exact_quantiles(spark, sf_dir, TDigest(200), qs, pad)


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

    docs = _docs(spark, sf_dir)
    state = tempfile.mkdtemp(prefix="hh_stream_state_")
    ckpt = tempfile.mkdtemp(prefix="hh_stream_ckpt_")
    try:
        # the file-stream source requires a DIRECTORY; the testdata
        # tables are single files, so stream the dir with a glob filter
        stream = (
            spark.readStream.schema(docs.schema)
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
    return _mg_exact_topk(_token_ids(docs), mg, "token", k)


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
        stream = (
            spark.readStream.schema(_events(spark, sf_dir).schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        ev = _with_user_id(stream)
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
            .collect()
        )
    finally:
        shutil.rmtree(state, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return _sorted_frame(
        spark, [(int(r["window_epoch"]), int(r["n_events"])) for r in rows],
        "window_epoch long, n_events long",
    )
