"""Text-analysis operators for training-data pipelines (brief: language
ID, quality scoring, token counting, document fingerprinting). All hot
paths are stock Catalyst expressions (codegen, no Python) except the
language-ID marker count and the rolling-hash fingerprint: tokens are
hashed JVM-side and one ``arrow_udf`` per operator reduces each
document's hash array in numpy (``dedup._list_segments``), Arrow arrays
in and out.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..core.hashing import splitmix64

# small fixed stopword lists for the n-gram/heuristic language ID
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "une", "des", "que", "pour", "dans"],
    "es": ["el", "la", "los", "y", "es", "una", "que", "por", "con", "para"],
}

STOPWORDS = LANG_MARKERS["en"]

# a BPE-ish word/punct segmentation: word pieces, numbers, single punct
BPE_ISH_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def token_count_col(text: str | Column = "text") -> Column:
    """Whitespace token count (codegen'd)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(c, " "))


def bpe_ish_count_col(text: str | Column = "text") -> Column:
    """Regex-segmented (BPE-ish) token count."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def _marker_hits(tokens: Column, markers: list[str]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tokens, lambda t: F.array_contains(arr, t)))


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features: length, token stats, punct/stopword
    ratios — all JVM-side expressions."""
    toks = F.split(F.col(text_col), " ")
    n_tok = F.size(toks)
    return df.select(
        "doc_id",
        F.length(text_col).alias("n_chars_m"),
        n_tok.alias("n_tokens"),
        (F.length(text_col) / n_tok).alias("mean_token_len"),
        (
            F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", "")) / F.length(text_col)
        ).alias("punct_ratio"),
        (_marker_hits(toks, STOPWORDS) / n_tok).alias("stopword_ratio"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax over per-language marker-token hit
    counts, 'und' (undetermined) when no marker hits at all.

    Hot path (round 6): tokens are lowered + hashed JVM-side (codegen
    xxhash64), and ONE Arrow kernel counts the 4x10 marker memberships
    via sorted-search over the flattened hash vector plus a segmented
    sum per (doc, language) — replacing four chained higher-order
    ``filter(array_contains)`` passes and a nested when/struct argmax
    that executed ~40 interpreted string comparisons per token
    (measured at sf1.0: 51 s -> ~1 s). Tie-break is identical: first
    language in LANG_MARKERS order wins (np.argmax keeps the first
    maximum). Marker identity is 64-bit xxhash equality — the same
    hash-identity contract as the shingle/dedup operators (a non-marker
    token colliding with a marker hash at ~2^-64 would miscount)."""
    from pyspark.sql.functions import arrow_udf

    from ..spark.keys import xxh64
    from .dedup import _list_segments, _widen_narrow_scan, token_hashes_col

    langs = list(LANG_MARKERS)  # tie-break order
    marker_hashes = [
        np.sort(np.array([xxh64(m.encode()) for m in LANG_MARKERS[lg]], dtype=np.uint64))
        for lg in langs
    ]

    @arrow_udf("pred_lang string, marker_hits long")
    def _lid(hashes: pa.Array) -> pa.Array:
        from ..core import memtune  # noqa: F401

        flat, starts, _, nz = _list_segments(hashes)
        # index into langs + ["und"]: rows without a marker hit stay "und"
        pred = np.full(len(hashes), len(langs), dtype=np.int64)
        hits = np.zeros(len(hashes), dtype=np.int64)
        if len(flat):
            scores = np.empty((len(langs), len(starts)), dtype=np.int64)
            for li, mh in enumerate(marker_hashes):
                pos = np.searchsorted(mh, flat)
                pos[pos == len(mh)] = 0
                scores[li] = np.add.reduceat((mh[pos] == flat).astype(np.int64), starts)
            best = np.argmax(scores, axis=0)  # first max = langs order
            best_s = scores[best, np.arange(len(starts))]
            hits[nz] = best_s
            pred[nz] = np.where(best_s > 0, best, len(langs))
        return pa.StructArray.from_arrays(
            [pa.array(langs + ["und"]).take(pred), pa.array(hits)],
            names=["pred_lang", "marker_hits"],
        )

    df = _widen_narrow_scan(df)
    th = token_hashes_col(F.lower(F.col(text_col)))
    return df.select("doc_id", _lid(th).alias("__lid")).select(
        "doc_id",
        F.col("__lid.pred_lang").alias("pred_lang"),
        F.col("__lid.marker_hits").alias("marker_hits"),
    )


def fingerprint_col(text: str | Column = "text", seed: int = 0xF1E5) -> Column:
    """64-bit rolling (polynomial) fingerprint over token hashes —
    order-sensitive, unlike a bag-of-words hash.

    Closed form of the Horner recurrence h = h*P + v_j (mod 2^64):
        h = seed * P^L + sum_j v_j * P^(L-1-j)
    Token hashing is JVM-side (xxhash64 in an array transform); the
    Arrow kernel computes the power table once per batch and reduces
    each document with one segmented uint64 sum — no per-token Python."""
    from pyspark.sql.functions import arrow_udf

    from .dedup import _list_segments, token_hashes_col

    @arrow_udf(LongType())
    def _fp(hashes: pa.Array) -> pa.Array:
        from ..core import memtune  # noqa: F401

        P = np.uint64(1099511628211)  # FNV-ish odd multiplier
        flat, starts, lens_nz, nz = _list_segments(hashes)
        out = np.full(len(hashes), np.uint64(seed).view(np.int64), dtype=np.int64)
        if len(flat):
            with np.errstate(over="ignore"):
                th = splitmix64(flat, seed)
                maxlen = int(lens_nz.max())
                pw = np.empty(maxlen + 1, dtype=np.uint64)
                pw[0] = 1
                np.cumprod(np.full(maxlen, P, dtype=np.uint64), out=pw[1:])
                # exponent of token j in doc: len - 1 - position
                pos = np.arange(len(flat), dtype=np.int64) - np.repeat(starts, lens_nz)
                expo = np.repeat(lens_nz, lens_nz) - 1 - pos
                h = np.add.reduceat(th * pw[expo], starts)  # wraps mod 2^64
                h += np.uint64(seed) * pw[lens_nz]
            out[nz] = h.view(np.int64)
        return pa.array(out)

    return _fp(token_hashes_col(text))
