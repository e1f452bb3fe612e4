"""Fused tokenize -> hash -> sketch partials over raw text rows.

The naive plan (explode + xxhash64 in Catalyst, then a per-token Arrow
UDF over token ids) ships one Arrow row per TOKEN across the JVM->Python
boundary — at ~250 tokens/doc that's 250x more rows than documents and
the IPC dominates the build. This fused path ships one row per
DOCUMENT and tokenizes in numpy and pyarrow C kernels inside the worker:

  scan (column-pruned text)
    -> mapInArrow: token boundaries found on the text column's Arrow
       data buffer (numpy), zero-copy segment views -> value_counts ->
       the distinct segments stripped and re-summed (Arrow C) ->
       numpy-lane xxh64 of the distinct tokens (keys.xxh64_array):
       no per-token and no per-distinct-token Python
    -> the (id, count) pairs of all batches folded into one set, ONE
       weighted update_batch of the whole template at task end
       (aggregate._task_fn, the task body of every build)
    -> one packed state row per partition (token_partial_states, also
       the stage 1 of streaming.token_sketch_sink)
    -> collect + left fold in partition order (aggregate.tree_merge)

The ids are the same xxhash64&mask32 ids as spark.keys.key_id_col, so
fused-built sketches are interchangeable with explode-built ones
(asserted in tests/test_fused.py).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from ..core.base import Sketch, pack_state
from .aggregate import PARTIAL_SCHEMA, _task_fn, tree_merge


def _segments(text: pa.Array) -> pa.Array:
    """``text`` cut before every space byte and at every row start, as a
    zero-copy view over the column's own data buffer: a segment is
    ``" tok"`` (a token with its leading separator) or a row's first
    ``"tok"``. A space is a single byte that no multibyte UTF-8
    sequence contains, so every segment is valid UTF-8."""
    if text.null_count:  # a null row's offset span is unspecified
        text = text.filter(text.is_valid())
    off_t = np.int64 if pa.types.is_large_string(text.type) else np.int32
    _, obuf, dbuf = text.buffers()
    offs = np.frombuffer(obuf, off_t, len(text) + 1, text.offset * np.dtype(off_t).itemsize)
    lo, hi = int(offs[0]), int(offs[-1])
    if hi == lo:
        return pa.array([], text.type)
    cut = np.empty(hi - lo + 1, np.bool_)
    np.equal(np.frombuffer(dbuf, np.uint8, hi - lo, lo), 0x20, out=cut[:-1])
    cut[offs[:-1] - lo] = True  # an empty last row starts at hi
    cut[-1] = True
    bounds = np.flatnonzero(cut).astype(off_t, copy=False)
    bounds += lo
    return pa.Array.from_buffers(text.type, len(bounds) - 1, [None, pa.py_buffer(bounds), dbuf])


def _token_pairs(text_col: str):
    """The text build's adapter: a batch's distinct space-separated
    tokens of ``text_col`` as (xxh64 & MASK32 ids, counts). Arrow
    kernels count the segments (``_segments``); only the ≈2×vocabulary
    distinct segments are then stripped of their separator, re-summed
    by value and hashed in numpy lanes (``keys.xxh64_array``)."""

    def pairs(batch: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray, int]:
        # looked up per call, so a wrapper set on keys.xxh64_array sees the calls
        from . import keys

        vc = pc.value_counts(_segments(batch.column(text_col)))
        # a segment holds at most one space, its first byte: the trim
        # strips just the separator
        toks = pa.table({"tok": pc.ascii_ltrim(vc.field("values"), " "), "n": vc.field("counts")})
        toks = toks.group_by("tok", use_threads=False).aggregate([("n", "sum")])
        # the empty token (parity with the keys.tokens filter) is dropped
        # by its VALUE, so a real token whose hash collides with h("")
        # survives
        toks = toks.filter(pc.not_equal(toks["tok"], ""))
        counts = toks["n_sum"].to_numpy()
        return keys.xxh64_array(toks["tok"]) & np.uint64(keys.MASK32), counts, int(counts.sum())

    return pairs


def _fused_fn(template_bytes: bytes, text_col: str):
    """The text build's task for ``mapInArrow``: the one task body
    ``aggregate._task_fn`` with the ``_token_pairs`` adapter. Yields one
    ``PARTIAL_SCHEMA`` row holding the packed state."""
    return _task_fn(template_bytes, _token_pairs(text_col))


def token_partial_states(df: DataFrame, template: Sketch, text_col: str = "text") -> DataFrame:
    """The text build's stage 1, as ``aggregate.partial_states`` is the
    id-column builds': one packed state row per input partition."""
    return df.select(text_col).mapInArrow(_fused_fn(pack_state(template), text_col), PARTIAL_SCHEMA)


def build_token_sketch(
    df: DataFrame,
    template: Sketch,
    text_col: str = "text",
) -> tuple[Sketch, dict]:
    """One-pass fused build over a text column; returns (sketch, metrics).
    Equivalent result to tokens(df) -> key_id_col -> build_sketch, at a
    fraction of the JVM->Python transfer. Each task ships one packed
    state; ``tree_merge`` folds them in partition order, so the same
    input and template give byte-equal states on every run."""
    return tree_merge(token_partial_states(df, template, text_col))
