"""Fused tokenize -> hash -> sketch partials over raw text rows.

The naive plan (explode + xxhash64 in Catalyst, then a per-token Arrow
UDF over token ids) ships one Arrow row per TOKEN across the JVM->Python
boundary — at ~250 tokens/doc that's 250x more rows than documents and
the IPC dominates the build. This fused path ships one row per
DOCUMENT and does tokenization in pyarrow C kernels inside the worker:

  scan (column-pruned text)
    -> mapInArrow: split_pattern -> list_flatten -> value_counts
       (all Arrow C) -> xxh64 only on NEW distinct tokens (memoized
       token->id dict, Zipf vocab makes the hit rate ~100%)
    -> the (id, count) pairs of all batches folded into one set, ONE
       weighted update_batch of the whole template at task end
       (aggregate._task_fn, the task body of every build)
    -> one packed state row per partition
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

# fan-in of the fused build's merge rounds (aggregate.tree_merge)
FANIN = 64


def _fused_fn(template_bytes: bytes, text_col: str, split: str = " "):
    """The text build's task for ``mapInArrow``: the one task body
    ``aggregate._task_fn`` with an adapter that splits ``text_col`` on
    ``split``, counts each batch's tokens and maps them to ids through
    the task's token->id memo. Yields one ``PARTIAL_SCHEMA`` row holding
    the packed state."""

    def pairs(batch: pa.RecordBatch, memo: dict) -> tuple[np.ndarray, np.ndarray, int]:
        # looked up per call, so a wrapper set on keys.xxh64 sees the calls
        from .keys import MASK32, xxh64

        toks = pc.list_flatten(pc.split_pattern(batch.column(text_col), split))
        # map-side combine: one (token, count) slot per distinct token;
        # the empty token (parity with the keys.tokens filter) is
        # dropped by its VALUE, i.e. its one slot, so a real token whose
        # hash collides with h("") survives
        vc = pc.value_counts(toks)
        vc = vc.filter(pc.not_equal(vc.field("values"), ""))
        vocab = vc.field("values").to_pylist()
        ids = np.empty(len(vocab), dtype=np.uint64)
        for j, tok in enumerate(vocab):
            h = memo.get(tok)
            if h is None:
                h = memo[tok] = xxh64(tok.encode()) & MASK32
            ids[j] = h
        counts = vc.field("counts").to_numpy()
        return ids, counts, int(counts.sum())

    return _task_fn(template_bytes, pairs)


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
    partials = df.select(text_col).mapInArrow(_fused_fn(pack_state(template), text_col), PARTIAL_SCHEMA)
    return tree_merge(partials, fanin=FANIN, n_hint=df.rdd.getNumPartitions())
