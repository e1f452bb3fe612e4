"""Fused tokenize -> hash -> sketch partials over raw text rows.

The naive plan (explode + xxhash64 in Catalyst, then a per-token Arrow
UDF over token ids) ships one Arrow row per TOKEN across the JVM->Python
boundary — at ~250 tokens/doc that's 250x more rows than documents and
the IPC dominates the build. This fused path ships one row per
DOCUMENT and does tokenization in pyarrow C kernels inside the worker:

  scan (column-pruned text)
    -> mapInArrow: split_pattern -> list_flatten -> dictionary_encode
       (all Arrow C) -> xxh64 only on NEW dictionary tokens (memoized
       token->id dict, Zipf vocab makes the hit rate ~100%)
    -> bincount of the dictionary indices: the batch collapsed to
       sorted (id, count) pairs, one weighted update_batch for the whole
       template (every sketch type honours counts)
    -> one packed state row per partition
    -> collect + left fold in partition order (aggregate.tree_merge)

The ids are the same xxhash64&mask32 ids as spark.keys.key_id_col, so
fused-built sketches are interchangeable with explode-built ones
(asserted in tests/test_fused.py).
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from ..core.base import Sketch, collapse, pack_state
from .aggregate import PARTIAL_ARROW, PARTIAL_SCHEMA, state_row, task_part_id, tree_merge

# fan-in of the fused build's merge rounds (aggregate.tree_merge)
FANIN = 64


def _fused_fn(template_bytes: bytes, text_col: str, split: str = " "):
    """The per-partition kernel for ``mapInArrow``: splits ``text_col``
    on ``split``, collapses each Arrow batch to its sorted (token id,
    count) pairs, feeds them to a fresh copy of the packed template as
    one weighted update and yields one ``PARTIAL_SCHEMA`` row holding
    the packed state. With ``SKETCH_PROF_DIR`` set, each task also writes a JSON
    record of its phase times (serve, kernel, to_bytes, pack) there."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..core import memtune  # noqa: F401
        from ..core.base import unpack_state
        from .keys import MASK32, xxh64

        prof_dir = os.environ.get("SKETCH_PROF_DIR")
        prof = {"enter_epoch": time.time()} if prof_dir else None
        t_serve = 0.0

        sk = unpack_state(template_bytes)
        t0 = time.perf_counter()
        n_rows = n_upd = 0
        memo: dict[str, int] = {}
        src = iter(batches)
        while True:
            tb0 = time.perf_counter()
            batch = next(src, None)
            t_serve += time.perf_counter() - tb0
            if batch is None:
                break
            texts = batch.column(text_col)
            toks = pc.list_flatten(pc.split_pattern(texts, split))
            if len(toks) == 0:
                continue
            d = toks.dictionary_encode()
            if isinstance(d, pa.ChunkedArray):
                d = d.combine_chunks()
            vocab = d.dictionary.to_pylist()
            lut = np.empty(len(vocab), dtype=np.uint64)
            empty_j = -1
            for j, tok in enumerate(vocab):
                if tok == "":
                    empty_j = j
                h = memo.get(tok)
                if h is None:
                    h = xxh64(tok.encode()) & MASK32
                    memo[tok] = h
                lut[j] = h
            idx = d.indices.to_numpy(zero_copy_only=False)
            # map-side combine: the batch's (id, count) pairs, counted
            # per dictionary slot from the indices tokenization produced
            uc = np.bincount(idx, minlength=len(lut)).astype(np.int64)
            u = lut
            if empty_j >= 0:
                # drop empty-string tokens (parity with keys.tokens
                # filter) by DICTIONARY slot, so a real token whose
                # hash collides with h("") survives
                keep = np.ones(len(u), dtype=bool)
                keep[empty_j] = False
                u, uc = u[keep], uc[keep]
            # sort, and collapse dictionary slots that hash to the same id
            u, uc = collapse(u, uc)
            sk.update_batch(u, uc)
            n_rows += len(texts)
            n_upd += int(uc.sum())
        part_id = task_part_id()
        t_loop = time.perf_counter() - t0
        raw = sk.to_bytes()
        t_tb = time.perf_counter() - t0 - t_loop
        row = state_row(raw, part_id, n_rows, n_upd, (t_loop + t_tb) * 1000.0)
        t_pk = time.perf_counter() - t0 - t_loop - t_tb
        if prof is not None:
            prof.update(
                part=part_id,
                pid=os.getpid(),
                serve_s=round(t_serve, 4),
                kernel_s=round(t_loop - t_serve, 4),
                to_bytes_s=round(t_tb, 4),
                pack_s=round(t_pk, 4),
                publish_s=0.0,  # the state travels in the row below
                exit_epoch=time.time(),
            )
            import json as _json

            pn = os.path.join(prof_dir, f"prof_{part_id}_{os.getpid()}_{int(time.time()*1e6)}.json")
            with open(pn, "w") as pf:
                _json.dump(prof, pf)
        yield pa.RecordBatch.from_pylist([row], schema=PARTIAL_ARROW)

    return fn


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
