"""Deterministic Common-Crawl-style ``pages`` table synthesizer + the
byte-exact ``extract(html) == text`` inverse (BASELINE.json input_hint;
FIXTURES.md §1).

Schema: ``pages(url string, warc_ts timestamp, html binary, text string,
lang string)``.

Generation is a pure function of the row index (splitmix64-seeded), so
the table is identical regardless of partition count or execution order
— the same property the reference gets from its seeded generators
(datasets/Zipfian/src/zipfian.c:44-218). Hosts and tokens are Zipf(α)
via inverse-CDF over precomputed cumulative weights (equivalent in law
to the reference's Walker alias sampling; alias.c:15-101).

Everything runs distributed through ``mapInPandas`` over
``spark.range`` — no driver-side materialization, scales to any row
count.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..core.hashing import splitmix64

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

EPOCH = np.datetime64("2024-01-01T00:00:00")
LANGS = ["en", "de", "fr", "es", "it", "nl"]
LANG_CDF = np.cumsum([0.50, 0.15, 0.12, 0.10, 0.08, 0.05])

HTML_PRE = "<html><head><title>{host}</title></head><body><p>"
HTML_POST = "</p></body></html>"


def _zipf_cdf(n: int, alpha: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), alpha)
    return np.cumsum(w) / w.sum()


def _uniform(idx: np.ndarray, salt: int) -> np.ndarray:
    """Deterministic uniforms in [0,1) from row-index + salt."""
    return splitmix64(idx.astype(np.uint64), salt).astype(np.float64) / 1.8446744073709552e19


def _base36(n: int) -> str:
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    if n == 0:
        return "0"
    out = []
    while n:
        n, r = divmod(n, 36)
        out.append(digits[r])
    return "".join(reversed(out))


_VOCAB_CACHE: dict[int, np.ndarray] = {}


def _vocab_strings(n_vocab: int) -> np.ndarray:
    v = _VOCAB_CACHE.get(n_vocab)
    if v is None:
        v = np.array([f"tok{i}" for i in range(n_vocab)], dtype=object)
        _VOCAB_CACHE[n_vocab] = v
    return v


def render_html(host: str, text: str) -> str:
    return HTML_PRE.format(host=host) + text.replace("\n\n", "</p><p>") + HTML_POST


def _gen_batch(
    idx: np.ndarray,
    host_cdf: np.ndarray,
    vocab_cdf: np.ndarray,
    min_len: int,
    len_range: int,
    seed: int,
) -> pd.DataFrame:
    n = len(idx)
    hu = _uniform(idx, seed + 1)
    hid = np.searchsorted(host_cdf, hu)
    lengths = (
        min_len + (splitmix64(idx.astype(np.uint64), seed + 2) % np.uint64(len_range))
    ).astype(np.int64)
    lu = _uniform(idx, seed + 3)
    lang_id = np.searchsorted(LANG_CDF, lu)
    lang_id = np.minimum(lang_id, len(LANGS) - 1)

    # flat token draws: token j of doc idx is seeded by idx*2^20 + j
    doc_rep = np.repeat(idx, lengths)
    offs = np.concatenate([np.arange(l) for l in lengths]) if n else np.empty(0, int)
    tu = _uniform(doc_rep * np.int64(1 << 20) + offs, seed + 4)
    tok_ids = np.searchsorted(vocab_cdf, tu)

    # vectorized token-string lookup (cached vocab string table)
    vocab_strs = _vocab_strings(len(vocab_cdf))
    tok_strs = vocab_strs[tok_ids]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    urls, texts, htmls, tss = [], [], [], []
    join = " ".join
    for i in range(n):
        host = f"h{hid[i]}.example.org"
        text = join(tok_strs[bounds[i] : bounds[i + 1]].tolist())
        urls.append(f"https://{host}/{_base36(int(idx[i]))}")
        texts.append(text)
        htmls.append(render_html(host, text).encode("utf-8"))
        tss.append(EPOCH + np.timedelta64(int(idx[i]) % 86400, "s"))
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.Series(tss, dtype="datetime64[ns]"),
            "html": htmls,
            "text": texts,
            "lang": [LANGS[j] for j in lang_id],
        }
    )


def pages_df(
    spark: SparkSession,
    n_rows: int,
    n_hosts: int = 1000,
    n_vocab: int = 10000,
    alpha: float = 1.0,
    min_len: int = 30,
    len_range: int = 200,
    seed: int = 1234,
    partitions: int | None = None,
) -> DataFrame:
    host_cdf = _zipf_cdf(n_hosts, alpha)
    vocab_cdf = _zipf_cdf(n_vocab, alpha)

    def gen(batches):
        from ..core import memtune  # noqa: F401

        for pdf in batches:
            yield _gen_batch(
                pdf["id"].to_numpy(), host_cdf, vocab_cdf, min_len, len_range, seed
            )

    rng = spark.range(n_rows, numPartitions=partitions)
    return rng.mapInPandas(gen, PAGES_SCHEMA)


def extract_text_py(html: bytes) -> str:
    """Inverse of render_html — byte-identical text per url (the per-row
    invariant from BASELINE.json input_hint)."""
    s = html.decode("utf-8")
    start = s.index("<body><p>") + len("<body><p>")
    end = s.rindex(HTML_POST)
    return s[start:end].replace("</p><p>", "\n\n")


def extract_text_col(col):
    """Vectorized pandas UDF: html binary -> extracted text."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(StringType())
    def _extract(h: pd.Series) -> pd.Series:
        s = h.apply(lambda b: b.decode("utf-8"))
        s = s.str.partition("<body><p>")[2]
        s = s.str.rpartition(HTML_POST)[0]
        return s.str.replace("</p><p>", "\n\n", regex=False)

    return _extract(col)
