"""Deterministic synthetic Common-Crawl-style pages table (FIXTURES.md §1).

Schema per BASELINE.json input_hint: (url string, warc_ts timestamp,
html binary, text string, lang string). Every cell is a pure function of the
row id (SplitMix64-finalizer chains), so the table is byte-identical at any
parallelism level — the property the text-extraction invariant and the
two-cluster-size scaling evidence both rely on.

Distribution knobs (FIXTURES.md): hosts Zipf(a=1.3) over 1,000 hosts (skewed
key distribution for salted-repartition exercises), lang categorical skewed
(en 60%, zh 15%, es 8%, de 5%, fr 4%, 8 others 1% each), text 20-200 tokens
from a 5,000-word list. Generation itself is distributed: spark.range ->
mapInArrow with numpy kernels.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..hashing import splitmix64

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

_LANGS = ["en", "zh", "es", "de", "fr", "pt", "ru", "ja", "ar", "hi", "ko", "it", "nl"]
_LANG_CUM = np.cumsum([0.60, 0.15, 0.08, 0.05, 0.04] + [0.01] * 8)
_NUM_HOSTS = 1000
_VOCAB_SIZE = 5000
_EPOCH_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z in microseconds


def _zipf_cdf(n: int, a: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** a
    return np.cumsum(w) / w.sum()


_HOST_CDF = _zipf_cdf(_NUM_HOSTS, 1.3)
_VOCAB = np.array([f"w{i:04d}" for i in range(_VOCAB_SIZE)])

# realistic-vocabulary leg (round 6): the 5,000-token uniform vocabulary
# makes mid-band LSH collisions far denser than a real web corpus — any
# two docs share many tokens by pigeonhole, so candidate-pair counts
# measured on it are an upper-bound artifact. The "zipf" vocabulary draws
# tokens power-law (a=1.1, the Zipf-Mandelbrot-ish slope of web text;
# head token ~12%, half the mass in the top ~100 types) from 250k types —
# a long tail of rare tokens that, like real text, separates unrelated
# docs' shingle sets. CDF built lazily: 250k float64 cumsum, ~2 MB/worker.
_ZIPF_VOCAB_SIZE = 250_000
_ZIPF_A = 1.1
_zipf_vocab_cdf: np.ndarray | None = None


def _zipf_vocab() -> np.ndarray:
    global _zipf_vocab_cdf
    if _zipf_vocab_cdf is None:
        _zipf_vocab_cdf = _zipf_cdf(_ZIPF_VOCAB_SIZE, _ZIPF_A)
    return _zipf_vocab_cdf


def _u01(x: np.ndarray) -> np.ndarray:
    return x.astype(np.float64) / 2.0 ** 64


def generate_batch(row_ids: np.ndarray, vocab: str = "uniform5k") -> dict:
    """Columns for a batch of row ids — pure function of (ids, vocab).

    ``vocab="uniform5k"`` (default): the original 5,000-token uniform
    draw — every existing fixture/oracle is pinned to it. ``"zipf"``:
    250k-type power-law draw (see _ZIPF_VOCAB_SIZE above) whose collision
    structure resembles a real web corpus; token strings are ``z<rank>``
    so the two vocabularies never collide with each other."""
    rid = row_ids.astype(np.uint64)
    host_idx = np.searchsorted(_HOST_CDF, _u01(splitmix64(rid)))
    lang_idx = np.searchsorted(_LANG_CUM, _u01(splitmix64(rid ^ np.uint64(0xA5A5))))
    lang_idx = np.minimum(lang_idx, len(_LANGS) - 1)
    n_tokens = 20 + (splitmix64(rid ^ np.uint64(0x7777)) % np.uint64(181)).astype(np.int64)

    max_t = int(n_tokens.max()) if len(n_tokens) else 0
    tok_seed = rid[:, None] * np.uint64(1_000_003) + np.arange(max_t, dtype=np.uint64)[None, :]
    texts = []
    if vocab == "zipf":
        ranks = np.searchsorted(_zipf_vocab(), _u01(splitmix64(tok_seed)))
        # ranks are ints; render the token strings row-wise without
        # materializing a 250k-entry string vocab array per worker
        for i in range(len(rid)):
            texts.append(" ".join(f"z{t}" for t in ranks[i, : n_tokens[i]]))
    elif vocab == "uniform5k":
        tok_idx = (splitmix64(tok_seed) % np.uint64(_VOCAB_SIZE)).astype(np.int64)
        toks = _VOCAB[tok_idx]
        for i in range(len(rid)):
            texts.append(" ".join(toks[i, : n_tokens[i]]))
    else:
        raise ValueError(f"unknown vocab {vocab!r}")

    urls = [f"https://host{h:04d}.example.com/{int(r):016x}"
            for h, r in zip(host_idx, rid)]
    htmls = [
        f"<html><head><title>t{int(r)}</title></head><body><p>{t}</p></body></html>".encode()
        for r, t in zip(rid, texts)
    ]
    ts = (_EPOCH_US + rid.astype(np.int64) * 1_000_000)
    return {
        "url": urls,
        "warc_ts": ts,
        "html": htmls,
        "text": texts,
        "lang": [_LANGS[i] for i in lang_idx],
    }


def _make_gen_fn(vocab: str):
    def _gen_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rid = batch.column(0).to_numpy(zero_copy_only=False)
            cols = generate_batch(rid, vocab=vocab)
            yield pa.RecordBatch.from_pydict({
                "url": pa.array(cols["url"], pa.string()),
                "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us")),
                "html": pa.array(cols["html"], pa.binary()),
                "text": pa.array(cols["text"], pa.string()),
                "lang": pa.array(cols["lang"], pa.string()),
            })
    return _gen_fn


def synth_pages(spark: SparkSession, num_rows: int,
                num_partitions: int | None = None,
                vocab: str = "uniform5k") -> DataFrame:
    if vocab not in ("uniform5k", "zipf"):
        raise ValueError(f"unknown vocab {vocab!r}")
    rng = spark.range(0, num_rows, numPartitions=num_partitions or max(32, num_rows // 100_000))
    return rng.mapInArrow(_make_gen_fn(vocab), PAGES_SCHEMA)


def extract_text_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Deterministic text extraction from html (the input_hint per-row
    invariant: byte-identical extracted text per url across runs and
    parallelism levels). Vectorized regex over Arrow batches."""
    import re

    pat = re.compile(rb"<p>(.*?)</p>", re.S)
    for batch in batches:
        html = batch.column(batch.schema.get_field_index("html"))
        url = batch.column(batch.schema.get_field_index("url"))
        out = []
        for v in html:
            m = pat.search(v.as_py())
            out.append(m.group(1).decode("utf-8") if m else "")
        yield pa.RecordBatch.from_arrays(
            [url, pa.array(out, pa.string())], names=["url", "extracted_text"]
        )


def extract_text(pages: DataFrame) -> DataFrame:
    return pages.select("url", "html").mapInArrow(
        extract_text_fn, "url string, extracted_text string"
    )
