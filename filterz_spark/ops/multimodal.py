"""Multimodal column plumbing — opaque binary payloads with typed metadata.

Images/audio/video are carried as ``binary`` columns next to a metadata
struct; decode / feature-extract / resize run as Arrow-batched
UDFs over ``mapInArrow``. The library ships no image codec (PIL/ffmpeg),
so the codec boundary is an INJECTED CALLABLE: every decode-shaped
operator takes ``decoder=``, a batch-level function from the payload Arrow
array to the decoded matrix. The default is a deterministic FAKE codec:
pixels/features derived from the payload bytes, fully vectorized, so the
Spark plumbing (schema, batching, partitioning, output shape) is real,
tested, and oracle-checkable. A NULL payload decodes exactly like an empty
one.

A real deployment passes its own decoder (PIL/libjpeg/ffmpeg) without
touching the operators — the seam is the function argument, and the codec
call will dominate the per-row cost wherever it is real.

Scale posture: binary payloads stay in Arrow buffers end-to-end (no base64,
no per-row Python on the bytes — numpy views + one gather per batch);
decode/feature/resize are map-only passes, so they parallelize with the
scan and never shuffle.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..hashing import splitmix64

IMAGE_FEATURE_DIM = 16

MEDIA_SCHEMA = ("media_id long, kind string, payload binary, width int, "
                "height int, duration_ms int")

# batch-level codec seam: payload Arrow array -> (n, d) decoded matrix
Decoder = Callable[[pa.Array], np.ndarray]


def attach_media(docs: DataFrame, payload_col: str = "text") -> DataFrame:
    """Wrap a table into the multimodal shape: binary payload + typed
    metadata (here payload = utf-8 of a text column; stands in for real
    image/audio bytes)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col(payload_col), "UTF-8").alias("payload"),
        (F.pmod(F.xxhash64(payload_col), F.lit(640)) + 32).cast("int").alias("width"),
        (F.pmod(F.xxhash64(payload_col, F.lit(1)), F.lit(480)) + 32).cast("int").alias("height"),
        F.lit(0).cast("int").alias("duration_ms"),
    )


def _binary_views(arr: pa.Array):
    """(data uint8, starts int64, lens int64) for a Binary/String array —
    zero-copy row slices straight off the Arrow values buffer (no per-row
    ``as_py()``). NULL rows get length 0, so they decode like empty
    payloads; a missing values buffer reads as empty."""
    _, off_buf, data_buf = arr.buffers()
    large = pa.types.is_large_binary(arr.type) or pa.types.is_large_string(arr.type)
    off = np.frombuffer(off_buf, dtype=np.int64 if large else np.int32)[
        arr.offset:arr.offset + len(arr) + 1].astype(np.int64)
    data = np.frombuffer(data_buf or b"", dtype=np.uint8)
    lens = off[1:] - off[:-1]
    if arr.null_count:
        lens[arr.is_null().to_numpy(zero_copy_only=False)] = 0
    return data, off[:-1], lens


def fake_feature_decoder(payloads: pa.Array,
                         out_dim: int = IMAGE_FEATURE_DIM) -> np.ndarray:
    """Default feature codec: (n, out_dim) float32. Each row's bytes are
    zero-padded to u64 blocks, each block is splitmix64-hashed, and the
    hashes are histogrammed into ``out_dim`` buckets normalized by the
    block count (an empty payload gives zeros). ONE gather builds every
    row's blocks off the Arrow values buffer, one splitmix pass hashes
    them, one scatter-add histograms them: Python cost is per BATCH."""
    n = len(payloads)
    data, starts, lens = _binary_views(payloads)
    blocks = (lens + 7) // 8                     # u64 blocks per row
    total = int(blocks.sum())
    out = np.zeros((n, out_dim), dtype=np.float64)
    if total:
        row_of_block = np.repeat(np.arange(n, dtype=np.int64), blocks)
        block_starts = np.concatenate(([0], np.cumsum(blocks)[:-1]))
        within = np.arange(total, dtype=np.int64) - block_starts[row_of_block]
        base = starts[row_of_block] + within * 8   # global byte start
        idx = base[:, None] + np.arange(8, dtype=np.int64)[None, :]
        valid = idx < (starts + lens)[row_of_block][:, None]
        b = np.where(valid, data[np.minimum(idx, data.size - 1)], 0) \
            .astype(np.uint64)
        a64 = np.zeros(total, dtype=np.uint64)
        for k in range(8):                       # little-endian u64 view
            a64 |= b[:, k] << np.uint64(8 * k)
        z = splitmix64(a64)
        flat = row_of_block * out_dim + (z % np.uint64(out_dim)).astype(np.int64)
        np.add.at(out.ravel(), flat, 1.0)
    return (out / np.maximum(blocks, 1)[:, None]).astype(np.float32)


def _list_array(mat: np.ndarray, dtype=pa.float32()) -> pa.ListArray:
    """(n, d) matrix -> Arrow list array without a per-row tolist()."""
    n, d = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.ravel(), dtype))


def decode_image_features(media: DataFrame,
                          decoder: Decoder = fake_feature_decoder) -> DataFrame:
    """(media_id, features array<float>) — Arrow-batched feature extraction
    through the injected ``decoder`` (payload array -> (n, dim) float32);
    defaults to the deterministic fake codec."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            feats = np.asarray(decoder(batch.column(1)), dtype=np.float32)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), _list_array(feats)],
                names=["media_id", "features"])

    return media.select("media_id", "payload").mapInArrow(
        fn, "media_id long, features array<float>")


RESIZE_SRC = 16  # fake-decoder source grid side (first SRC*SRC payload bytes)


def fake_grid_decoder(payloads: pa.Array,
                      src_side: int = RESIZE_SRC) -> np.ndarray:
    """Default pixel codec: treat the first ``src_side**2`` payload bytes as
    a zero-padded grayscale grid — (n, src_side**2) float64, one vectorized
    gather straight off the Arrow values buffer."""
    src = src_side * src_side
    data, starts, lens = _binary_views(payloads)
    idx = starts[:, None] + np.arange(src)[None, :]
    valid = np.arange(src)[None, :] < np.minimum(lens, src)[:, None]
    safe = np.minimum(idx, max(data.size - 1, 0))
    return np.where(valid, data[safe] if data.size else 0, 0).astype(np.float64)


def _resize_fn(out_h: int, out_w: int, decoder: Decoder):
    if out_h <= 0 or out_w <= 0 or RESIZE_SRC % out_h or RESIZE_SRC % out_w:
        raise ValueError(f"out dims must divide {RESIZE_SRC}")
    bh, bw = RESIZE_SRC // out_h, RESIZE_SRC // out_w

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            grid = np.asarray(decoder(batch.column(1)), dtype=np.float64)
            n = grid.shape[0]
            # area (box-filter) resample: each output pixel is the exact
            # mean of its bh x bw source block, so sum(out)*bh*bw ==
            # sum(source bytes) exactly — the oracle-checkable invariant
            small = (grid.reshape(n, out_h, bh, out_w, bw).mean(axis=(2, 4))
                     .astype(np.float32).reshape(n, out_h * out_w))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), _list_array(small)],
                names=["media_id", "pixels"])

    return fn


def resize_image(media: DataFrame, out_h: int = 8, out_w: int = 8,
                 decoder: Decoder = fake_grid_decoder) -> DataFrame:
    """Area-resample the decoded pixel grid to (out_h, out_w):
    (media_id, pixels array<float> of length out_h*out_w).

    ``decoder`` produces the (n, RESIZE_SRC**2) source grids — default the
    fake byte-grid codec (a real decoder would produce the grid from the
    codec instead — same downstream shape).
    Box averaging over integer-divisor blocks is EXACT in float (byte sums
    are < 2^24), so the resized sum reconstructs the source byte sum — a
    value-level oracle DuckDB can verify from the ascii codes of the text
    payload. Map-only Arrow pass: parallelizes with the scan, no shuffle.
    """
    return media.select("media_id", "payload").mapInArrow(
        _resize_fn(out_h, out_w, decoder), "media_id long, pixels array<float>"
    )

