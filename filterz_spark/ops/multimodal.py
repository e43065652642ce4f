"""Multimodal column plumbing — opaque binary payloads with typed metadata.

Images/audio/video are carried as ``binary`` columns next to a metadata
struct; decode / feature-extract / resize run as Arrow-batched
UDFs over ``mapInPandas``/``mapInArrow``. The actual codecs (PIL/ffmpeg) are
NOT in this container, so the codec boundary is an INJECTED CALLABLE, not a
boolean gate: every decode-shaped operator takes ``decoder=`` — a
batch-level function from the payload Arrow array to the decoded matrix —
with two shipped implementations:

- the deterministic FAKE codec (default): pixels/features derived from the
  payload bytes, fully vectorized, so the Spark plumbing (schema, batching,
  partitioning, output shape) is real, tested, and oracle-checkable;
- ``missing_codec(...)``: raises NotImplementedError at the exact point a
  real codec would run, naming the absent dependency.

A real deployment swaps in its own decoder (PIL/libjpeg/ffmpeg) without
touching the operators — the seam is the function argument, and the codec
call will dominate the per-row cost wherever it is real. The legacy
``fake=`` boolean is kept as sugar that picks between the two defaults.

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
    """(data uint8 view, offsets int64) for a non-null Binary/String array —
    zero-copy row slices straight off the Arrow values buffer (no per-row
    ``as_py()`` bytes materialization). Returns None when the layout isn't
    the plain offset/data form (caller falls back to the as_py loop)."""
    if arr.null_count or len(arr.buffers()) != 3 or arr.buffers()[2] is None:
        return None
    width = 8 if pa.types.is_large_binary(arr.type) or \
        pa.types.is_large_string(arr.type) else 4
    dtype = np.int64 if width == 8 else np.int32
    offsets = np.frombuffer(arr.buffers()[1], dtype=dtype)[
        arr.offset:arr.offset + len(arr) + 1].astype(np.int64)
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    return data, offsets


def missing_codec(step: str, dependency: str) -> Decoder:
    """A decoder that fails loudly where a real codec would run — the
    honest stub for codecs absent from this container."""

    def decoder(payloads: pa.Array) -> np.ndarray:
        raise NotImplementedError(
            f"real image {step} requires {dependency}, not present in this "
            "container; pass decoder= with a real codec, or use the default "
            "deterministic fake decoder")

    return decoder


def _splitmix64(z: np.ndarray) -> np.ndarray:
    z = z + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _fake_decode(payload, out_dim: int) -> np.ndarray:
    """Per-row reference form of the fake feature codec (kept as the
    null/exotic-layout fallback and the test oracle for the batch form):
    zero-pad the bytes to u64 blocks, splitmix64 each block, histogram the
    hashes into ``out_dim`` buckets, normalize by block count."""
    arr = payload if isinstance(payload, np.ndarray) \
        else np.frombuffer(payload, dtype=np.uint8)
    if arr.size == 0:
        return np.zeros(out_dim, dtype=np.float32)
    pad = (-arr.size) % 8
    z = _splitmix64(np.pad(arr, (0, pad)).view(np.uint64))
    buckets = np.zeros(out_dim, dtype=np.float64)
    np.add.at(buckets, (z % np.uint64(out_dim)).astype(np.int64), 1.0)
    return (buckets / max(z.size, 1)).astype(np.float32)


def fake_feature_decoder(payloads: pa.Array,
                         out_dim: int = IMAGE_FEATURE_DIM) -> np.ndarray:
    """Default feature codec: (n, out_dim) float32, bit-identical to the
    per-row ``_fake_decode`` but vectorized over the whole batch — ONE
    gather builds every row's zero-padded u64 blocks off the Arrow values
    buffer, one splitmix pass hashes them, one scatter-add histograms them.
    Python cost is per BATCH, not per row."""
    n = len(payloads)
    if n == 0:
        return np.zeros((0, out_dim), dtype=np.float32)
    views = _binary_views(payloads)
    if views is None:  # nulls / exotic layout: per-row fallback
        return np.stack([_fake_decode(p.as_py() or b"", out_dim)
                         for p in payloads])
    data, off = views
    lens = off[1:] - off[:-1]
    blocks = (lens + 7) // 8                     # u64 blocks per row
    total = int(blocks.sum())
    out = np.zeros((n, out_dim), dtype=np.float64)
    if total:
        row_of_block = np.repeat(np.arange(n, dtype=np.int64), blocks)
        block_starts = np.concatenate(([0], np.cumsum(blocks)[:-1]))
        within = np.arange(total, dtype=np.int64) - block_starts[row_of_block]
        base = off[:-1][row_of_block] + within * 8   # global byte start
        idx = base[:, None] + np.arange(8, dtype=np.int64)[None, :]
        valid = idx < off[1:][row_of_block][:, None]
        safe = np.minimum(idx, max(data.size - 1, 0))
        b = np.where(valid, data[safe] if data.size else 0, 0).astype(np.uint64)
        a64 = np.zeros(total, dtype=np.uint64)
        for k in range(8):                       # little-endian u64 view
            a64 |= b[:, k] << np.uint64(8 * k)
        z = _splitmix64(a64)
        flat = row_of_block * out_dim + (z % np.uint64(out_dim)).astype(np.int64)
        np.add.at(out.ravel(), flat, 1.0)
    return (out / np.maximum(blocks, 1)[:, None]).astype(np.float32)


def _list_array(mat: np.ndarray, dtype=pa.float32()) -> pa.ListArray:
    """(n, d) matrix -> Arrow list array without a per-row tolist()."""
    n, d = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.ravel(), dtype))


def decode_image_features(media: DataFrame, fake: bool = True,
                          decoder: Decoder | None = None) -> DataFrame:
    """(media_id, features array<float>) — Arrow-batched feature extraction
    through the injected ``decoder`` (payload array -> (n, dim) float32);
    defaults to the deterministic fake codec, ``fake=False`` to the
    loud-failing missing-codec stub."""
    if decoder is None:
        decoder = fake_feature_decoder if fake \
            else missing_codec("decode", "PIL/libjpeg")

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
    n = len(payloads)
    src = src_side * src_side
    views = _binary_views(payloads)
    if views is None:  # nulls / exotic layout: per-row fallback
        grid = np.zeros((n, src), dtype=np.float64)
        for i, p in enumerate(payloads):
            raw = np.frombuffer(p.as_py() or b"", dtype=np.uint8)[:src]
            grid[i, : raw.size] = raw
        return grid
    data, off = views
    lens = np.minimum(off[1:] - off[:-1], src)
    idx = off[:-1, None] + np.arange(src)[None, :]
    valid = np.arange(src)[None, :] < lens[:, None]
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
                 fake: bool = True, decoder: Decoder | None = None) -> DataFrame:
    """Area-resample the decoded pixel grid to (out_h, out_w):
    (media_id, pixels array<float> of length out_h*out_w).

    ``decoder`` produces the (n, RESIZE_SRC**2) source grids — default the
    fake byte-grid codec (a real decoder would produce the grid from the
    codec instead — same downstream shape; ``fake=False`` fails loudly).
    Box averaging over integer-divisor blocks is EXACT in float (byte sums
    are < 2^24), so the resized sum reconstructs the source byte sum — a
    value-level oracle DuckDB can verify from the ascii codes of the text
    payload. Map-only Arrow pass: parallelizes with the scan, no shuffle.
    """
    if decoder is None:
        decoder = fake_grid_decoder if fake \
            else missing_codec("resize", "PIL/libjpeg")
    return media.select("media_id", "payload").mapInArrow(
        _resize_fn(out_h, out_w, decoder), "media_id long, pixels array<float>"
    )

