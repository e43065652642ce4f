"""Distributed reader for the reference's packed fixed-width key format.

The reference benchmark reads a flat binary file of back-to-back 20-byte
keys (``const Address = [20]u8``, file mmap'd and reinterpreted —
/root/reference/src/bench.zig:16,26-31; produced by bench-data/bench_data.py
as packed Arrow fixed-width buffers). This module reads the same layout
DISTRIBUTED.

The driver lists the file(s) and cuts them into record-aligned byte
ranges sized to the cluster's parallelism; each task bulk-reads its range
and re-slices it into fixed-width keys by building an Arrow offsets array
over the one read buffer (``pa.Array.from_buffers`` — no per-record
copies, no per-record Python). File access goes through ``pyarrow.fs``
(local, s3, hdfs where Arrow bindings exist); a filesystem that Arrow
cannot open is not supported.

The output column is the raw key bytes; hash with ``xxhash64`` downstream
exactly like any other key column (documented XxHash3 deviation, SURVEY
§8.2). Row order across tasks is not meaningful — downstream consumers
are set-semantics (dedup + filter build), same as any distributed scan.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import BinaryType, StructField, StructType

RECORD_LEN = 20  # the reference's Address width (src/bench.zig:16)

_TASK_SCHEMA = "path string, start_rec long, n_rec long"


def _range_reader_fn(record_len: int, key_col: str):
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np
        from pyarrow import fs as pafs

        for batch in batches:
            paths = batch.column(0).to_pylist()
            starts = batch.column(1).to_pylist()
            counts = batch.column(2).to_pylist()
            for p, start, n in zip(paths, starts, counts):
                if n <= 0:
                    continue
                f, rp = pafs.FileSystem.from_uri(p)
                with f.open_input_file(rp) as fh:
                    fh.seek(start * record_len)
                    buf = fh.read(n * record_len)
                # one contiguous buffer + a synthetic offsets array IS the
                # binary column — no per-record slicing or copying
                offs = (np.arange(n + 1, dtype=np.int32) * record_len)
                arr = pa.Array.from_buffers(
                    pa.binary(), n,
                    [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(buf)])
                yield pa.RecordBatch.from_arrays([arr], names=[key_col])

    return fn


def read_packed_keys(spark: SparkSession, path: str,
                     record_len: int = RECORD_LEN,
                     key_col: str = "key") -> DataFrame:
    """(key binary) — one row per fixed-width record in the packed file
    (or every regular file under a directory path)."""
    if record_len <= 0:
        raise ValueError("record_len must be positive")
    from pyarrow import fs as pafs
    f, rp = pafs.FileSystem.from_uri(path)
    info = f.get_file_info(rp)
    if info.type == pafs.FileType.Directory:
        files = [(i.path, i.size) for i in
                 f.get_file_info(pafs.FileSelector(rp))
                 if i.type == pafs.FileType.File]
    elif info.type == pafs.FileType.File:
        files = [(rp, info.size)]
    else:
        raise FileNotFoundError(path)
    for fp, size in files:
        if size % record_len:
            raise ValueError(
                f"packed file {fp} has {size} bytes, not a multiple of "
                f"record_len={record_len} — wrong record width or a "
                "truncated file")
    # rebuild full-scheme paths so executors resolve the same filesystem
    scheme_prefix = path[:path.index("://") + 3] if "://" in path else ""
    total = sum(s for _, s in files)
    par = spark.sparkContext.defaultParallelism
    # record-aligned chunk size: ~total/parallelism, clamped to [1 MB, 128 MB]
    target = min(max(total // max(par, 1), 1 << 20), 128 << 20)
    chunk_recs = max(target // record_len, 1)
    tasks = []
    for fp, size in files:
        n_rec = size // record_len
        start = 0
        while start < n_rec:
            n = min(chunk_recs, n_rec - start)
            tasks.append((scheme_prefix + fp, start, n))
            start += n
    schema = StructType([StructField(key_col, BinaryType(), False)])
    if not tasks:
        return spark.createDataFrame([], schema)
    task_df = spark.createDataFrame(tasks, _TASK_SCHEMA) \
        .repartition(len(tasks))
    return task_df.mapInArrow(_range_reader_fn(record_len, key_col),
                              f"{key_col} binary")


def write_packed_keys(df: DataFrame, key_col: str, path: str,
                      record_len: int = RECORD_LEN) -> int:
    """Test/fixture helper: write a key column as one packed binary file
    (driver-side — fixtures only; the read path is the distributed one).
    Keys are right-padded with zeros / truncated to ``record_len``.
    Returns the number of records written."""
    rows = df.select(key_col).collect()
    with open(path, "wb") as f:
        for r in rows:
            b = r[0] if isinstance(r[0], (bytes, bytearray)) else str(r[0]).encode()
            f.write(bytes(b[:record_len]).ljust(record_len, b"\x00"))
    return len(rows)
