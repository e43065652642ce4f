"""Driver-side small-file IO through the JVM Hadoop FileSystem API.

Store markers (sketch/signature family pins) are ONE KB-sized JSON row.
Writing or reading them as a Spark job (``createDataFrame(...).coalesce(1)
.write.json`` / ``spark.read.json``) costs a full job submission — measured
4.5 s per marker write on the round-6 sketch-store bench, dominating a
fresh store's first epoch write. The Hadoop FileSystem API reaches the same
storage Spark writes to (local, HDFS, S3A — whatever the session's Hadoop
conf resolves for the path) and costs no job. ``read_json_marker`` reads
both layouts: the plain ``marker.json`` written here and the part file
(plus ``_SUCCESS`` and ``.crc`` side files) of round-6 stores.

Driver-side by design: markers are metadata, not data — nothing here is
ever on a per-row path.
"""

from __future__ import annotations

import json


def _fs_path(spark, path: str) -> tuple:
    """(Hadoop FileSystem, Path) for ``path`` under the session's conf."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _listed(spark, dir_path: str) -> tuple:
    """(fs, visible entries of ``dir_path``): the entries Spark's file
    readers list, i.e. names not starting with ``_`` or ``.``; none when
    the path is absent."""
    fs, jpath = _fs_path(spark, dir_path)
    if not fs.exists(jpath):
        return fs, []
    return fs, [st for st in fs.listStatus(jpath)
                if not st.getPath().getName().startswith(("_", "."))]


def read_json_marker(spark, dir_path: str) -> dict | None:
    """The first JSON object in ``dir_path``'s data files, or ``None`` when
    the directory is absent or holds no JSON row."""
    fs, entries = _listed(spark, dir_path)
    for st in sorted(entries, key=lambda st: st.getPath().getName()):
        if not st.isFile():
            continue
        stream = fs.open(st.getPath())
        try:
            text = spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8")
        finally:
            stream.close()
        for line in text.splitlines():
            if line.strip():
                return json.loads(line)
    return None


def has_data(spark, dir_path: str) -> bool:
    """True when ``dir_path`` holds anything besides ``_``/``.``-prefixed
    entries (markers, ``_SUCCESS``, checksums) — i.e. data a store without
    a marker must not adopt."""
    return bool(_listed(spark, dir_path)[1])


def overwrite_json_marker(spark, dir_path: str, payload: str,
                          filename: str = "marker.json") -> None:
    """(Re)create ``dir_path`` holding a single ``filename`` with
    ``payload`` (one JSON object per line, the json-lines layout Spark's
    reader expects). Replaces the directory atomically enough for a
    metadata marker: delete + mkdirs + create-overwrite."""
    fs, jpath = _fs_path(spark, dir_path)
    fs.delete(jpath, True)
    fs.mkdirs(jpath)
    out = fs.create(
        spark._jvm.org.apache.hadoop.fs.Path(
            f"{dir_path.rstrip('/')}/{filename}"), True)
    try:
        out.write(bytearray(payload.encode("utf-8")))
    finally:
        out.close()
