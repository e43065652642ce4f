"""Python worker daemon for `get_session` sessions: `pyspark.daemon` with
zip directories re-read only when the archive changed.

Every Python task runs `pyspark.worker_util.setup_spark_files`, which calls
`importlib.invalidate_caches()` so files shipped by `addPyFile` become
importable. Before CPython 3.13 that makes each `zipimporter` re-read its
archive's whole directory at once, and a warm worker holds one importer per
imported pyspark subpackage: every task re-read ~27k pyspark.zip entries,
~0.2 s of CPU. Here an importer re-reads only when its archive's
``(st_mtime_ns, st_size)`` differs from the stamp taken when it last read
it; a newly shipped zip is a new archive and is read as before.

`get_session` runs this module via ``spark.python.daemon.module``; the
workers pyspark.daemon forks inherit the patch. ``spark.python.worker.module``
cannot carry it: pyspark.daemon only honours worker modules named pyspark*.
"""

import os
import runpy
import sys
import zipimport

_init = zipimport.zipimporter.__init__
_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _stamped_init(self, path):
    _init(self, path)
    self._filterz_stamp = _stamp(self.archive)


def invalidate_caches(self):
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_filterz_stamp", None):
        _invalidate(self)
        self._filterz_stamp = stamp


def install():
    """Patch `zipimport.zipimporter`; importers that already exist are
    stamped now, as they read their archives moments ago."""
    zipimport.zipimporter.__init__ = _stamped_init
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer._filterz_stamp = _stamp(importer.archive)


if __name__ == "__main__":
    # Patch through the importable module, so a task sees the same wrapper
    # object that `filterz_spark.spark.pydaemon` exports.
    from filterz_spark.spark import pydaemon

    pydaemon.install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
