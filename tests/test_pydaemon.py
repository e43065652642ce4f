"""The `get_session` worker daemon (filterz_spark/spark/pydaemon.py).

- In process, no Spark: with the patch installed, `importlib.invalidate_caches()`
  re-reads a zip directory only when the archive changed or is new.
- One `get_session(cores=2)` driver in a subprocess, from a neutral cwd with
  no PYTHONPATH and the checkout reached only through ``sys.path``: its
  Python tasks run, see the wrapper, and import a zip shipped with
  ``addPyFile`` after the workers are warm.
"""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from filterz_spark.spark import pydaemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value}\n")


@pytest.fixture
def patched(monkeypatch, tmp_path):
    """Install the patch (undone after the test), count directory reads per
    archive, and put one fresh zip with module ``pd_mod_a`` on sys.path."""
    cls = zipimport.zipimporter
    # setattr to the current value only records it for undo; install() patches
    monkeypatch.setattr(cls, "__init__", cls.__init__)
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    pydaemon.install()
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive) or read_directory(archive))
    archive = str(tmp_path / "a.zip")
    _write_zip(archive, {"pd_mod_a": 1})
    monkeypatch.syspath_prepend(archive)
    for name in ("pd_mod_a", "pd_mod_b", "pd_mod_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    yield archive, reads
    for cache in (sys.path_importer_cache, zipimport._zip_directory_cache):
        for path in [p for p in cache if p.startswith(str(tmp_path))]:
            del cache[path]


def test_unchanged_archive_is_not_reread(patched):
    archive, reads = patched
    assert importlib.import_module("pd_mod_a").VALUE == 1
    assert reads == [archive]
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == [archive]


def test_rewritten_archive_is_reread(patched):
    archive, reads = patched
    importlib.import_module("pd_mod_a")
    st = os.stat(archive)
    _write_zip(archive, {"pd_mod_a": 1, "pd_mod_b": 2})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads == [archive, archive]
    assert importlib.import_module("pd_mod_b").VALUE == 2
    importlib.invalidate_caches()
    assert reads == [archive, archive]


def test_new_archive_is_read_on_first_use(patched, monkeypatch, tmp_path):
    archive, reads = patched
    importlib.import_module("pd_mod_a")
    importlib.invalidate_caches()
    late = str(tmp_path / "late.zip")
    _write_zip(late, {"pd_mod_c": 3})
    monkeypatch.syspath_prepend(late)
    importlib.invalidate_caches()
    assert importlib.import_module("pd_mod_c").VALUE == 3
    assert reads == [archive, late]


DRIVER = r"""
import json, os, sys, zipfile
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from filterz_spark.spark.session import get_session

spark = get_session(cores=2, shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")

@F.udf("string")
def wrapper(_):
    import zipimport
    from filterz_spark.spark import pydaemon
    f = zipimport.zipimporter.invalidate_caches
    return f"{f.__module__}.{f.__qualname__}" if f is pydaemon.invalidate_caches else repr(f)

out = {"wrapper": sorted({r[0] for r in spark.range(4, numPartitions=2)
                                                .select(wrapper("id")).collect()})}
late = os.path.join(os.getcwd(), "late_shipped.zip")
with zipfile.ZipFile(late, "w") as z:
    z.writestr("late_shipped_mod.py", "VALUE = 40\n")
spark.sparkContext.addPyFile(late)

@F.udf("long")
def plus(x):
    import late_shipped_mod
    return x + late_shipped_mod.VALUE

out["late"] = sorted(r[0] for r in spark.range(4, numPartitions=2).select(plus("id")).collect())
print("RESULT " + json.dumps(out), flush=True)
spark.stop()
"""


@pytest.fixture(scope="module")
def neutral_driver(tmp_path_factory):
    cwd = tmp_path_factory.mktemp("neutral_cwd")
    script = cwd / "driver.py"
    script.write_text(DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable, SPARK_DRIVER_MEM="1g")
    p = subprocess.run([sys.executable, str(script), ROOT], cwd=cwd, env=env,
                       capture_output=True, text=True, timeout=600)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("RESULT ")]
    assert p.returncode == 0 and lines, p.stderr[-4000:]
    return json.loads(lines[-1][len("RESULT "):])


def test_tasks_run_from_neutral_cwd_under_wrapper(neutral_driver):
    assert neutral_driver["wrapper"] == ["filterz_spark.spark.pydaemon.invalidate_caches"]


def test_zip_shipped_to_warm_workers_imports(neutral_driver):
    assert neutral_driver["late"] == [40, 41, 42, 43]
