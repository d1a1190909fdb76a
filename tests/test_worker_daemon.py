"""The worker daemon's zip-directory guard (worker_daemon.py).

The unit tests run in a subprocess, so the test interpreter's own
importers stay stock; each scenario runs with and without the guard and
must import the same modules, while the guard alone skips re-reading an
unchanged archive."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import uuid
import zipfile

from pyspark.sql import functions as F

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_DAEMON = "real_time_genai_embeddings_for_rag_with_apache_flink_spark.worker_daemon"

_SCENARIO = r"""
import importlib, json, os, sys, time, zipfile, zipimport

archive, guard = sys.argv[1], sys.argv[2] == "1"
if guard:
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark import worker_daemon
    worker_daemon.install()

reads = []
stock_read = zipimport._read_directory
def counting_read(path):
    if path == archive:
        reads.append(path)
    return stock_read(path)
zipimport._read_directory = counting_read

def write(*names):
    with zipfile.ZipFile(archive, "w") as z:
        for n in names:
            z.writestr(f"{n}.py", f"NAME = {n!r}\n")

def attempt(name):
    try:
        return importlib.import_module(name).NAME
    except ModuleNotFoundError:
        return None

out = {}
write("mod_a")
sys.path.insert(0, archive)
out["a"] = attempt("mod_a")
out["b_before"] = attempt("mod_b")
reads.clear()
importlib.invalidate_caches()  # the first per-task call in a fresh process
out["reads_first"] = len(reads)
reads.clear()
for _ in range(3):
    importlib.invalidate_caches()
out["reads_unchanged"] = len(reads)
write("mod_a", "mod_b", "mod_c")  # same path, one more module and another
importlib.invalidate_caches()
out["b_after_rewrite"] = attempt("mod_b")
os.remove(archive)
importlib.invalidate_caches()
out["c_after_delete"] = attempt("mod_c")
write("mod_d")
importlib.invalidate_caches()
out["d_after_recreate"] = attempt("mod_d")
# rewrite in place at the same size and put the old mtime back: only
# st_ctime_ns tells the two archives apart
before = os.stat(archive)
time.sleep(0.05)
write("mod_e")
os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns))
after = os.stat(archive)
out["same_ino_size_mtime"] = [before.st_ino, before.st_size, before.st_mtime_ns] == [
    after.st_ino, after.st_size, after.st_mtime_ns]
importlib.invalidate_caches()
out["e_after_same_size_rewrite"] = attempt("mod_e")
out["guard"] = zipimport.zipimporter.invalidate_caches.__module__
print(json.dumps(out))
"""


def _scenario(tmp_path, guard: bool) -> dict:
    archive = tmp_path / f"lib-{int(guard)}.zip"
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        p for p in (_ROOT, os.environ.get("PYTHONPATH")) if p
    )}
    out = subprocess.run(
        [sys.executable, "-c", _SCENARIO, str(archive), "1" if guard else "0"],
        env=env, capture_output=True, text=True, timeout=60, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_guard_imports_what_stock_python_imports(tmp_path):
    """Import from a zip, rewrite it in place with more modules, delete
    it, recreate it, rewrite it in place at the same size and mtime: the
    guarded interpreter imports exactly what the stock one does, and
    neither raises on a missing archive."""
    stock, guarded = _scenario(tmp_path, False), _scenario(tmp_path, True)
    assert guarded["guard"] == _DAEMON
    assert stock["guard"] == "zipimport"
    assert stock["same_ino_size_mtime"] and guarded["same_ino_size_mtime"]
    outcomes = [
        "a",
        "b_before",
        "b_after_rewrite",
        "c_after_delete",
        "d_after_recreate",
        "e_after_same_size_rewrite",
    ]
    assert {k: guarded[k] for k in outcomes} == {k: stock[k] for k in outcomes} == {
        "a": "mod_a",
        "b_before": None,
        "b_after_rewrite": "mod_b",
        "c_after_delete": None,
        "d_after_recreate": "mod_d",
        "e_after_same_size_rewrite": "mod_e",
    }


def test_guard_skips_rereading_an_unchanged_archive(tmp_path):
    """Stock Python re-parses the archive directory on every
    ``invalidate_caches()``; the guard reads it once per process (the
    importer was built outside the guard) and then never again while
    the archive is unchanged."""
    stock, guarded = _scenario(tmp_path, False), _scenario(tmp_path, True)
    assert stock["reads_first"] == 1 and stock["reads_unchanged"] == 3
    assert guarded["reads_first"] == 1 and guarded["reads_unchanged"] == 0


def test_session_workers_run_the_guard(spark):
    """Every Python worker of a ``build_session`` session forks from
    the package's daemon, so the guard is in place in the task."""

    def guard_of(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__name__

    got = spark.sparkContext.parallelize(range(4), 4).map(guard_of).collect()
    assert got == ["_invalidate_caches"] * 4


def test_add_py_file_mid_session_is_importable_in_the_next_udf(spark, tmp_path):
    """A zip shipped with ``addPyFile`` after workers have run tasks is a
    new path entry for them, so the next UDF imports from it."""
    spark.range(4).repartition(4).select(F.udf(lambda x: x, "long")("id")).collect()
    name = f"pyfile_probe_{uuid.uuid4().hex}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    @F.udf("long")
    def from_pyfile(x):
        import importlib

        return importlib.import_module(name).VALUE + x

    got = spark.range(4).repartition(4).select(from_pyfile("id").alias("v")).collect()
    assert sorted(r.v for r in got) == [42, 43, 44, 45]
