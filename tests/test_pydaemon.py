"""bdt_spark.pydaemon: Spark's Python worker daemon with zip re-reads
guarded. A reused worker calls importlib.invalidate_caches() before every
task; on CPython < 3.13 that re-read every zip archive on sys.path."""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter so the patched zipimporter and the test
# archive never reach this process's sys.path. Prints one JSON object.
_PROBE = r"""
import importlib, json, os, sys, zipfile, zipimport

from bdt_spark import pydaemon

archive = os.path.join(sys.argv[1], "mods.zip")

def write(modules):
    with zipfile.ZipFile(archive, "w") as z:
        for name in modules:
            z.writestr(name + ".py", "X = 1\n")
            z.writestr("sub/" + name + "_sub.py", "X = 2\n")

write(["old_mod"])
sys.path[:0] = [archive, os.path.join(archive, "sub")]
import old_mod, old_mod_sub  # two zipimporters over the one archive

stdlib = zipimport.zipimporter.invalidate_caches
pydaemon.guard_zip_invalidation()
reads = []
read_directory = zipimport._read_directory

def counting(path):
    if path == archive:
        reads.append(path)
    return read_directory(path)

zipimport._read_directory = counting
importlib.invalidate_caches()
first = len(reads)
for _ in range(5):
    importlib.invalidate_caches()
unchanged = len(reads) - first

st = os.stat(archive)
write(["old_mod", "new_mod"])
os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
importlib.invalidate_caches()
import new_mod

print(json.dumps({
    "version": list(sys.version_info[:2]),
    "guarded": zipimport.zipimporter.invalidate_caches is not stdlib,
    "importers": sum(getattr(f, "archive", None) == archive
                     for f in sys.path_importer_cache.values()),
    "first": first,
    "unchanged": unchanged,
    "new_mod": new_mod.X,
}))
"""


@pytest.mark.parametrize("python", ["current", "python3.13"])
def test_unchanged_zip_is_not_reread(python, tmp_path):
    """Below CPython 3.13, after an archive's first guarded re-read (one
    read for both importers over it), further invalidations read it no
    more; a zip rewritten in place is re-read, so a module only the new
    archive holds imports. From 3.13 the stdlib method is left as is."""
    exe = sys.executable if python == "current" else shutil.which(python)
    if not exe or subprocess.run([exe, "-c", "0"], capture_output=True).returncode:
        pytest.skip(f"no {python} on PATH")
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [exe, "-c", _PROBE, str(tmp_path)],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    res = json.loads(out.stdout.splitlines()[-1])
    assert res["new_mod"] == 1
    if tuple(res["version"]) < (3, 13):
        assert res["guarded"]
        assert res["importers"] == 2
        assert res["first"] == 1
        assert res["unchanged"] == 0
    else:
        assert not res["guarded"]


def test_spark_workers_run_the_guarded_daemon(spark):
    """A session's Python workers fork from bdt_spark.pydaemon and run its
    guarded invalidate_caches (below 3.13), and workers are still reused:
    sequential single-task jobs, more of them than the worker pool can
    hold, report a repeated worker pid."""
    import pandas as pd

    def probe(pdf):
        import zipimport

        return pd.DataFrame({
            "pid": [os.getpid()],
            "main": [sys.modules["__main__"].__file__],
            "method": [zipimport.zipimporter.invalidate_caches.__code__.co_filename],
            "old": [sys.version_info < (3, 13)],
        })

    schema = "pid long, main string, method string, old boolean"
    [row] = spark.range(1).mapInPandas(
        lambda it: (probe(p) for p in it), schema
    ).collect()
    assert row.main.endswith(os.path.join("bdt_spark", "pydaemon.py"))
    if row.old:
        assert row.method == row.main

    one = spark.range(1).withColumnRenamed("id", "g")
    runs = 2 * spark.sparkContext.defaultParallelism + 2
    # collect(), not first(): a task that stops reading its Python
    # output early closes that worker instead of returning it to the pool
    pids = [
        one.groupBy("g").applyInPandas(probe, schema).collect()[0].pid
        for _ in range(runs)
    ]
    assert len(set(pids)) < runs, pids
