"""Stat-checked zip invalidation in reused PySpark workers.

Each test runs its interpreter in a subprocess, so pytest's own process
(and the suite's Spark workers) keep the stock ``zipimport``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ZIPCACHE = os.path.join(REPO, "extractthinker_spark", "zipcache.py")

# Loads zipcache.py by path (no package import, no pyspark), stamps a zip
# on sys.path, then reports what invalidate_caches() does to it.
UNIT_SCRIPT = """
import importlib, importlib.util, json, os, sys, zipfile, zipimport

spec = importlib.util.spec_from_file_location("zipcache", {zipcache!r})
zipcache = importlib.util.module_from_spec(spec)
spec.loader.exec_module(zipcache)

archive = os.path.join({tmp!r}, "mods.zip")
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("zc_a.py", "X = 1\\n")
sys.path.insert(0, archive)
import zc_a

stock = zipimport.zipimporter.invalidate_caches
out = {{"installed": zipcache.install_stat_checked_zip_invalidation()}}
patched = zipimport.zipimporter.invalidate_caches
out["untouched"] = patched is stock

reads = []
read = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or read(path)
importlib.invalidate_caches()
importlib.invalidate_caches()
out["reads_unchanged"] = len(reads)

with zipfile.ZipFile(archive, "w") as z:
    z.writestr("zc_a.py", "X = 1\\n")
    z.writestr("zc_b.py", "Y = 2\\n")
importlib.invalidate_caches()
import zc_b
out["new_module"] = zc_b.Y

out["second_install"] = zipcache.install_stat_checked_zip_invalidation()
out["same_method"] = zipimport.zipimporter.invalidate_caches is patched
out["version"] = list(sys.version_info[:2])
print(json.dumps(out))
"""


def _run_unit(python: str, tmp_path) -> dict:
    script = UNIT_SCRIPT.format(zipcache=ZIPCACHE, tmp=str(tmp_path))
    proc = subprocess.run(
        [python, "-c", script], capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_unchanged_archive_is_not_reread(tmp_path):
    if sys.version_info >= (3, 13):
        pytest.skip("CPython >= 3.13 no longer re-reads archives")
    out = _run_unit(sys.executable, tmp_path)
    assert out["installed"] and not out["untouched"]
    assert out["reads_unchanged"] == 0
    assert out["new_module"] == 2
    assert out["second_install"] is False and out["same_method"]


def _python_313():
    for name in ("python3.13", "python3.14", "python3"):
        exe = shutil.which(name)
        if exe is None:
            continue
        proc = subprocess.run(
            [exe, "-c", "import sys; print(sys.version_info >= (3, 13))"],
            capture_output=True,
            text=True,
        )
        if proc.returncode == 0 and proc.stdout.strip() == "True":
            return exe
    return None


def test_cpython_313_method_left_alone(tmp_path):
    python = sys.executable if sys.version_info >= (3, 13) else _python_313()
    if python is None:
        pytest.skip("no CPython >= 3.13 interpreter on PATH")
    out = _run_unit(python, tmp_path)
    assert out["version"] >= [3, 13]
    assert out["installed"] is False and out["untouched"]
    assert out["new_module"] == 2


# A plain driver-side import must leave zipimport alone; inside the
# workers, importing the package patches it, so the per-task
# invalidate_caches() reads no zip directory, also in reused workers.
SPARK_SCRIPT = """
import json, zipimport

stock = zipimport.zipimporter.invalidate_caches
import extractthinker_spark
driver_untouched = zipimport.zipimporter.invalidate_caches is stock

import pandas as pd
import pyspark.sql.functions as F

spark = extractthinker_spark.get_spark("zipcache-test", master="local[4]")


@F.pandas_udf("pid long, reads long")
def probe(ids: pd.Series) -> pd.DataFrame:
    import importlib, os, zipimport
    import extractthinker_spark  # noqa: F401

    reads = []
    read = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or read(path)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    return pd.DataFrame({"pid": os.getpid(), "reads": len(reads)}, index=ids.index)


df = spark.range(0, 400, numPartitions=4)
per_task = df.select(probe("id").alias("p")).select("p.*").distinct()
jobs = [[tuple(r) for r in per_task.collect()] for _ in range(2)]
spark.stop()
print(json.dumps({
    "driver_untouched": driver_untouched,
    "driver_untouched_after": zipimport.zipimporter.invalidate_caches is stock,
    "jobs": jobs,
}))
"""


def test_reused_workers_skip_zip_rereads(tmp_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", SPARK_SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(tmp_path),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["driver_untouched"] and out["driver_untouched_after"]
    first, second = out["jobs"]
    assert first and second
    assert all(reads == 0 for _, reads in first + second)
    # The second job ran (at least partly) in the first job's workers.
    assert {pid for pid, _ in second} & {pid for pid, _ in first}
