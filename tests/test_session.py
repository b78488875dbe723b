"""Session defaults from ``get_spark``: warm passes reuse generated code,
and Python workers re-read only the zip archives that changed."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

import pyspark.sql.functions as F
from pyspark.sql.types import StringType

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _compiles(spark) -> int:
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_working_set_over_100_classes(spark):
    """~240 generated classes (each projection's stage and its result
    projection) overflow Spark's 100-entry default, where a second round
    recompiled about half of them; the session's cache keeps every one."""
    assert not spark.streams.active, "a background query would compile"
    # primitive literals are inlined, so each projection's code is distinct
    one_row = spark.range(0, 1, 1, 1)
    dfs = [one_row.selectExpr(f"id * {k} + {7 * k + 3} AS v")
           for k in range(120)]
    for df in dfs:
        df.collect()
    before = _compiles(spark)
    for df in dfs:
        df.collect()
    assert _compiles(spark) - before == 0


_ZIP_PROBE = """
import importlib, sys, zipfile, zipimport

zp = sys.argv[1]

def write(names):
    with zipfile.ZipFile(zp, "w") as z:
        for n in names:
            z.writestr(n + ".py", "NAME = %r\\n" % n)

write(["opd_zip_a"])
sys.path.insert(0, zp)
import opd_zip_a

from openpolicedata_spark import worker_daemon
worker_daemon.install()

reads = []
read = zipimport._read_directory
def counting(path):
    if path == zp:
        reads.append(path)
    return read(path)
zipimport._read_directory = counting

importlib.invalidate_caches()   # the importer's first call reads once
first = len(reads)
for _ in range(5):
    importlib.invalidate_caches()
print("unchanged", len(reads) - first)

write(["opd_zip_a", "opd_zip_b"])
importlib.invalidate_caches()
import opd_zip_b
print("rewritten", opd_zip_b.NAME)
"""


def test_worker_daemon_rereads_a_zip_only_when_it_changes(tmp_path):
    """In a fresh interpreter, so this process's zipimport is untouched."""
    script = tmp_path / "probe.py"
    script.write_text(textwrap.dedent(_ZIP_PROBE))
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, str(script), str(tmp_path / "mods.zip")],
        env=env, capture_output=True, text=True, timeout=120, check=True,
    ).stdout.split("\n")
    if sys.version_info < (3, 13):
        assert "unchanged 0" in out, out
    assert "rewritten opd_zip_b" in out, out


def test_executor_workers_run_the_daemon_and_see_added_py_files(
        spark, tmp_path):
    @F.udf(StringType())
    def patched_by(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__module__

    got = spark.range(1).select(patched_by("id")).first()[0]
    want = ("openpolicedata_spark.worker_daemon"
            if sys.version_info < (3, 13) else "zipimport")
    assert got == want

    # the workers are up; a zip added now is importable in the next task
    name = f"opd_added_{uuid.uuid4().hex[:8]}"
    zp = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    sc = spark.sparkContext
    sc.addPyFile(str(zp))
    value = sc.parallelize([0], 1).map(
        lambda _: __import__(name).VALUE).collect()
    assert value == [42]
