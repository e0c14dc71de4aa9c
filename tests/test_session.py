"""Session-level fixed costs: the compiled-class cache, the Python
worker daemon, the workers' import path and the driver JVM's JIT
thresholds."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from hadoop_main_spark import pydaemon
from hadoop_main_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    DRIVER_JIT_OPTIONS,
    PACKAGE_ROOT,
)


def _write_zip(path, modules: dict[str, str]) -> None:
    # write-then-rename, the way a deploy replaces an archive: the new
    # file gets a new inode even when size and mtime happen to match
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this interpreter's zipimport cache is already lazy",
)
def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"hms_zip_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    # restored at teardown, so the rest of the suite keeps the stock rule
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("hms_zip_a").VALUE == 1
        pydaemon.install()
        pydaemon.install()  # idempotent: one wrapper, not two
        importlib.invalidate_caches()
        seen = reads.count(archive)
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads.count(archive) == seen

        _write_zip(archive, {"hms_zip_a": "VALUE = 1\n", "hms_zip_b": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == seen + 1
        assert importlib.import_module("hms_zip_b").VALUE == 2
    finally:
        for mod in ("hms_zip_a", "hms_zip_b"):
            sys.modules.pop(mod, None)
        sys.path_importer_cache.pop(archive, None)


def test_session_carries_fixed_cost_confs(spark):
    sc = spark.sparkContext
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    assert sc.getConf().get("spark.python.daemon.module") == "hadoop_main_spark.pydaemon"
    assert sc.environment["PYTHONPATH"] == PACKAGE_ROOT
    # the flags the running driver JVM was started with
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    jvm_args = set(mx.getInputArguments())
    for flag in (
        "-XX:Tier4InvocationThreshold=25000",
        "-XX:Tier4MinInvocationThreshold=3000",
        "-XX:Tier4CompileThreshold=75000",
    ):
        assert flag in DRIVER_JIT_OPTIONS.split() and flag in jvm_args

    def probe(_):
        import zipimport

        import hadoop_main_spark  # noqa: F401 — importable on the workers

        cls = zipimport.zipimporter
        return [hasattr(cls.invalidate_caches, "reread") or hasattr(cls, "_get_files")]

    # the workers run under the daemon module, so the lazy rule (or the
    # interpreter's own lazy cache) is in force there
    assert sc.parallelize([0], 1).flatMap(probe).collect() == [True]


def test_codegen_cache_holds_a_wide_query_mix(spark):
    # one count per Janino compilation, cache hits excluded
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def plan(i):
        # the literal is inlined into the generated code: one class each
        return spark.range(4, numPartitions=1).selectExpr(f"id * {i} + {i} AS v")

    n = 120  # above Spark's default cache of 100 classes
    before = metric.getCount()
    for i in range(n):
        plan(i).collect()
    assert metric.getCount() - before >= n  # each plan compiled something new
    before = metric.getCount()
    for i in range(0, n, 7):
        plan(i).collect()
    assert metric.getCount() == before
