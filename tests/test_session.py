"""Session-level fixed costs: the compiled-class cache, the Python
worker daemon, the workers' import path, the driver JVM's JIT
thresholds and its class-data-sharing archive."""

from __future__ import annotations

import importlib
import os
import struct
import subprocess
import sys
import zipfile
import zipimport

import pytest
from pyspark.find_spark_home import _find_spark_home

from hadoop_main_spark import pydaemon
from hadoop_main_spark.session import (
    CDS_DYNAMIC_MAGIC,
    CODEGEN_CACHE_ENTRIES,
    DRIVER_JIT_OPTIONS,
    PACKAGE_ROOT,
    cds_dir,
    cds_key,
    cds_options,
    driver_cds,
    java_home,
)

_CDS_FLAGS = ("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit=")


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
    # the CDS archive: mapped, or dumped at exit when there is none yet
    (cds,) = [a for a in jvm_args if a.startswith(_CDS_FLAGS)]
    assert cds.split("=", 1)[1].startswith(cds_dir() + os.sep)

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


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def _archive(path, header: bool) -> None:
    head = struct.pack("<IiI", CDS_DYNAMIC_MAGIC, 7, 11) if header else bytes(12)
    path.write_bytes(head + os.urandom(64))


def test_cds_cache_promotes_only_finished_dumps(tmp_path, monkeypatch):
    cache = tmp_path / "cds"
    cache.mkdir()
    done, cut = cache / f"k.{_dead_pid()}.tmp", cache / f"k.{_dead_pid()}.tmp"
    live = cache / f"k.{os.getpid()}.tmp"
    _archive(done, header=True)
    _archive(cut, header=False)  # the header is written last: cut off mid-dump
    _archive(live, header=True)  # its process may still be dumping
    _archive(cache / "stale.jsa", header=True)
    assert cds_options(str(cache), "k").split()[0] == f"-XX:SharedArchiveFile={cache}/k.jsa"
    assert sorted(os.listdir(cache)) == sorted(["k.jsa", live.name])

    # a cut-off dump alone is deleted, and the next JVM dumps anew
    live.unlink()
    (cache / "k.jsa").unlink()
    _archive(cut, header=False)
    flags = cds_options(str(cache), "k").split()
    assert flags[0] == f"-XX:ArchiveClassesAtExit={cache}/k.{os.getpid()}.tmp"
    assert os.listdir(cache) == []

    # any jar change names a new archive
    jdk, spark_home = tmp_path / "jdk", tmp_path / "spark"
    (jdk / "lib").mkdir(parents=True)
    (jdk / "lib" / "modules").write_bytes(b"m")
    (spark_home / "jars").mkdir(parents=True)
    jar = spark_home / "jars" / "a.jar"
    jar.write_bytes(b"j")
    key = cds_key(str(jdk), str(spark_home))
    os.utime(jar, ns=(0, 10**9))
    assert cds_key(str(jdk), str(spark_home)) != key

    # a conf dir of templates is swapped for an empty one; a real conf
    # file would land on the classpath, so it gets no CDS at all
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    flags, empty = driver_cds()
    assert flags.startswith("-XX:ArchiveClassesAtExit=") and os.listdir(empty) == []
    (conf / "spark-defaults.conf").write_text("")
    assert driver_cds() is None


def test_session_starts_over_a_corrupt_archive(tmp_path):
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path))
    env.pop("SPARK_CONF_DIR", None)
    cache = tmp_path / "hadoop_main_spark" / "cds"
    cache.mkdir(parents=True)
    # a valid header over junk: the JVM itself must refuse it
    _archive(cache / f"{cds_key(java_home(), _find_spark_home())}.jsa", header=True)
    script = (
        "import os\n"
        "from hadoop_main_spark.session import get_spark\n"
        "s = get_spark('cds-fallback', shuffle_partitions=2)\n"
        "mx = s._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()\n"
        "print([a for a in mx.getInputArguments() if a.startswith('-XX:Shared')])\n"
        "print(s.range(1000).filter('id % 7 = 0').count(), os.environ.get('SPARK_CONF_DIR'))\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        cwd=PACKAGE_ROOT, env=env, timeout=180,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    flags, result = r.stdout.strip().splitlines()[-2:]
    assert f"-XX:SharedArchiveFile={cache}/" in flags
    assert result == "143 None"
