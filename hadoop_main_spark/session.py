"""SparkSession factory with scale-oriented defaults.

The reference engine hand-tunes its physical layer via conf keys
(io.sort.mb, io.sort.factor, parallel copies — see
mapred-default.xml in the reference); here the equivalent knobs are
Spark SQL confs. Defaults below are chosen so the same program runs
on local[N] for tests and on a large cluster unchanged:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting)
  replaces the reference's static reduce-count + manual skew fixes.
- Arrow enabled for every pandas-UDF boundary.
- UTC session timezone so timestamp semantics match the DuckDB
  oracle and are cluster-location independent.
- `nanosAsLong` so nanosecond parquet timestamps (events table) are
  readable; `hadoop_main_spark.tables` converts them properly.

:func:`get_spark` also sets what a session must fix before it starts:

- A codegen class cache of ``CODEGEN_CACHE_ENTRIES``. Spark's default
  of 100 is below the working set of a query mix that re-runs a few
  hundred distinct generated classes, so every repeat recompiled them
  through Janino and HotSpot JIT-compiled each new class again.
- On local masters only, ``spark.python.daemon.module`` names
  :mod:`hadoop_main_spark.pydaemon`, which stops pyspark's per-task
  ``importlib.invalidate_caches()`` from re-reading pyspark.zip, and
  ``spark.executorEnv.PYTHONPATH`` holds the directory containing this
  package, so the daemon and any UDF that imports the package load in
  a session started from any working directory. ``extra_conf`` can
  override both. On other masters both stay unset: executors run
  pyspark's own daemon and must have the package installed.
- On local masters only, ``spark.driver.extraJavaOptions`` holds
  ``DRIVER_JIT_OPTIONS``: HotSpot's tier-4 (C2) compile thresholds at
  5x the JDK 17 defaults (invocation 5000, min invocation 600,
  compile 15000). On a local master the driver JVM is the whole
  engine, and with the defaults C2 keeps recompiling lukewarm planner
  and scheduler code all run long: on a 4-vCPU host the JIT took
  10.7, 5.8 and 5.2 s of the 18.0, 12.9 and 12.0 s of process CPU of
  perfbench's three measured iter_stream_io passes, and 5.6, 3.2 and
  2.6 s of 14.2, 10.2 and 9.4 s with these thresholds, which leave
  such code in C1. The back-edge threshold keeps its default, so hot
  loops (e.g. table_fingerprint's hash loop) still reach C2 through
  on-stack replacement; stopping at C1 altogether made the relational
  mix slower. ``extra_conf`` can replace the value. The options act only
  when :func:`get_spark` launches the JVM: a session whose JVM already
  runs (the pyspark shell, spark-submit) keeps the flags it was
  started with. Other masters get none: executors run their own JVMs,
  whose flags the deployment owns.
- On local masters only, the same option also maps a JDK dynamic
  class-data-sharing (CDS) archive: the ~17k classes (mostly Spark's)
  a driver loads, parsed and verified, as a ~170 MB file under
  ``${XDG_CACHE_HOME:-~/.cache}/hadoop_main_spark/cds/``, keyed by the
  JDK and the name, size and mtime of every Spark jar. On a 4-vCPU
  host it cut session start from ~10.7 s to ~5.3 s and perfbench's
  relational ``setup_s`` from 44.5 to 34.5 CPU s (medians of 10
  alternating pairs; lower in all 10). With no archive under the
  current key the JVM dumps one as it exits; the next
  :func:`get_spark` renames a finished dump (its Python process gone,
  its header written, which the JDK does last) into place and deletes
  cut-off dumps and archives of other keys. A dumping session waits
  at exit, up to ``CDS_DUMP_WAIT_S``, for its JVM to finish, so none
  outlives the process. The JDK maps and dumps nothing with a
  non-empty directory on the classpath, and the Spark conf dir comes
  first on it: when that dir holds only ``*.template`` files the JVM
  launch alone sees ``SPARK_CONF_DIR`` at an empty cache subdirectory
  (the same configuration); when it holds a real file the driver gets
  no CDS flags. A missing, stale or corrupt archive is a normal start
  (``-Xshare:auto``). As with the JIT options, ``extra_conf`` replaces
  them and a JVM that already runs keeps its flags.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import struct
import subprocess
import warnings

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

#: Confs that are safe (and desirable) to apply at runtime on an
#: externally provided session as well — see :func:`tune`.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet scans: keep splits near the HDFS-block-sized splits the
    # reference uses (FileInputFormat splitSize = max(min, min(max, block)))
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Small-input parallelism (optimization r11). Both knobs ONLY
    # affect inputs/shuffles far below production partition sizes —
    # at 100 TB, scan splits are governed by maxPartitionBytes and
    # post-shuffle sizes by the 64 MB AQE advisory, so production
    # plans are untouched; overridable per-deployment via env.
    # openCostInBytes: the default 4 MB open-cost floor capped a
    # local 11 MB fact scan at ~3 splits (maxSplitBytes =
    # max(openCost, bytes/parallelism)), leaving 29 of 32 cores idle
    # through every scan+partial-agg stage; 128 KB models local
    # page-cached parquet honestly and lets small inputs fan out.
    "spark.sql.files.openCostInBytes": os.environ.get(
        "SPARK_GRAFT_OPEN_COST", "131072"
    ),
    # minPartitionSize: AQE was coalescing sub-1MB shuffles to 1-2
    # partitions, serializing downstream window/Python stages on
    # fixture-scale data (semantic_dedup 0.88 s -> 0.53 s once kept
    # parallel); 64 KB keeps tiny shuffles spread while leaving
    # at-scale coalescing (driven by the advisory size) unchanged.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": os.environ.get(
        "SPARK_GRAFT_MIN_PARTITION_SIZE", "65536"
    ),
    "spark.sql.parquet.aggregatePushdown": "true",
    # runtime row-level join pruning: build a bloom filter from the
    # selective side of a shuffle join and push it into the big scan.
    # NOTE: do NOT also enable runtimeFilter.semiJoinReduction — on this
    # Spark build it sends the optimizer into a loop (trivial queries hang).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
}


#: Entries of Spark's compiled-class cache (static conf
#: ``spark.sql.codegen.cache.maxEntries``, default 100). The widest
#: query mix measured, perfbench's iter_stream_io, compiles 266
#: distinct classes per pass; this leaves room for a mix several times
#: wider.
CODEGEN_CACHE_ENTRIES = 2000

#: HotSpot flags of a local driver JVM (``spark.driver.extraJavaOptions``)
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=25000 "
    "-XX:Tier4MinInvocationThreshold=3000 "
    "-XX:Tier4CompileThreshold=75000"
)

#: Directory that contains the ``hadoop_main_spark`` package.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: First bytes of a finished JDK dynamic CDS archive: magic, header CRC,
#: version. The dump writes its header last, so a cut-off one reads 0.
CDS_DYNAMIC_MAGIC = 0xF00BABA8
#: Seconds an exiting Python process waits for its JVM to write the archive.
CDS_DUMP_WAIT_S = 60


def cds_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "hadoop_main_spark", "cds")


def java_home() -> str:
    """The JDK spark-submit runs: ``$JAVA_HOME``, else the one of
    ``java`` on the PATH."""
    java = os.environ.get("JAVA_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("java") or "/"))
    )
    return os.path.realpath(java)


def cds_key(jdk: str, spark_home: str) -> str:
    """The JDK and every jar on the driver classpath, by name, size and
    mtime: any change to them names a new archive."""
    h = hashlib.sha256()
    st = os.stat(os.path.join(jdk, "lib", "modules"))
    h.update(f"{jdk}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        if name.endswith(".jar"):
            st = os.stat(os.path.join(jars, name))
            h.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:20]


def _archive_complete(path: str) -> bool:
    with open(path, "rb") as f:
        head = f.read(12)
    if len(head) < 12:
        return False
    magic, _crc, version = struct.unpack("<IiI", head)
    return magic == CDS_DYNAMIC_MAGIC and version > 0


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, another user's
        pass
    return True


def cds_options(cache: str, key: str) -> str:
    """CDS flags for a driver JVM launched now. First tidies ``cache``:
    a finished dump under ``key`` whose Python process has exited
    becomes ``<key>.jsa``; cut-off dumps, other dead dumps and archives
    under other keys are deleted. Then the JVM maps ``<key>.jsa`` if it
    is there, else dumps its loaded classes at exit to a temp file of
    this process."""
    archive = os.path.join(cache, f"{key}.jsa")
    for name in os.listdir(cache):
        path = os.path.join(cache, name)
        stem, _, pid = name.removesuffix(".tmp").partition(".")
        if name.endswith(".tmp") and pid.isdigit():
            if _pid_alive(int(pid)):
                continue
            if stem == key and _archive_complete(path):
                os.replace(path, archive)
                continue
        elif not name.endswith(".jsa") or name == f"{key}.jsa":
            continue
        os.remove(path)
    if os.path.exists(archive) and not _archive_complete(archive):
        os.remove(archive)
    if os.path.exists(archive):
        flag = f"-XX:SharedArchiveFile={archive}"
    else:
        flag = f"-XX:ArchiveClassesAtExit={cache}/{key}.{os.getpid()}.tmp"
    # the dump warns once per class it skips, on the JVM's stdout
    return f"{flag} -Xlog:cds*=off"


def driver_cds() -> tuple[str, str] | None:
    """(CDS flags, empty conf dir) for a local driver JVM, or None when
    the Spark conf dir holds a real file: the JDK maps and dumps no
    archive with a non-empty directory on the classpath, and that conf
    dir comes first on it."""
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf) and any(not n.endswith(".template") for n in os.listdir(conf)):
        return None
    cache = cds_dir()
    empty_conf = os.path.join(cache, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf):
            return None
        return cds_options(cache, cds_key(java_home(), spark_home)), empty_conf
    except OSError:
        # no JDK modules image or jars dir, an unwritable cache, or a
        # concurrent launch that tidied the same file first: no CDS
        return None


def _await_dump(proc: subprocess.Popen) -> None:
    """End a dumping JVM before its Python process exits: it writes the
    archive on the way out, and would otherwise outlive the process."""
    if proc.poll() is not None:
        return
    if proc.stdin and not proc.stdin.closed:
        proc.stdin.close()  # Spark's gateway exits when stdin closes
    try:
        proc.wait(timeout=CDS_DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()  # its temp file keeps a zero header and is deleted later
        proc.wait()


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "hadoop-main-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    On a real cluster `master` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    cds = None
    if master.startswith("local"):
        launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
        if launches and "spark.driver.extraJavaOptions" not in (extra_conf or {}):
            cds = driver_cds()
        builder = (
            builder.config("spark.python.daemon.module", "hadoop_main_spark.pydaemon")
            .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
            .config(
                "spark.driver.extraJavaOptions",
                f"{DRIVER_JIT_OPTIONS} {cds[0]}" if cds else DRIVER_JIT_OPTIONS,
            )
        )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if cds:
        flags, empty_conf = cds
        saved = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = empty_conf  # for the JVM launch alone
        try:
            spark = builder.getOrCreate()
        finally:
            os.environ.pop("SPARK_CONF_DIR")
            if saved is not None:
                os.environ["SPARK_CONF_DIR"] = saved
        if "-XX:ArchiveClassesAtExit=" in flags:
            atexit.register(_await_dump, SparkContext._gateway.proc)
    else:
        spark = builder.getOrCreate()
    tune(spark)
    # re-apply CALLER choices after tune(): tune unconditionally sets
    # the runtime confs and the shuffle size, silently clobbering an
    # explicit shuffle_partitions= or an overlapping extra_conf key
    # (review-r4b)
    if shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        try:
            spark.conf.set(k, v)
        except Exception as e:  # noqa: BLE001 — narrowed by message below
            # only static (non-runtime) confs legitimately fail here;
            # anything else is a real error the caller must see, and
            # even the static case deserves a warning: the caller's
            # value stays clobbered by tune() (advice-r4)
            if "Cannot modify" in str(e) or "static" in str(e).lower():
                warnings.warn(
                    f"extra_conf key {k!r} is a static conf and could not be "
                    f"re-applied after tune(); the session keeps tune()'s value",
                    stacklevel=2,
                )
            else:
                raise
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally created session
    (e.g. the verification driver's). Best-effort: unsettable keys are
    skipped."""
    # "Cannot modify"/static-conf failures are expected on an external
    # session and skipped with a warning; any OTHER failure (e.g. a
    # typo'd key rejected outright) must surface, not vanish (advice-r5)
    def _set(k: str, v: str) -> None:
        try:
            spark.conf.set(k, v)
        except Exception as e:  # noqa: BLE001 — narrowed by message below
            if "Cannot modify" in str(e) or "static" in str(e).lower():
                warnings.warn(
                    f"tune(): conf {k!r} is static on this session; keeping "
                    f"the session's existing value",
                    stacklevel=3,
                )
            else:
                raise

    for k, v in RUNTIME_CONFS.items():
        _set(k, v)
    # size the shuffle to the machine instead of the 200 default;
    # AQE still coalesces below this at runtime
    _set("spark.sql.shuffle.partitions", str(default_parallelism()))
    return spark
