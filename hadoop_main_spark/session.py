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
"""

from __future__ import annotations

import os
import warnings

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

#: Directory that contains the ``hadoop_main_spark`` package.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
    if master.startswith("local"):
        builder = builder.config(
            "spark.python.daemon.module", "hadoop_main_spark.pydaemon"
        ).config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
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
