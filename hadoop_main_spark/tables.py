"""Loaders for the TESTDATA.md parquet tables.

One loader per table so schema quirks are handled in exactly one
place (the `events` table is written with nanosecond timestamps,
which Spark reads as long under
``spark.sql.legacy.parquet.nanosAsLong`` — we convert to a proper
microsecond timestamp with integer division, no float rounding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def data_fingerprint(path: str, suffix: str = ".parquet") -> str:
    """Size+mtime digest of ``path`` (a data file, or a directory
    walked recursively for ``suffix`` files), with each entry keyed by
    its path RELATIVE to the root — relocating identical bytes between
    partition subdirectories changes the digest. The single source of
    truth for every "stale data must invalidate derived artifacts"
    check (build-if-absent index dirs, the oracle-result cache):
    regenerated data at the same path gets a fresh key, so nothing can
    silently reuse results computed from old data (review-r6)."""
    import hashlib
    import os

    path = os.path.abspath(path)
    parts = [path]
    if os.path.isfile(path):
        st = os.stat(path)
        parts.append(f".:{st.st_size}:{st.st_mtime_ns}")
    else:
        for root, _dirs, files in sorted(os.walk(path)):
            for f in sorted(files):
                if suffix and not f.endswith(suffix):
                    continue
                full = os.path.join(root, f)
                st = os.stat(full)
                rel = os.path.relpath(full, path)
                parts.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        df = spark.read.parquet(path)
        # ts arrives either as int64 nanoseconds (truncate, not round,
        # to µs) or — newer testdata — as timestamp[us] without UTC
        # adjustment, which Spark reads as TIMESTAMP_NTZ. Normalize to
        # a session-tz timestamp (tz pinned UTC in session.tune) so
        # unix_micros()/window arithmetic downstream keeps working.
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # FLOOR division: `div` truncates toward zero, rounding
            # pre-epoch nanos UP a microsecond (review-r4b); exact
            # integer floor keeps negatives correct too
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000")),
            )
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for spark.sql queries)."""
    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
