"""SequenceFile compatibility IO (SURVEY.md §2.1/§2.2).

The reference's flagship container format (IO/SequenceFile.java:222,
flat KV records with sync markers) read and written through Spark's
Hadoop-format RDD bridge — the supported migration path for existing
SequenceFile datasets. Parquet is this engine's *native* format
(columnar, pushdown, pruning); these helpers exist so a reference
user's data is readable on day one, converted once with
``sequencefile_to_parquet``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_sequencefile(
    spark: SparkSession,
    path: str,
    key: str = "key",
    value: str = "value",
) -> DataFrame:
    """Read a SequenceFile of (Text|primitive Writable) KV pairs.
    Writable→Python conversion is Spark's builtin (Text→str,
    IntWritable/LongWritable→int, …). Reference reader:
    MRC/mapreduce/lib/input/SequenceFileInputFormat.java:1."""
    # createDataFrame on THIS session, not rdd.toDF(): PySpark binds
    # toDF to the most recently constructed session (a stream_session
    # child, say)
    return spark.createDataFrame(spark.sparkContext.sequenceFile(path), [key, value])


#: short names for the public Hadoop codec classes shipped with Spark
_CODECS = {
    "default": "org.apache.hadoop.io.compress.DefaultCodec",
    "deflate": "org.apache.hadoop.io.compress.DefaultCodec",
    "gzip": "org.apache.hadoop.io.compress.GzipCodec",
    "bzip2": "org.apache.hadoop.io.compress.BZip2Codec",
    "snappy": "org.apache.hadoop.io.compress.SnappyCodec",
    "lz4": "org.apache.hadoop.io.compress.Lz4Codec",
    "zstd": "org.apache.hadoop.io.compress.ZStandardCodec",
}


def write_sequencefile(
    df: DataFrame,
    path: str,
    compression: str | None = None,
    block_compress: bool | None = None,
) -> None:
    """Write a 2-column DataFrame as a SequenceFile (first column =
    key, second = value; Writable types inferred). Reference:
    MRC/mapreduce/lib/output/SequenceFileOutputFormat.java:1.

    ``compression`` selects the codec — a short name from
    ``_CODECS`` ('gzip', 'bzip2', ...) or a fully-qualified Hadoop
    codec class; None writes uncompressed (reference layout NONE,
    IO/SequenceFile.java:222). ``block_compress`` pins the layout:
    True → BLOCK, False → RECORD, None → Hadoop's default (RECORD).

    Compressed writes go through ``saveAsHadoopFile`` with an
    explicit per-job ``mapreduce.output.fileoutputformat.compress.*``
    conf: ``saveAsSequenceFile(path, codec)`` HARDCODES BLOCK layout
    whenever a codec is given (PairRDDFunctions sets compress.type =
    BLOCK), and neither path ever reads ``io.seqfile.compression.
    type`` — a cluster-conf pin is a silent no-op (measured: the
    header's blockCompressed flag stayed 1; the round-trip test now
    asserts the flag)."""
    if len(df.columns) != 2:
        raise ValueError("SequenceFile sink needs exactly (key, value) columns")
    codec = _CODECS.get(compression.lower(), compression) if compression else None
    if codec is None and block_compress is not None:
        # a layout pin without a codec would be the same silent no-op
        # this docstring criticizes cluster-conf pins for (review-r4b)
        raise ValueError(
            "block_compress requires a compression codec (RECORD/BLOCK "
            "are layouts of COMPRESSED SequenceFiles)"
        )
    rdd = df.rdd.map(tuple)
    if codec is None:
        rdd.saveAsSequenceFile(path)
        return
    conf = {
        "mapreduce.output.fileoutputformat.compress": "true",
        "mapreduce.output.fileoutputformat.compress.codec": codec,
    }
    if block_compress is not None:
        conf["mapreduce.output.fileoutputformat.compress.type"] = (
            "BLOCK" if block_compress else "RECORD"
        )
    rdd.saveAsHadoopFile(
        path, "org.apache.hadoop.mapred.SequenceFileOutputFormat", conf=conf
    )


def sequencefile_to_parquet(
    spark: SparkSession, src: str, dst: str, key: str = "key", value: str = "value"
) -> None:
    """One-time migration: SequenceFile → Parquet (the native format)."""
    read_sequencefile(spark, src, key, value).write.mode("overwrite").parquet(dst)
