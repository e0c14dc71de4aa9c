"""Structured Streaming operators (capability extension, SURVEY §2.12).

The reference has no stream processing (its "Streaming" is
subprocess piping). We add the standard event-time toolkit on the
same expressions the batch queries use — the point of the design is
that `events_window` (plans/core_queries.py) and
:func:`tumbling_counts` share aggregation logic, so a batch oracle
validates the streaming operator.

Scale notes: state-store size is bounded by the watermark horizon;
`dropDuplicates` state by the id column's cardinality within it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API — works for
    any URI scheme the session can read (local, hdfs://, s3a://...)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def read_table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream over any TESTDATA table parquet. Spark file
    streams require a *directory*; the fixture is a single file, so we
    stage a symlink dir (at real scale the source is already a growing
    directory). Nanos timestamps read back as bigint and convert to µs
    exactly as tables.load_table does."""
    import os
    import tempfile

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    src = f"{sf_dir.rstrip('/')}/{table}.parquet"
    if os.path.isdir(src):
        stream_dir = src
    else:
        # md5 of the source path, NOT Python hash(): hash() is salted
        # per process, which minted a fresh never-cleaned staging dir
        # per run — the stable digest reuses one dir per source forever
        import hashlib

        digest = hashlib.md5(src.encode("utf-8")).hexdigest()[:12]
        stream_dir = os.path.join(
            tempfile.gettempdir(), f"{table}_stream_{digest}"
        )
        os.makedirs(stream_dir, exist_ok=True)
        link = os.path.join(stream_dir, f"{table}.parquet")
        # the link may exist but point at a different (stale) source
        # after testdata regeneration — verify and refresh
        if os.path.islink(link) and os.readlink(link) != src:
            os.remove(link)
        if not os.path.exists(link):
            os.symlink(src, link)
    stream = replay_stream(spark, stream_dir, spark.read.parquet(src).schema)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # newer testdata writes timestamp[us] without UTC adjustment;
        # normalize to session-tz timestamp exactly like tables.load_table
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (see
    :func:`read_table_stream`)."""
    return read_table_stream(spark, sf_dir, "events")


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key: str = "event_type",
) -> DataFrame:
    """Tumbling event-time window counts + sums with late-data
    handling via watermark. Works on both batch and streaming frames
    (watermark applies only under readStream)."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(ts_col, window).alias("w"), key)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            key,
            "n_events",
            "total_value",
        )
    )


def sliding_avg(
    events: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "4 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding window average value per event_type."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(ts_col, window, slide).alias("w"), "event_type")
        .agg((F.sum(F.col("value").cast("decimal(18,4)")).cast("double") / F.count("*")).alias("avg_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "avg_value")
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key: str = "user_id",
) -> DataFrame:
    """Session windows per user (gap-based) — the reference has no
    session concept at all; built on F.session_window."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window(ts_col, gap).alias("w"), key)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key,
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, id_col: str = "event_id", watermark: str = "2 hours") -> DataFrame:
    """Exactly-once-per-id stream dedup within the watermark horizon
    (the streaming form of exact_dedup). Uses
    ``dropDuplicatesWithinWatermark`` so the dedup state is actually
    EVICTED as the watermark advances — plain ``dropDuplicates`` on
    [id] alone never clears state (the watermark column must be part
    of the subset), which grows one entry per id forever
    (review-r4b)."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            [id_col]
        )
    return events.dropDuplicates([id_col])


def run_to_memory(
    stream_df: DataFrame, name: str, timeout_s: int = 120, output_mode: str = "complete"
) -> None:
    """Drive a streaming frame to completion into an in-memory table
    (availableNow trigger) — the test/validation harness. Spark only
    allows 'complete' for aggregated streams; pass
    ``output_mode='append'`` for non-aggregated ones. Raises if the
    query does not finish within ``timeout_s`` (a silent timeout
    would leave a half-filled table behind)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"stream '{name}' did not finish in {timeout_s}s")


def stage_waves(waves: list[DataFrame], src: str) -> str:
    """Stage ``waves`` in the new dir ``src`` for :func:`replay_stream`:
    wave k becomes the one parquet file ``w{k}.parquet`` with an mtime
    60 s after wave k-1's, so the file source (oldest files first,
    one per micro-batch) feeds it as batch k. Each wave is written
    with coalesce(1) to a sibling dir that is removed once its part
    file has moved. Returns ``src``."""
    import glob
    import os
    import shutil

    os.makedirs(src)
    for k, wave in enumerate(waves):
        part = f"{src}__w{k}"
        wave.coalesce(1).write.parquet(part)
        (pf,) = glob.glob(f"{part}/part-*.parquet")
        dst = f"{src}/w{k}.parquet"
        shutil.move(pf, dst)
        os.utime(dst, (1_700_000_000 + 60 * k,) * 2)
        shutil.rmtree(part)
    return src


def replay_stream(spark: SparkSession, src: str, schema) -> DataFrame:
    """The file stream over the parquet files in ``src``, one file per
    micro-batch, oldest mtime first. ``schema`` (a StructType or DDL
    string) is the staged frames' schema: passing it skips the
    inference job a schema-less file stream would need."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)


def start_foreach_batch(stream_df: DataFrame, fn, checkpoint: str):
    """Start ``fn(batch, batch_id)`` on every micro-batch of
    ``stream_df`` (update mode, commit log at ``checkpoint``) and
    drain what the source holds now (availableNow). Returns the
    StreamingQuery; caller awaits/stops it."""
    return (
        stream_df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


#: source bytes per state partition for :func:`sized_stream_partitions`
STREAM_TARGET_BYTES = 4 << 20


def sized_stream_partitions(src_dirs) -> int:
    """Volume-derived shuffle/state partition count for a replayed
    file stream (optimization r12, guide §2: derive partitioning from
    input size, never a constant): ceil(per-batch source bytes /
    STREAM_TARGET_BYTES), clamped to [1, default_parallelism]. A
    replay feeds one file per micro-batch and the dirs replay side by
    side, so the batch count is the largest number of data files in
    any one of ``src_dirs``.

    Why streams need this when batch does not: stateful operators pin
    their state partitioning to spark.sql.shuffle.partitions at the
    FIRST batch and keep it for the checkpoint's life, and AQE never
    re-coalesces streaming state — so the constant must be chosen
    scale-consciously up front. A production checkpoint sizes it to
    peak per-batch volume over a tens-of-MB target; the fixture-scale
    target (4 MiB of source bytes per partition) keeps tiny
    availableNow replays from paying one state-store open/commit/
    snapshot per core per batch. Measured on the sliding-window gate
    at sf0.1 (25k-row batches): ~60% of stream wall is per-partition
    state machinery at 32 partitions; 32 -> 8 halves the stream,
    8 -> 4 is flat."""
    import math
    import os

    from hadoop_main_spark.session import default_parallelism

    if isinstance(src_dirs, str):
        src_dirs = [src_dirs]
    total, batches = 0, 1
    for d in src_dirs:
        files = [
            os.path.join(root, f)
            for root, _dirs, names in os.walk(d)
            for f in names
            if not f.startswith(("_", "."))
        ]
        batches = max(batches, len(files))
        for f in files:
            try:
                total += os.path.getsize(f)
            except OSError:
                pass
    per_batch = total / batches
    return max(1, min(default_parallelism(), math.ceil(per_batch / STREAM_TARGET_BYTES)))


def stream_session(spark: SparkSession, src_dirs) -> SparkSession:
    """A child session (``spark.newSession()``: own SQL conf, shared
    SparkContext) for a NATIVE-stateful replay stream, with
    spark.sql.shuffle.partitions set to :func:`sized_stream_partitions`
    — read the stream from it and the state partitioning follows,
    while the parent session's conf never changes. Every modifiable
    conf of the parent is copied first, so runtime settings such as
    ``session.tune()``'s timezone and nanosAsLong carry over. Apply
    only to stateful-operator streams (window aggs, stream-stream
    joins) — foreachBatch streams run batch jobs whose shuffles AQE
    already coalesces, and Python-decode streams WANT full
    parallelism."""
    child = spark.newSession()
    for key, value in spark.conf.getAll.items():
        if spark.conf.isModifiable(key):
            child.conf.set(key, value)
    child.conf.set(
        "spark.sql.shuffle.partitions", str(sized_stream_partitions(src_dirs))
    )
    return child


def write_stream_parquet(stream_df: DataFrame, path: str, checkpoint: str):
    """Production file sink: append-mode parquet with a checkpoint dir
    (exactly-once via the streaming commit log — the FileOutputCommitter
    role in the streaming world), drained with availableNow. Returns
    the StreamingQuery; caller awaits/stops it."""
    return (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def media_features_stream(
    media_stream: DataFrame,
    path: str,
    checkpoint: str,
    decoder: str = "stub",
    dim: int = 8,
):
    """Streaming multimodal ingest: decode + feature-extract binary
    payloads AS THEY ARRIVE. extract_features is a stateless
    Arrow-batched map_payloads pass, so the SAME operator (and all its real
    codecs — ppm/bmp/tiff/png/jpeg/gif/wav/flac) runs unchanged
    inside Structured Streaming; this wrapper just pairs it with the
    exactly-once parquet file sink. Per-batch output is exactly the
    batch operator's output on that batch's rows (pinned by the
    stream==batch test), so an interrupted ingest resumes from the
    commit log with no recompute of finished files."""
    from hadoop_main_spark.operators.multimodal import extract_features

    feats = extract_features(media_stream, decoder=decoder, dim=dim)
    return write_stream_parquet(feats, path, checkpoint)


def pdf_meta_stream(media_stream: DataFrame, path: str, checkpoint: str):
    """Streaming PDF ingest: the stateless container walk + text
    extraction (sources/pdf.py:pdf_meta — xref-verified object visit,
    BT..ET literal decode) runs unchanged inside Structured Streaming
    with the exactly-once parquet file sink, exactly like
    media_features_stream wraps extract_features. Per-batch output ==
    the batch operator on that batch's rows, so an interrupted
    document-ingest run resumes from the commit log."""
    from hadoop_main_spark.sources.pdf import pdf_meta

    return write_stream_parquet(pdf_meta(media_stream), path, checkpoint)


def _jpath(spark, p: str):
    return spark._jvm.org.apache.hadoop.fs.Path(p)


def _recover_replaced_dir(spark, path: str) -> None:
    """Crash recovery for :func:`_replace_dir_safely`: if the sink dir
    is missing but a ``__old_batch*`` aside copy exists, a crash hit
    the swap window — restore the newest aside copy so the retried
    batch merges against the accumulated state instead of silently
    rebuilding from nothing (the round-1/2 data-loss window)."""
    fs = _jpath(spark, path).getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(_jpath(spark, path)):
        return
    statuses = fs.globStatus(_jpath(spark, path + "__old_batch*"))
    if not statuses:
        return
    cands = []
    for st in statuses:
        name = st.getPath().toString()
        try:
            bid = int(name.rsplit("__old_batch", 1)[1])
        except ValueError:
            continue
        # newest by MODIFICATION TIME, not batch id: after a checkpoint
        # reset batch ids restart at 0, so a stale high-numbered aside
        # must not win over the newer state (batch id only tiebreaks)
        cands.append((st.getModificationTime(), bid, name))
    if cands:
        *_, newest = max(cands)
        _rename_or_raise(fs, _jpath(spark, newest), _jpath(spark, path))


def _rename_or_raise(fs, src, dst) -> None:
    """Hadoop FileSystem.rename signals failure by RETURNING FALSE —
    an unchecked rename treats a failed swap as success and the
    subsequent tmp sweep deletes the only copy of the merged batch
    (review-r4b). Fail the batch instead; the commit log retries."""
    if not fs.rename(src, dst):
        raise RuntimeError(f"rename failed: {src} -> {dst}")


def _replace_dir_safely(spark, df: DataFrame, path: str, batch_id: int) -> None:
    """Replace a sink dir's contents without a delete-then-rename
    window: write to ``__tmp_batch``, move the live dir ASIDE (never
    delete it first), swap the new dir in, then drop the aside copy.
    A crash at any step leaves either the old or the new contents
    restorable; callers run :func:`_recover_replaced_dir` on entry.
    Retrying a batch after a completed swap is safe because every
    caller's merge is idempotent per batch: the keyed upsert and the
    HLL max-merge naturally, the span-count SUM via its
    (ckpt_id, last_batch) high-water guard."""
    fs = _jpath(spark, path).getFileSystem(spark._jsc.hadoopConfiguration())
    tmp, aside = f"{path}__tmp_batch{batch_id}", f"{path}__old_batch{batch_id}"
    df.write.mode("overwrite").parquet(tmp)
    if fs.exists(_jpath(spark, aside)):  # stale aside from a crashed retry
        fs.delete(_jpath(spark, aside), True)
    if fs.exists(_jpath(spark, path)):
        _rename_or_raise(fs, _jpath(spark, path), _jpath(spark, aside))
    _rename_or_raise(fs, _jpath(spark, tmp), _jpath(spark, path))
    # sweep ALL aside copies, not just this batch's: a crash between a
    # previous swap and its aside delete leaves a stale __old_batch*
    # that would otherwise leak forever — and after a checkpoint reset
    # (batch ids restart at 0) could even be restored over newer
    # accumulated state. Once the swap above succeeded the live dir is
    # authoritative, so every aside is garbage.
    for st in fs.globStatus(_jpath(spark, path + "__old_batch*")) or []:
        fs.delete(st.getPath(), True)
    # sweep tmp dirs left by crashed earlier batches
    for st in fs.globStatus(_jpath(spark, path + "__tmp_batch*")) or []:
        fs.delete(st.getPath(), True)


def upsert_stream_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    key: str,
):
    """foreachBatch keyed upsert: each micro-batch replaces existing
    rows with the same key (last write wins within a batch by
    arbitrary order — dedupe upstream if that matters). Without a
    transactional table format this is read+merge+overwrite per
    batch — correct under the streaming commit log's exactly-once
    batch ids, appropriate for modest dimension-table sinks; at large
    scale swap the merge body for a MERGE INTO on a transactional
    format, same foreachBatch shape."""
    spark = stream_df.sparkSession

    def merge(batch: DataFrame, batch_id: int) -> None:
        # restore the aside copy first if a prior attempt crashed
        # mid-swap — otherwise the retry would see "no sink yet" and
        # rebuild from this batch alone, losing accumulated keys
        _recover_replaced_dir(spark, path)
        batch = batch.dropDuplicates([key])
        if _hadoop_path_exists(spark, path):
            existing = spark.read.parquet(path)
            # eqNullSafe: a plain key anti-join never matches NULL keys,
            # so the sink would accumulate one NULL-key row per batch
            # instead of replacing it (review-r4b)
            merged = existing.alias("e").join(
                batch.select(key).alias("b"),
                F.col(f"e.{key}").eqNullSafe(F.col(f"b.{key}")),
                "left_anti",
            ).unionByName(batch)
        else:
            merged = batch
        # write to a sibling temp dir, then rename-aside swap: a
        # cache().count() + overwrite of the path being read is unsafe
        # (evicted/lost cached blocks recompute from deleted files),
        # and delete-then-rename has a crash window that loses the
        # accumulated state
        _replace_dir_safely(spark, merged, path, batch_id)

    return start_foreach_batch(stream_df, merge, checkpoint)


def hll_sketch_stream_parquet(
    stream_df: DataFrame,
    col: str,
    path: str,
    checkpoint: str,
):
    """Streaming distinct-count sketch sink: each micro-batch's
    HyperLogLog registers are max-merged into a parquet register table
    (functions/sketches.py). Because HLL merge is lossless, the
    estimate read from the sink after any sequence of batches is
    IDENTICAL to the batch estimate over all data seen — the property
    the equivalence test pins. State is <= 256 rows regardless of
    stream volume, so the merge cost is constant per batch; the same
    shape scales to per-key sketches by adding group columns to the
    register key."""
    from hadoop_main_spark.functions.sketches import HLL_M, hll_merge, hll_registers

    spark = stream_df.sparkSession

    def merge(batch: DataFrame, batch_id: int) -> None:
        _recover_replaced_dir(spark, path)
        regs = hll_registers(batch, col)
        # only a genuinely absent sink means "first batch": a transient
        # read error must FAIL the batch (the commit log will retry),
        # never silently discard the accumulated registers. Existence
        # goes through the Hadoop FileSystem API so hdfs://, s3a://,
        # etc. work — a driver-local os.path check would always be
        # False for remote URIs and reset the sketch every batch.
        if _hadoop_path_exists(spark, path):
            existing = spark.read.parquet(path)
            merged = hll_merge(existing.unionByName(regs))
        else:
            merged = regs
        # registers are <= HLL_M rows: materialize on the driver, then
        # rename-aside swap (a direct overwrite of the live dir would
        # leave partial registers visible to a crashed retry)
        rows = merged.collect()
        assert len(rows) <= HLL_M
        _replace_dir_safely(
            spark,
            spark.createDataFrame(rows, merged.schema).coalesce(1),
            path,
            batch_id,
        )

    return start_foreach_batch(stream_df, merge, checkpoint)


def dedup_stream_minhash(docs_stream: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Streaming near-duplicate suppression: per arriving document,
    compute the MinHash signature (stateless Catalyst expressions —
    same constants as operators/dedup.py) and keep only the FIRST
    document per full signature via dropDuplicates on the signature
    columns. Equal full signatures ⇒ near-certain near-dup, so this is
    the streaming cousin of exact dedup with near-dup sensitivity;
    banded (probabilistic) matching needs the batch LSH join instead.

    State = one row per distinct signature (unbounded without a
    watermark — bound it with dropDuplicatesWithinWatermark on a ts
    column when the stream has event time).
    """
    from hadoop_main_spark.operators.dedup import (
        MINHASH_P,
        NUM_HASHES,
        PERM,
        word_shingles,
    )
    from hadoop_main_spark.functions.hashing import hash64

    sh = F.transform(
        word_shingles(text_col), lambda s: hash64(s) % MINHASH_P
    )
    sig_cols = [
        F.coalesce(
            F.array_min(F.transform(sh, lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P)),
            F.lit(MINHASH_P - 1),
        ).alias(f"mh{j}")
        for j, (a, b) in enumerate(PERM)
    ]
    with_sig = docs_stream.select(F.col(id_col), F.col(text_col), *sig_cols)
    return with_sig.dropDuplicates([f"mh{j}" for j in range(NUM_HASHES)]).select(
        id_col, text_col, *[f"mh{j}" for j in range(NUM_HASHES)]
    )


def span_counts_stream_parquet(
    docs_stream: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    checkpoint: str,
    window: int = 20,
):
    """Streaming cross-document repeated-span accumulation: each
    micro-batch's rolling-window span hashes aggregate to partial
    (span_hash, n_docs, n_occurrences, first_doc) rows which merge
    additively into the parquet sink (sum / sum / min). Because every
    document arrives ONCE on a document stream, per-batch distinct-doc
    counts are disjoint and the merged table equals the batch
    ``cross_doc_spans`` over all data seen with ``min_docs=1``
    (equivalence-tested); apply the >= min_docs cut at READ time via
    :func:`read_span_counts` — filtering per batch would lose spans
    whose duplication straddles batches.

    State = one row per distinct span hash (the dedup_stream caveat:
    unbounded without a cut; at scale keep the sink on a transactional
    format and age out singleton spans past a watermark).

    Replay safety: a SUM merge is NOT naturally idempotent (unlike the
    keyed upsert and the HLL max-merge), so every sink row carries
    ``last_batch`` — the high-water batch id merged in — plus
    ``ckpt_id``, the checkpoint location it was produced under. A
    re-delivered batch (crash after the swap, before the checkpoint
    commit) sees ``max(last_batch) >= batch_id`` FOR THE SAME
    checkpoint and skips: the sink already reflects it, and structured
    streaming serializes batches so a high-water mark is sufficient.
    The ckpt_id scoping matters because batch ids RESTART at 0 under a
    new checkpoint lineage: without it, genuinely new batches of a
    resumed pipeline would be silently dropped as "replays"
    (review-r4b). A wiped-and-reused checkpoint DIR is
    indistinguishable from replay — use a fresh checkpoint location
    per lineage, the standard structured-streaming contract."""
    from hadoop_main_spark.functions.hashing import hash64
    from hadoop_main_spark.operators.dedup import word_shingles

    spark = docs_stream.sparkSession

    def merge(batch: DataFrame, batch_id: int) -> None:
        _recover_replaced_dir(spark, path)
        spans = batch.select(
            F.col(id_col), F.explode(word_shingles(text_col, window)).alias("__span")
        ).select(F.col(id_col), hash64("__span").alias("span_hash"))
        partial = spans.groupBy("span_hash").agg(
            F.countDistinct(id_col).cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.min(id_col).alias("first_doc"),
        )
        if _hadoop_path_exists(spark, path):
            existing = spark.read.parquet(path)
            applied = (
                existing.filter(F.col("ckpt_id") == checkpoint)
                .agg(F.max("last_batch"))
                .collect()[0][0]
            )
            if applied is not None and applied >= batch_id:
                return  # replayed batch: already merged, sum would double-count
            merged = (
                existing.drop("last_batch", "ckpt_id")
                .unionByName(partial)
                .groupBy("span_hash")
                .agg(
                    F.sum("n_docs").cast("bigint").alias("n_docs"),
                    F.sum("n_occurrences").cast("bigint").alias("n_occurrences"),
                    F.min("first_doc").alias("first_doc"),
                )
            )
        else:
            merged = partial
        _replace_dir_safely(
            spark,
            merged.withColumn("last_batch", F.lit(batch_id)).withColumn(
                "ckpt_id", F.lit(checkpoint)
            ),
            path,
            batch_id,
        )

    return start_foreach_batch(docs_stream, merge, checkpoint)


def read_span_counts(spark: SparkSession, path: str, min_docs: int = 2) -> DataFrame:
    """Read the accumulated span-count sink with the cross-document
    cut applied (>= min_docs distinct documents). Recovers a crashed
    mid-swap write first — the designated read path must see the
    aside copy, exactly like the writer-side callers do."""
    _recover_replaced_dir(spark, path)
    return (
        spark.read.parquet(path)
        .drop("last_batch", "ckpt_id")
        .filter(F.col("n_docs") >= min_docs)
    )


def dedup_ingest_stream(
    docs_stream: DataFrame,
    id_col: str,
    text_col: str,
    sig_path: str,
    pairs_path: str,
    checkpoint: str,
    min_est_jaccard: float = 0.5,
):
    """The FULL production ingest-dedup loop as one stream: every
    micro-batch (a) computes its MinHash signatures, (b) finds
    within-batch near-dup pairs, (c) finds pairs against ALL
    previously ingested signatures via the incremental banded join
    (:func:`~hadoop_main_spark.operators.dedup.lsh_pairs_across` —
    the corpus is never re-shingled), then (d) appends its signatures
    to the corpus store so later batches dedup against it.

    Both sinks write per-batch SUBDIRECTORIES with overwrite
    (``.../batch=<id>/``), so a replayed batch rewrites its own
    partition, and the corpus probe reads only STRICTLY EARLIER
    batch partitions — so a replay after a crash between the sig
    write and the checkpoint commit produces the same pair set as
    the first attempt (no self-pairs, no duplicated within-pairs).
    Pairs are normalized to (id_a, id_b) = (least, greatest), so for
    ANY partition of the corpus into batches the union over batch
    partitions equals the one-shot self-join pair set
    (``minhash_lsh_pairs``) — each unordered pair surfaces exactly
    once: in its batch (within) or at the LATER doc's batch (cross).
    (Caveat shared with all capped LSH: per-side hot-bucket guards
    see per-batch counts, so a bucket crossing ``max_band_bucket``
    only globally is dropped by the batch form but kept here.)

    Read the accumulated pair set with ``spark.read.parquet(pairs_path)``.
    """
    from hadoop_main_spark.operators.checkpoints import ckpt_rdd_id, unpersist_rdd
    from hadoop_main_spark.operators.dedup import (
        lsh_pairs_across,
        lsh_pairs_from_signatures,
        minhash_signature,
    )

    spark = docs_stream.sparkSession

    def merge(batch: DataFrame, batch_id: int) -> None:
        sig = minhash_signature(batch.select(id_col, text_col), id_col, text_col)
        # the signature table is consumed three times in this batch
        # (within-join x2 sides + cross-join probe + the store write);
        # localCheckpoint materializes the shingle pass once per batch
        sig = sig.localCheckpoint(eager=True)
        try:
            within = lsh_pairs_from_signatures(
                sig, id_col, min_est_jaccard=min_est_jaccard
            ).select(
                F.col("id_a").cast("long"), F.col("id_b").cast("long"), "est_jaccard"
            )
            pairs = within
            if _hadoop_path_exists(spark, sig_path):
                # Replay safety: if the driver crashed after this
                # batch's sig write but before the checkpoint commit,
                # the store already holds batch=<id> — reading it back
                # would pair every doc with its identical corpus copy
                # (self-pairs + duplicated within-pairs). Restrict the
                # corpus to STRICTLY EARLIER batches via the partition
                # column so a replay sees exactly what the first
                # attempt saw.
                corpus = spark.read.parquet(sig_path).where(
                    F.col("batch") < F.lit(batch_id)
                )
                cross = lsh_pairs_across(
                    sig, corpus, id_col, min_est_jaccard=min_est_jaccard
                ).select(
                    F.least(F.col("id_new"), F.col("id_corpus")).cast("long").alias("id_a"),
                    F.greatest(F.col("id_new"), F.col("id_corpus")).cast("long").alias("id_b"),
                    "est_jaccard",
                )
                pairs = within.unionByName(cross)
            pairs.write.mode("overwrite").parquet(f"{pairs_path}/batch={batch_id}")
            sig.write.mode("overwrite").parquet(f"{sig_path}/batch={batch_id}")
        finally:
            # release THIS batch's checkpoint blocks (the
            # connected_components discipline); a long-running stream
            # would otherwise pin one cached RDD per micro-batch
            unpersist_rdd(spark, ckpt_rdd_id(sig))

    return start_foreach_batch(docs_stream, merge, checkpoint)


def count_min_stream_parquet(
    stream_df: DataFrame,
    col: str,
    path: str,
    checkpoint: str,
    depth: int | None = None,
    width: int | None = None,
):
    """Streaming frequency sketch sink: each micro-batch's count-min
    table (functions/sketches.py — depth hash rows x width integer
    buckets) merges ADDITIVELY into a parquet sketch. Count-min is
    exactly mergeable (counters sum), so the accumulated sketch after
    any sequence of batches equals the one-shot batch sketch over all
    data seen — the equivalence the stream==batch test pins — and
    heavy hitters are read back by probing candidate items with
    :func:`hadoop_main_spark.functions.sketches.count_min_probe`.

    State is depth x width rows regardless of stream volume (constant
    merge cost per batch, like the HLL sink). Replay safety: a SUM
    merge is not idempotent, so the sink carries the same
    checkpoint-scoped ``last_batch`` high-water mark as
    :func:`span_counts_stream_parquet` (batch ids restart at 0 under a
    new checkpoint lineage — the ckpt_id scoping matters,
    review-r4b)."""
    from hadoop_main_spark.functions.sketches import (
        CM_DEPTH,
        CM_WIDTH,
        count_min_table,
    )

    depth = CM_DEPTH if depth is None else depth
    width = CM_WIDTH if width is None else width
    spark = stream_df.sparkSession

    def merge(batch: DataFrame, batch_id: int) -> None:
        _recover_replaced_dir(spark, path)
        partial = count_min_table(batch, col, depth, width)
        if _hadoop_path_exists(spark, path):
            existing = spark.read.parquet(path)
            applied = (
                existing.filter(F.col("ckpt_id") == checkpoint)
                .agg(F.max("last_batch"))
                .collect()[0][0]
            )
            if applied is not None and applied >= batch_id:
                return  # replayed batch: counters already summed in
            # geometry check tolerates a 0-row sketch (empty first
            # batch) and a pre-geometry legacy sketch (no depth/width
            # columns — upgraded in place on this write)
            rec = (
                existing.select("depth", "width").first()
                if {"depth", "width"} <= set(existing.columns)
                else None
            )
            if rec is not None and (rec.depth, rec.width) != (depth, width):
                raise ValueError(
                    f"sketch at {path} was built with depth={rec.depth} "
                    f"width={rec.width}; cannot merge depth={depth} "
                    f"width={width} (bucket spaces differ)"
                )
            merged = (
                existing.drop("last_batch", "ckpt_id", "depth", "width")
                .unionByName(partial)
                .groupBy("row", "bucket")
                .agg(F.sum("cnt").cast("bigint").alias("cnt"))
            )
        else:
            merged = partial
        # the sketch is <= depth*width rows: coalesce(1) like the HLL
        # registers, then rename-aside swap
        _replace_dir_safely(
            spark,
            merged.withColumn("last_batch", F.lit(batch_id))
            .withColumn("ckpt_id", F.lit(checkpoint))
            # geometry rides with the sketch so count_min_probe can
            # hash into the RIGHT bucket space (a width mismatch makes
            # the min an UNDER-estimate — the one error count-min
            # promises not to make)
            .withColumn("depth", F.lit(depth))
            .withColumn("width", F.lit(width))
            .coalesce(1),
            path,
            batch_id,
        )

    return start_foreach_batch(stream_df, merge, checkpoint)


def read_count_min_sketch(spark: SparkSession, path: str) -> DataFrame:
    """Read the accumulated count-min sketch (replay bookkeeping
    dropped, the recorded depth/width geometry KEPT so
    :func:`~hadoop_main_spark.functions.sketches.count_min_probe`
    hashes into the bucket space the sketch was built with),
    recovering a crashed mid-swap write first."""
    _recover_replaced_dir(spark, path)
    sk = spark.read.parquet(path)
    cols = ["row", "bucket", "cnt"] + (
        ["depth", "width"] if {"depth", "width"} <= set(sk.columns) else []
    )
    return sk.select(*cols)


def pq_codes_stream_parquet(
    vec_stream: DataFrame,
    codebook,
    path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Incremental PQ index maintenance (the ANN twin of
    dedup_ingest_stream): each arriving vector micro-batch encodes to
    its m codebook codes (operators/similarity.py:pq_encode — the
    Arrow kernel, codebook broadcast via closure) and lands under
    ``path/batch=<id>``. Newly ingested vectors become searchable
    per-batch — the corpus is NEVER re-encoded — and any ADC query
    (:func:`~hadoop_main_spark.operators.similarity.pq_adc_scores`,
    ivfpq's tail) runs over the accumulated code table.

    Replay safety comes free from the partition discipline: a
    re-delivered batch OVERWRITES its own ``batch=<id>`` directory
    with identical deterministic codes, so no high-water-mark
    bookkeeping is needed (contrast count_min/span sinks, whose SUM
    merges are not idempotent). Codebook drift is the operational
    caveat: codes are only comparable under the codebook that
    produced them — retraining means re-encoding, exactly as in FAISS.
    """
    from hadoop_main_spark.operators.similarity import pq_encode

    def merge(batch: DataFrame, batch_id: int) -> None:
        enc = pq_encode(batch.select(id_col, vec_col), codebook, id_col, vec_col)
        enc.write.mode("overwrite").parquet(f"{path}/batch={batch_id}")

    return start_foreach_batch(vec_stream, merge, checkpoint)


def read_pq_codes(spark: SparkSession, path: str) -> DataFrame:
    """The accumulated incremental PQ code table (batch partition
    column dropped — downstream ADC scoring is batch-agnostic)."""
    return spark.read.parquet(path).drop("batch")


def residual_codes_stream_parquet(
    vec_stream: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Incremental TRUE-IVFADC index maintenance (round 7; the residual
    twin of :func:`pq_codes_stream_parquet`): each arriving vector
    micro-batch is ASSIGNED its coarse cell (nearest persisted
    centroid — kmeans_assign's deterministic argmin, exactly how FAISS
    routes add()s through the coarse quantizer), residual-encoded
    against the index's SERIALIZED codebook
    (operators/similarity.py:pq_encode_residual), and lands under
    ``path/codes_inc/batch=<id>`` with its cell column — immediately
    probeable alongside the base codes (ivfpq_residual_topk_indexed's
    scoring tail is cell-keyed either way).

    Centroids and codebook are read ONCE from ``index_path`` at
    operator construction: codes are only comparable under the
    artifacts that produced the base index (codebook drift means
    re-encoding, as in FAISS). Replay safety: per-batch directory
    overwrite with deterministic codes, the pq_codes discipline.
    Integer-cell contract: kmeans_assign keys clusters by the
    centroid row ids, so the index's cell values must be integral
    (the ``label`` quantizer; string cells would need a mapping
    table)."""
    from hadoop_main_spark.operators.similarity import (
        PQ_QSCALE,
        _quantized_centroid_map,
        kmeans_assign,
        pq_encode_residual,
    )

    spark = vec_stream.sparkSession
    cents = spark.read.parquet(f"{index_path}/centroids")
    cent_rows = cents.collect()
    cents_list = [
        (int(r["cell"]), [float(x) for x in r["centroid"]]) for r in cent_rows
    ]
    qcent = _quantized_centroid_map(cent_rows, PQ_QSCALE)
    cell_type = cents.schema["cell"].dataType
    cb_rows = spark.read.parquet(f"{index_path}/codebook").collect()
    import numpy as np

    m = 1 + max(r["m"] for r in cb_rows)
    kk = 1 + max(r["code"] for r in cb_rows)
    cbx = np.zeros((m, kk, len(cb_rows[0]["cent"])), dtype=np.int64)
    for r in cb_rows:
        cbx[r["m"], r["code"]] = r["cent"]

    def merge(batch: DataFrame, batch_id: int) -> None:
        assigned = (
            kmeans_assign(batch.select(id_col, vec_col), cents_list, id_col, vec_col)
            .drop("__d2")
            .withColumn("cell", F.col("cluster").cast(cell_type))
            .drop("cluster")
        )
        enc = pq_encode_residual(assigned, cbx, qcent, id_col, vec_col)
        enc.write.mode("overwrite").parquet(f"{index_path}/codes_inc/batch={batch_id}")

    return start_foreach_batch(vec_stream, merge, checkpoint)


def read_residual_codes_inc(spark: SparkSession, path: str) -> DataFrame:
    """The accumulated incremental residual-code table (batch partition
    dropped; (id, cell, codes) — union-compatible with the base
    index's codes for cell-keyed ADC scoring)."""
    return spark.read.parquet(f"{path}/codes_inc").drop("batch")


def graph_insert_edges(
    edges: DataFrame,
    nodes: DataFrame,
    new: DataFrame,
    k: int = 10,
    beam: int = 20,
    hops: int = 3,
    entries: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_wave: int = 4096,
) -> DataFrame:
    """Edges for one graph-ANN insert wave: every new vector
    beam-searches the CURRENT graph and its top-k become forward +
    reverse edges (HNSW insert, Malkov & Yashunin §4). The wave is
    CHUNK-CAPPED: knn_graph_search collects its query frame to the
    driver (the bounded-query contract), so a bulk backfill replayed
    through the stream path must not become one unbounded collect —
    waves larger than ``max_wave`` split into deterministic
    id-ordered chunks of at most ``max_wave`` queries, each searched
    against the SAME pre-wave graph (chunks never see each other's
    edges), so the result is exactly the single-wave result
    regardless of chunking (pinned by pytest; the semantic-dedup seed
    cap discipline). Returns (id, rank, nbr_id, d2) edge rows."""
    import math as _math

    from pyspark.sql import Window

    from hadoop_main_spark.operators.checkpoints import run_checkpoint
    from hadoop_main_spark.operators.similarity import knn_graph_search

    n_wave = new.count()
    if n_wave == 0:
        raise ValueError("graph_insert_edges needs a non-empty wave")
    if max_wave < 1:
        raise ValueError("max_wave must be >= 1")
    if n_wave <= max_wave:
        chunks = [new]
    else:
        # deterministic id-ordered split; the single-task window sort
        # is bounded by the wave itself and far cheaper than the
        # unbounded driver collect it prevents.  localCheckpoint the
        # ranked wave ONCE so each chunk is a filter over materialized
        # rows — without it every chunk would re-run the full-wave
        # window sort (W chunks → W re-sorts, the quadratic cost the
        # chunking exists to avoid).
        ranked = run_checkpoint(
            new.withColumn("__rn", F.row_number().over(Window.orderBy(id_col))),
            eager=True,
        )
        chunks = [
            ranked.filter(
                (F.col("__rn") > c * max_wave)
                & (F.col("__rn") <= (c + 1) * max_wave)
            ).drop("__rn")
            for c in range(_math.ceil(n_wave / max_wave))
        ]
    parts = []
    for chunk in chunks:
        qs = chunk.select(F.col(id_col).alias("__qid"), vec_col)
        # a caller may hold several graph_insert_edges results at once
        # or chain a wave's output into the next wave's graph: the hop
        # checkpoints belong to the query run, which releases nothing
        # before the same query builds again.
        res = knn_graph_search(
            edges, nodes, qs, k, beam, hops, entries,
            id_col, vec_col, query_id="__qid",
        )
        fwd = res.select(
            F.col("__qid").alias("id"), "rank",
            F.col("neighbor_id").alias("nbr_id"), "d2",
        )
        rev = res.select(
            F.col("neighbor_id").alias("id"), "rank",
            F.col("__qid").alias("nbr_id"), "d2",
        )
        parts.append(fwd.unionByName(rev))
    # balanced pairwise reduce: a 1000-chunk backfill builds an
    # O(log W)-deep union tree instead of a W-deep left spine
    while len(parts) > 1:
        parts = [
            parts[i].unionByName(parts[i + 1]) if i + 1 < len(parts)
            else parts[i]
            for i in range(0, len(parts), 2)
        ]
    return parts[0]


def knn_graph_stream_parquet(
    vec_stream: DataFrame,
    base_index: str,
    path: str,
    checkpoint: str,
    k: int = 10,
    beam: int = 20,
    hops: int = 3,
    entries: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_wave: int = 4096,
):
    """Incremental GRAPH-ANN ingest — the HNSW INSERT path (Malkov &
    Yashunin §4: a new element's links = the results of searching the
    current graph for it, added bidirectionally) in micro-batch form:
    each arriving vector batch beam-searches the CURRENT graph (the
    materialized base index + every prior batch's edges and nodes),
    and lands its forward edges, the REVERSE edges that make the new
    nodes reachable, and its node vectors under ``batch=<id>``
    partitions. Newly ingested vectors become searchable per batch;
    the base graph is never rebuilt.

    Replay safety: Structured Streaming replays at most the last
    uncommitted batch, and when batch b replays no batch > b has run —
    so the graph state batch b searches is identical on replay and
    the ``batch=<id>`` overwrite is idempotent (the
    dedup_ingest_stream argument). Degree note: reverse edges grow an
    old node's list by at most k per ingest wave (HNSW trims on
    insert; here the trim is a read-time/compaction concern, stated
    honestly — search handles variable degree by construction).

    Wave bound (``max_wave``, default 4096): the search collects each
    wave's query frame to the driver, so a bulk backfill replayed
    through this path is CHUNKED by :func:`graph_insert_edges` into
    id-ordered sub-waves of at most ``max_wave`` vectors — never an
    unbounded collect; chunking provably doesn't change the result
    (all chunks search the pre-wave graph). Bulk loads should still
    prefer the batch build (build_knn_graph_index), which has no
    driver frame at all.
    """

    def merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        new = batch.select(id_col, vec_col)
        if new.isEmpty():
            return
        edges = spark.read.parquet(f"{base_index}/graph")
        nodes = spark.read.parquet(f"{base_index}/nodes")
        if _hadoop_path_exists(spark, f"{path}/edges"):
            edges = edges.unionByName(
                spark.read.parquet(f"{path}/edges").drop("batch")
            )
            nodes = nodes.unionByName(
                spark.read.parquet(f"{path}/nodes").drop("batch")
            )
        graph_insert_edges(
            edges, nodes, new, k, beam, hops, entries, id_col, vec_col,
            max_wave,
        ).write.mode("overwrite").parquet(f"{path}/edges/batch={batch_id}")
        new.write.mode("overwrite").parquet(f"{path}/nodes/batch={batch_id}")

    return start_foreach_batch(vec_stream, merge, checkpoint)


def read_knn_graph_inc(spark: SparkSession, base_index: str, path: str):
    """The accumulated incremental graph: (edges, nodes) = base index
    unioned with every ingested batch (batch partition dropped) —
    exactly what :func:`knn_graph_stream_parquet.merge` searches, and
    what ad-hoc queries search between ingest waves."""
    edges = spark.read.parquet(f"{base_index}/graph")
    nodes = spark.read.parquet(f"{base_index}/nodes")
    if _hadoop_path_exists(spark, f"{path}/edges"):
        edges = edges.unionByName(spark.read.parquet(f"{path}/edges").drop("batch"))
        nodes = nodes.unionByName(spark.read.parquet(f"{path}/nodes").drop("batch"))
    return edges, nodes


def knn_graph_stream_layered(
    vec_stream: DataFrame,
    base_l0: str,
    base_l1: str,
    path: str,
    checkpoint: str,
    k0: int = 10,
    k1: int = 8,
    beam: int = 20,
    hops: int = 3,
    entries: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int = 4,
    salt: str = "l1",
    max_wave: int = 4096,
):
    """Incremental ingest for the TWO-LAYER graph index (verdict r10
    next-round #7 — knn_graph_layered's layer 1 was built once and
    streaming inserts only touched layer 0, so routing quality would
    drift as the corpus grew past the frozen entry layer): every
    arriving vector inserts into layer 0 exactly like
    :func:`knn_graph_stream_parquet`, and the ~1/``sample_mod``
    subset the deterministic membership rule selects
    (hash64(id, salt) %% mod == 0 — the SAME rule the batch build
    uses, so stream and fresh-build layer-1 node sets are identical
    by construction) additionally inserts into layer 1, beam-searched
    against layer 1 AS OF the wave. Both layers' edges and nodes land
    under ``batch=<id>`` partitions with the same replay-idempotence
    argument as the single-layer path. RECALL.md pins the payoff:
    layered routing recall after a 5-wave streamed ingest stays
    within the ledger tolerance of the fresh two-layer build."""
    from hadoop_main_spark.functions.hashing import hash64

    def merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        new = batch.select(id_col, vec_col)
        if new.isEmpty():
            return
        e0 = spark.read.parquet(f"{base_l0}/graph")
        n0 = spark.read.parquet(f"{base_l0}/nodes")
        if _hadoop_path_exists(spark, f"{path}/l0/edges"):
            e0 = e0.unionByName(
                spark.read.parquet(f"{path}/l0/edges").drop("batch")
            )
            n0 = n0.unionByName(
                spark.read.parquet(f"{path}/l0/nodes").drop("batch")
            )
        graph_insert_edges(
            e0, n0, new, k0, beam, hops, entries, id_col, vec_col, max_wave
        ).write.mode("overwrite").parquet(f"{path}/l0/edges/batch={batch_id}")
        new.write.mode("overwrite").parquet(f"{path}/l0/nodes/batch={batch_id}")
        members = new.filter(
            F.pmod(hash64(F.col(id_col).cast("string"), salt),
                   F.lit(sample_mod)) == 0
        )
        if members.isEmpty():
            return
        e1 = spark.read.parquet(f"{base_l1}/graph")
        n1 = spark.read.parquet(f"{base_l1}/nodes")
        if _hadoop_path_exists(spark, f"{path}/l1/edges"):
            e1 = e1.unionByName(
                spark.read.parquet(f"{path}/l1/edges").drop("batch")
            )
            n1 = n1.unionByName(
                spark.read.parquet(f"{path}/l1/nodes").drop("batch")
            )
        graph_insert_edges(
            e1, n1, members, k1, beam, hops, entries, id_col, vec_col,
            max_wave,
        ).write.mode("overwrite").parquet(f"{path}/l1/edges/batch={batch_id}")
        members.write.mode("overwrite").parquet(
            f"{path}/l1/nodes/batch={batch_id}"
        )

    return start_foreach_batch(vec_stream, merge, checkpoint)


def read_knn_graph_layered_inc(
    spark: SparkSession, base_l0: str, base_l1: str, path: str
):
    """The accumulated two-layer incremental graph:
    ((e0, n0), (e1, n1)) = each base layer unioned with every ingested
    batch — exactly what :func:`knn_graph_stream_layered.merge`
    searches, and what routed queries search between waves."""
    out = []
    for base, sub in ((base_l0, "l0"), (base_l1, "l1")):
        edges = spark.read.parquet(f"{base}/graph")
        nodes = spark.read.parquet(f"{base}/nodes")
        if _hadoop_path_exists(spark, f"{path}/{sub}/edges"):
            edges = edges.unionByName(
                spark.read.parquet(f"{path}/{sub}/edges").drop("batch")
            )
            nodes = nodes.unionByName(
                spark.read.parquet(f"{path}/{sub}/nodes").drop("batch")
            )
        out.append((edges, nodes))
    return out[0], out[1]


def warc_records_stream_parquet(warc_stream: DataFrame, path: str, checkpoint: str):
    """Streaming WARC ingest: arriving (media_id, payload) WARC files
    unpack to record-level metadata rows AS THEY LAND —
    sources/warc.warc_records is a stateless Arrow-batched pass, so
    the SAME operator (gzip-member inflate, ISO 28500 record walk,
    chunked/gzip HTTP wire-form decode) runs unchanged inside
    Structured Streaming, paired with the exactly-once parquet file
    sink (the media_features_stream shape). Per-batch output equals
    the batch operator on that batch's rows (stream==batch pytest),
    so an interrupted crawl-ingest resumes from the commit log."""
    from hadoop_main_spark.sources.warc import warc_records

    return write_stream_parquet(warc_records(warc_stream), path, checkpoint)


def cdc_chunks_stream_parquet(
    doc_stream: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming content-defined chunking: arriving documents cut into
    content-addressed chunks AS THEY LAND — dedup.cdc_chunks is a
    stateless Arrow-batched pass (every boundary depends only on its
    trailing window, the property the pure content-defined form keeps
    by design), so the SAME kernel runs unchanged inside Structured
    Streaming with the exactly-once parquet sink. This is the ingest
    half of a chunk store: per-batch output equals the batch operator
    on that batch's rows, so an interrupted ingest resumes from the
    commit log and the accumulated chunk table dedups corpus-wide."""
    from hadoop_main_spark.operators.dedup import cdc_chunks

    return write_stream_parquet(
        cdc_chunks(doc_stream, id_col, text_col), path, checkpoint
    )


def agg_view_stream_parquet(event_stream: DataFrame, path: str, checkpoint: str):
    """Streaming incremental MATERIALIZED-VIEW maintenance — the
    stream form of the batch maintainer, running the IDENTICAL
    combine (:func:`~hadoop_main_spark.operators.aggregate.
    merge_partial_aggs`) inside foreachBatch: each micro-batch of
    raw events aggregates to its partial per-(user_id, event_type)
    view — n_events, sum_cents, min/max event_id — and is absorbed
    into the stored view by ONE co-partitioned full-outer join; the
    base corpus is never rescanned (Delta's streaming
    'foreachBatch + MERGE' view-maintenance pattern).

    Replay safety: an additive merge is NOT idempotent (unlike the
    keyed upsert and the HLL max-merge), so the sink carries the
    (ckpt_id, last_batch) high-water guard — the
    span_counts_stream_parquet discipline: a re-delivered batch
    under the SAME checkpoint lineage sees max(last_batch) >=
    batch_id and skips; ckpt_id scoping protects a NEW lineage whose
    batch ids restart at 0. Crash mid-swap is restorable via
    _recover_replaced_dir. State = one row per live view key; at
    scale keep the sink on a transactional format.
    """
    from hadoop_main_spark.operators.aggregate import merge_partial_aggs

    spark = event_stream.sparkSession

    def view(part: DataFrame) -> DataFrame:
        return part.groupBy("user_id", "event_type").agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("c").cast("bigint").alias("sum_cents"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )

    def merge(batch: DataFrame, batch_id: int) -> None:
        _recover_replaced_dir(spark, path)
        wave = view(
            batch.select(
                "user_id",
                "event_type",
                "event_id",
                F.expr(
                    "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
                ).alias("c"),
            )
        )
        if _hadoop_path_exists(spark, path):
            existing = spark.read.parquet(path)
            applied = (
                existing.filter(F.col("ckpt_id") == checkpoint)
                .agg(F.max("last_batch"))
                .collect()[0][0]
            )
            if applied is not None and applied >= batch_id:
                return  # replayed batch: already folded in, sums would double
            merged = merge_partial_aggs(
                existing.drop("last_batch", "ckpt_id"),
                wave,
                ("user_id", "event_type"),
                add_cols=("n_events", "sum_cents"),
                min_cols=("min_event_id",),
                max_cols=("max_event_id",),
            )
        else:
            merged = wave
        _replace_dir_safely(
            spark,
            merged.withColumn("last_batch", F.lit(batch_id)).withColumn(
                "ckpt_id", F.lit(checkpoint)
            ),
            path,
            batch_id,
        )

    return start_foreach_batch(event_stream, merge, checkpoint)


def read_agg_view(spark: SparkSession, path: str) -> DataFrame:
    """Read the maintained view, dropping replay bookkeeping."""
    return spark.read.parquet(path).drop("last_batch", "ckpt_id")
