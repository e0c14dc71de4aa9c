"""Partitioning / distribution operators.

Reference partitioners (SURVEY.md §2.4) re-expressed as repartition
helpers. In Spark, partitioning is an *optimizer-visible* property:
`repartition(n, cols)` produces hash partitioning Catalyst can reuse
across stages (avoiding a second shuffle for a following groupBy on
the same keys), and `repartitionByRange` is the sampled
TotalOrderPartitioner. These helpers exist to make partitioning
intent explicit at the points where the 100 TB plan needs it —
everywhere else we deliberately let AQE choose.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_partition(df: DataFrame, n: int, cols: Sequence[str | Column]) -> DataFrame:
    """hash(key) mod R — reference: MRC/mapreduce/lib/partition/
    HashPartitioner.java:31 (Spark uses Murmur3 internally; the
    contract — equal keys co-located — is identical)."""
    return df.repartition(n, *[F.col(c) if isinstance(c, str) else c for c in cols])


def key_field_partition(
    df: DataFrame, n: int, line_col: str, fields: Sequence[int], sep: str = "\t"
) -> DataFrame:
    """Partition on a subset of delimited key fields — reference:
    KeyFieldBasedPartitioner (MRC/mapreduce/lib/partition/
    KeyFieldBasedPartitioner.java:85). ``fields`` are 1-based."""
    import re as _re

    # escaped separator (F.split takes a REGEX) and try_element_at:
    # under ANSI mode a short line would otherwise raise
    # INVALID_ARRAY_INDEX instead of partitioning on a NULL field —
    # the reference partitioner tolerates short keys (review-r4b)
    arr = F.split(F.col(line_col), _re.escape(sep))
    return df.repartition(n, *[F.try_element_at(arr, F.lit(i)) for i in fields])


def binary_prefix_partition(
    df: DataFrame, n: int, col: str, offset: int = 1, length: int = 4
) -> DataFrame:
    """Partition on a byte/char slice of the key — reference:
    BinaryPartitioner (MRC/mapreduce/lib/partition/BinaryPartitioner.java:1)."""
    return df.repartition(n, F.substring(F.col(col).cast("string"), offset, length))


def fan_out(df: DataFrame, cols: Sequence[str | Column] | None = None, min_partitions: int | None = None) -> DataFrame:
    """Raise parallelism before a compute-heavy narrow stage.

    The NLineInputFormat lesson (MRC/mapreduce/lib/input/
    NLineInputFormat.java:61): when the input is small but the
    per-record work is large (shingling, hashing, UDF decode), the
    scan's file-split parallelism is the wrong unit — a small parquet
    file arrives as ONE partition and the whole pipeline runs on one
    core. One cheap narrow-input shuffle up front parallelizes
    everything downstream. No-op when the input already has enough
    partitions (the 100 TB case — never add a shuffle there).
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        # Spark Connect has no RDD API — fan out unconditionally (the
        # extra narrow shuffle is the safe default there)
        current = 0
    if current >= target:
        return df
    if cols:
        return df.repartition(target, *[F.col(c) if isinstance(c, str) else c for c in cols])
    return df.repartition(target)


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed keys.

    The reference had no skew remedy (the 2008 TeraSort run shipped
    2.6x reduce skew, EX/terasort/package.html:109); AQE splits skewed
    *joins* but a hot groupBy key still lands on one reducer. Salting
    splits each key into ``salt_buckets`` sub-keys, partially
    aggregates, then combines — both phases map-side-combinable.

    ``aggs``: out_col -> (fn, col) with fn in {sum, count, min, max}.
    (avg decomposes as sum+count at the call site; this mirrors the
    combiner-compatible subset of MRC/mapreduce/lib/aggregate.)
    """
    salt = (F.rand(seed=0) * salt_buckets).cast("int").alias("__salt")
    phase1_aggs, phase2_aggs = [], []
    for out, (fn, col) in aggs.items():
        if fn == "count":
            phase1_aggs.append(F.count(col).alias(out))
            phase2_aggs.append(F.sum(out).alias(out))
        elif fn in ("sum", "min", "max"):
            phase1_aggs.append(getattr(F, fn)(col).alias(out))
            phase2_aggs.append(getattr(F, fn)(out).alias(out))
        else:
            raise ValueError(f"non-decomposable agg fn: {fn}")
    partial = df.withColumn("__salt", salt).groupBy(*keys, "__salt").agg(*phase1_aggs)
    return partial.groupBy(*keys).agg(*phase2_aggs)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-mitigated equi-join: salt the (big, skewed) left side into
    ``salt_buckets`` sub-keys and replicate each right row once per
    bucket, so a hot key's rows spread over ``salt_buckets`` tasks
    instead of stalling one straggler.

    AQE's skew-join split handles this adaptively for shuffle joins;
    explicit salting remains the tool when (a) the skew is known ahead
    of time, (b) the join is bucketed/sort-merge and AQE can't resplit,
    or (c) deterministic task sizing matters. Replication multiplies
    the right side by ``salt_buckets`` — use only when right is much
    smaller (but too big / unwanted to broadcast).

    Inner join only; columns = left's then right's non-key columns.
    """
    salt = (F.rand(seed=0) * salt_buckets).cast("int")
    l_s = left.withColumn("__salt", salt)
    r_s = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = l_s.join(r_s, [key, "__salt"], "inner").drop("__salt")
    return out


def zorder_key(cols: Sequence[Column | str], bits: int = 10) -> Column:
    """Morton / Z-order interleaved clustering key over ``len(cols)``
    non-negative integer dimensions, ``bits`` low bits each.

    Bit layout: dimension d's bit i lands at position ``i*ndims + d``
    (LSB-first interleave), so sorting by the key gives the classic
    Z-curve: rows close in EVERY dimension land close in the sort
    order. The 100 TB use is DATA CLUSTERING before a partitioned/
    sorted write — one `orderBy(zorder_key(...))` at ingest makes
    min/max file statistics selective on ALL interleaved columns at
    once, so later scans filtered on any dimension prune files
    (the Delta/Iceberg OPTIMIZE ZORDER technique; a single-column
    sort prunes only its leading column). Pure Catalyst bit
    arithmetic — codegen'd, no UDF, engine-portable.

    Callers must pre-reduce dimensions into [0, 2**bits) (e.g.
    ``col % 1024``); values outside the range fold in silently via
    the masked shifts. The ingest-side writer is
    :func:`hadoop_main_spark.sources.layouts.write_zordered` (whose
    2-D ``zorder_value`` wraps this function — one interleave
    definition repo-wide).
    """
    if bits * len(cols) > 63:
        # JVM shiftleft masks shift counts mod 64: an oversized
        # dims×bits config would silently fold high bits onto low
        # positions and produce a WRONG clustering key (advice-r5)
        raise ValueError(
            f"zorder_key: {len(cols)} dims x {bits} bits = "
            f"{bits * len(cols)} key bits > 63 (BIGINT); reduce bits"
        )
    exprs = [F.col(c).cast("bigint") if isinstance(c, str) else c.cast("bigint") for c in cols]
    nd = len(exprs)
    out = F.lit(0).cast("bigint")
    for i in range(bits):
        for d, c in enumerate(exprs):
            bit = F.shiftright(c, i).bitwiseAND(F.lit(1))
            out = out + F.shiftleft(bit, i * nd + d)
    return out


def zorder_key_sql(exprs: Sequence[str], bits: int = 10) -> str:
    """The DuckDB SQL text computing exactly :func:`zorder_key`."""
    if bits * len(exprs) > 63:
        raise ValueError(
            f"zorder_key_sql: {len(exprs)} dims x {bits} bits = "
            f"{bits * len(exprs)} key bits > 63 (BIGINT); reduce bits"
        )
    nd = len(exprs)
    terms = []
    for i in range(bits):
        for d, e in enumerate(exprs):
            # each term fully parenthesized: SQL gives '+' TIGHTER
            # precedence than '<<', so unparenthesized terms chain the
            # shifts into a single overflowing expression
            terms.append(f"(((({e}) >> {i}) & 1) << {i * nd + d})")
    return " + ".join(terms)


# --- reference partition FUNCTIONS, engine-exact (driver-gate r11) ---
#
# The repartition helpers above give the partitioner CONTRACT (equal
# keys co-located) via Spark's internal Murmur3, which no external
# oracle can replay.  These helpers compute the reference's OWN
# partition functions — Java int32 hash semantics — as plain bigint
# arithmetic, with a generated-SQL twin per helper (the
# zorder_key/zorder_key_sql discipline), so a DuckDB oracle verifies
# the exact partition id the reference would assign.

_I32 = 2_147_483_648          # 2^31
_U32 = 4_294_967_296          # 2^32
# 31^e mod 2^32 for e = 0..15 — per-position weights of Java's
# iterated h = 31*h + b, which is LINEAR mod 2^32, so the per-step
# int32 wrap collapses to one weighted sum (no deep CASE nesting in
# either engine)
_POW31 = [pow(31, e, _U32) for e in range(16)]


def java_long_hash_partition(key: Column, n: int) -> Column:
    """Partition id the reference assigns a LongWritable key:
    ``(key.hashCode() & Integer.MAX_VALUE) % n`` with
    ``LongWritable.hashCode() = (int)(v ^ (v >>> 32))``
    (MRC/mapreduce/lib/partition/HashPartitioner.java:31;
    IO/LongWritable.java:99).  Exact for non-negative bigint keys."""
    h = key.bitwiseXOR(F.shiftrightunsigned(key, 32))
    return F.pmod(F.pmod(F.pmod(h, F.lit(_U32)), F.lit(_I32)), F.lit(n))


def java_long_hash_partition_sql(key: str, n: int) -> str:
    """DuckDB SQL computing exactly :func:`java_long_hash_partition`."""
    return (
        f"(((xor({key}, ({key}) >> 32)) % {_U32}) % {_I32}) % {n}"
    )


def java_string_hash31(col: Column, init: int, max_len: int) -> Column:
    """Java's iterated byte hash ``h = 31*h + b`` over a string's
    ASCII bytes with int32 wrap, masked to non-negative
    (``& Integer.MAX_VALUE``) — the hash inside
    KeyFieldBasedPartitioner (init 0, MRC/mapreduce/lib/partition/
    KeyFieldBasedPartitioner.java:126) and BinaryPartitioner via
    WritableComparator.hashBytes (init 1, IO/WritableComparator.java:187).
    Linear form: h = (init*31^len + sum_i b_i*31^(len-i)) mod 2^32,
    then mod 2^31.  Strings longer than ``max_len`` raise (keeps the
    term sum inside int64); ASCII-only input is the caller's contract.
    """
    # force bigint elements: for small max_len every 31^e fits int32,
    # Spark infers array<int>, and the ascii*weight product overflows
    # INT32 under ANSI instead of computing in int64
    pows = F.lit(_POW31[: max_len + 1]).cast("array<bigint>")
    ln = F.length(col)
    guarded_ln = F.when(
        ln > max_len,
        F.raise_error(
            F.concat(
                F.lit(f"java_string_hash31: key longer than {max_len}: "),
                col,
            )
        ).cast("int"),
    ).otherwise(ln)
    # element_at is 1-based: weight for position i is 31^(len-i)
    terms = [
        F.when(
            guarded_ln >= i,
            F.pmod(
                F.ascii(F.substring(col, i, 1)).cast("bigint")
                * F.element_at(pows, guarded_ln - F.lit(i) + 1),
                F.lit(_U32),
            ),
        ).otherwise(F.lit(0))
        for i in range(1, max_len + 1)
    ]
    total = F.lit(init) * F.element_at(pows, guarded_ln + 1)
    for t in terms:
        total = total + t
    return F.pmod(F.pmod(total, F.lit(_U32)), F.lit(_I32))


def java_string_hash31_sql(col: str, init: int, max_len: int) -> str:
    """DuckDB SQL computing exactly :func:`java_string_hash31`
    (same linear-mod-2^32 form; the per-position weight is a CASE over
    len-i because SQL has no array literal indexing by expression that
    both engines share)."""

    def p31(e: str) -> str:
        branches = " ".join(
            # ::BIGINT on every branch: small weights would type the
            # CASE as INT32 and the ord*weight product would overflow
            f"WHEN {v} THEN {_POW31[v]}::BIGINT" for v in range(max_len + 1)
        )
        return f"(CASE ({e}) {branches} END)"

    terms = [
        f"(CASE WHEN length({col}) >= {i} THEN "
        f"(ord(substr({col}, {i}, 1))::BIGINT * {p31(f'length({col}) - {i}')})"
        f" % {_U32} ELSE 0 END)"
        for i in range(1, max_len + 1)
    ]
    total = f"{init} * {p31(f'length({col})')} + " + " + ".join(terms)
    return f"((({total}) % {_U32}) % {_I32})"
