"""Extended operator queries: temporal joins, sessionization, set ops,
grouping sets, compute-only jobs, JDBC round-trip, generator pipelines.

These cover the SURVEY.md §2 rows marked "absent in reference — free
in Spark" (as-of/range joins §2.7, intersect/except §2.8, cube §2.6)
plus the reference's compute-only examples (§2.11 QuasiMonteCarlo)
and the DBCountPageView JDBC round-trip (§2.7, EX/DBCountPageView.java:1)
— all with exact DuckDB oracles, including the generator pipeline
(deterministic hash64 data derivation is reproduced in SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_main_spark.functions.hashing import hash64, hash64_sql
from hadoop_main_spark.operators import joins as J
from hadoop_main_spark.operators import sessions as SES
from hadoop_main_spark.operators.checkpoints import run_tmpdir
from hadoop_main_spark.plans.registry import query, t
from hadoop_main_spark.streaming.windows import replay_stream, stage_waves

_US_HOUR = 3_600_000_000
_TWO60 = float(2**60)


@query(
    "asof_join",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    p AS (
      SELECT user_id, ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS ts_us,
           c.click_id AS prev_click_id
    FROM p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc="As-of join (absent in reference and in Spark's builtin join "
    "types, SURVEY §2.7): for each purchase, the latest same-user "
    "click at or before it. Tag-union + one windowed carry-forward "
    "pass per key — single shuffle, no per-key pandas merge.",
    bench=True,
)
def asof_join(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    res = J.asof_join(purchases, clicks, on="user_id", value_cols=["click_id"])
    return res.select(
        "purchase_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("click_id").alias("prev_click_id"),
    )


@query(
    "range_join",
    oracle="""
    SELECT a.user_id, a.event_id, COUNT(*) AS n_follow
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    GROUP BY a.user_id, a.event_id
    """,
    doc="Interval self-join (equi key + range predicate; absent in the "
    "reference, SURVEY §2.7): follower-event counts within one hour. "
    "The equi component keeps the shuffle keyed; the range is a "
    "join post-condition.",
)
def range_join(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events")
    return J.range_count_join(e, "user_id", window_us=_US_HOUR)


@query(
    "sessionize",
    oracle="""
    WITH b AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS boundary
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sid AS (
      SELECT user_id,
             SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM b
    ),
    per AS (SELECT user_id, session_id, COUNT(*) AS n FROM sid GROUP BY 1, 2)
    SELECT user_id, COUNT(*) AS n_sessions,
           CAST(SUM(n) AS BIGINT) AS n_events,
           MAX(n) AS longest_session_events
    FROM per GROUP BY user_id
    """,
    doc="Gap-based sessionization, batch form (30-min gap; capability "
    "extension, SURVEY §2.12). Windows are partitioned by user — one "
    "shuffle; streaming twin is streaming/windows.py:sessionize "
    "(F.session_window + watermark).",
    bench=True,
)
def sessionize(spark: SparkSession, sf: str) -> DataFrame:
    return SES.session_stats(t(spark, sf, "events"))


@query(
    "set_ops",
    oracle="""
    SELECT 'with_orders' AS tag, c_custkey FROM
      (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'without_orders' AS tag, c_custkey FROM
      (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)
    """,
    doc="INTERSECT / EXCEPT — absent in the reference (SURVEY §2.8), "
    "free Catalyst capability.",
)
def set_ops(spark: SparkSession, sf: str) -> DataFrame:
    cust = t(spark, sf, "customer").select("c_custkey")
    ordered = t(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"))
    with_orders = cust.intersect(ordered).withColumn("tag", F.lit("with_orders"))
    without = cust.subtract(ordered).withColumn("tag", F.lit("without_orders"))
    return with_orders.unionByName(without).select("tag", "c_custkey")


@query(
    "cube_agg",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
    doc="CUBE grouping sets — absent in the reference (SURVEY §2.6).",
)
def cube_agg(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "orders")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total"),
        )
    )


@query(
    "pi_estimate",
    oracle=f"""
    WITH pts AS (
      SELECT CAST({hash64_sql('id', 'qmc-x')} AS DOUBLE) / {2**60}.0 AS x,
             CAST({hash64_sql('id', 'qmc-y')} AS DOUBLE) / {2**60}.0 AS y
      FROM range(0, 100000) t(id)
    ),
    c AS (
      SELECT COUNT(*) AS n_points,
             CAST(SUM(CASE WHEN x*x + y*y <= 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inside
      FROM pts
    )
    SELECT n_points, n_inside,
           4.0 * CAST(n_inside AS DOUBLE) / CAST(n_points AS DOUBLE) AS pi_estimate
    FROM c
    """,
    doc="QuasiMonteCarlo pi estimator (EX/QuasiMonteCarlo.java:1, "
    "compute-only job family SURVEY §2.11): deterministic hash-derived "
    "points from spark.range — embarrassingly parallel, zero input IO; "
    "the in-circle count is exact-integer so the oracle matches "
    "bit-for-bit.",
)
def pi_estimate(spark: SparkSession, sf: str) -> DataFrame:
    pts = spark.range(0, 100_000).select(
        (hash64(F.col("id").cast("string"), salt="qmc-x").cast("double") / F.lit(_TWO60)).alias("x"),
        (hash64(F.col("id").cast("string"), salt="qmc-y").cast("double") / F.lit(_TWO60)).alias("y"),
    )
    c = pts.agg(
        F.count("*").alias("n_points"),
        F.sum(F.when(F.col("x") * F.col("x") + F.col("y") * F.col("y") <= 1.0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_inside"),
    )
    return c.withColumn(
        "pi_estimate",
        F.lit(4.0) * F.col("n_inside").cast("double") / F.col("n_points").cast("double"),
    )


@query(
    "db_count_pageview",
    oracle="""
    SELECT event_type, COUNT(*) AS views
    FROM events GROUP BY event_type
    """,
    doc="DBCountPageView (EX/DBCountPageView.java:1): aggregate → "
    "batched JDBC INSERT (DBOutputFormat) → JDBC scan back "
    "(DBInputFormat), against an embedded Derby database (the same "
    "DB the reference's test uses: EX/DBCountPageView.java:77 HSQLDB "
    "analog). Round-trips through real spark.read/write.jdbc.",
)
def db_count_pageview(spark: SparkSession, sf: str) -> DataFrame:
    agg = t(spark, sf, "events").groupBy("event_type").agg(F.count("*").alias("views"))
    url = "jdbc:derby:memory:pageviews;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    agg.coalesce(1).write.jdbc(url, "pageview", mode="overwrite", properties=props)
    return spark.read.jdbc(url, "pageview", properties=props).select("event_type", "views")


@query(
    "generated_word_count",
    oracle=f"""
    SELECT word, COUNT(*) AS cnt FROM (
      SELECT 'w' || CAST(
        CAST({hash64_sql("concat(CAST(id AS VARCHAR), '§rtw-7-', CAST(j AS VARCHAR))")} AS BIGINT)
        % 1000 AS VARCHAR) AS word
      FROM range(0, 5000) t(id) CROSS JOIN range(0, 20) u(j)
    ) GROUP BY word
    """,
    doc="RandomTextWriter → WordCount pipeline (EX/RandomTextWriter.java:1 "
    "+ EX/WordCount.java:36): generator source + tokenize + count. The "
    "generator is deterministic hash64 derivation, so even the "
    "generated data is oracle-reproducible in SQL.",
)
def generated_word_count(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.operators.transforms import tokenize
    from hadoop_main_spark.sources.generators import random_text_writer

    lines = random_text_writer(spark, 5000, words_per_row=20, vocab_size=1000, seed=7)
    return (
        lines.select(F.explode(tokenize("line")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "grep_sorted",
    oracle="""
    WITH counts AS (
      SELECT m AS match, COUNT(*) AS cnt
      FROM (SELECT unnest(regexp_extract_all(text, '[a-z]*a[a-z]*')) AS m FROM documents)
      GROUP BY m
    )
    SELECT match, cnt,
           ROW_NUMBER() OVER (ORDER BY cnt DESC, match ASC) AS rank
    FROM counts
    """,
    doc="The full Grep example shape (EX/Grep.java:68-:91, also "
    "Logalyzer hadoop-tools/hadoop-extras/.../Logalyzer.java:1): regex "
    "extract -> count -> global sort by descending frequency. The "
    "reference chains two MR jobs through a temp dir; here it is one "
    "plan, with the desc-frequency rank via scalable global_rank.",
)
def grep_sorted(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.operators import sorting as S
    from hadoop_main_spark.operators import transforms as T

    counts = (
        T.regex_matches(t(spark, sf, "documents"), "text", "[a-z]*a[a-z]*")
        .groupBy("match")
        .agg(F.count("*").alias("cnt"))
    )
    return S.global_rank(counts, F.desc("cnt"), F.asc("match"), rank_col="rank")


@query(
    "shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
           CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate_s, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    """,
    doc="TPC-H Q3 shape (capability query): selective dim filter joined "
    "into two fact tables, grouped revenue. Exercises broadcast of the "
    "filtered customer side into the orders-lineitem sort-merge join; "
    "decimal-exact revenue.",
    bench=True,
)
def shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    c = t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = t(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    )
    li = t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz")
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.unix_timestamp("o_orderdate").alias("o_orderdate_s"),
            "o_orderpriority",
        )
    )


@query(
    "nation_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 shape (capability query): five-way join with a "
    "same-nation predicate across customer and supplier; dims "
    "broadcast, facts sort-merge joined, decimal-exact revenue.",
)
def nation_volume(spark: SparkSession, sf: str) -> DataFrame:
    c = t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    o = t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    li = t(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf, "nation").select("n_nationkey", "n_name")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"]) & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@query(
    "kmv_distinct_sketch",
    oracle=f"""
    WITH mins AS (
      SELECT DISTINCT {hash64_sql('word')} AS h FROM (
        SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word FROM documents)
      WHERE word <> ''
      ORDER BY h LIMIT 256
    ),
    agg AS (SELECT COUNT(*) AS k_used, MAX(h) AS kth_min FROM mins)
    SELECT k_used, kth_min,
           CASE WHEN k_used < 256 THEN CAST(k_used AS DOUBLE)
                ELSE CAST(k_used - 1 AS DOUBLE) * {float(2**60)} / CAST(kth_min AS DOUBLE)
           END AS est_distinct
    FROM agg
    """,
    doc="KMV (k-minimum-values) distinct-count sketch over document "
    "tokens — the mergeable, large-scale successor to UniqValueCount "
    "(MRC/mapreduce/lib/aggregate/UniqValueCount.java:35). Unlike HLL, "
    "KMV on the portable hash64 is bit-reproducible in SQL, so even "
    "the *estimate* is oracle-exact. Physical shape: per-partition "
    "top-k merge (TakeOrderedAndProject), no full shuffle.",
)
def kmv_distinct_sketch(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.functions.sketches import kmv_distinct
    from hadoop_main_spark.operators.transforms import tokenize

    words = (
        t(spark, sf, "documents")
        .select(F.explode(tokenize("text")).alias("word"))
    )
    return kmv_distinct(words, "word", k=256)


@query(
    "funnel_conversion",
    oracle="""
    WITH s AS (SELECT user_id, MIN(ts) AS first_signup
               FROM events WHERE event_type = 'signup' GROUP BY user_id),
    p AS (SELECT user_id, MIN(ts) AS first_purchase
          FROM events WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT COUNT(*) AS n_signed,
           CAST(SUM(CASE WHEN first_purchase >= first_signup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted,
           CAST(SUM(CASE WHEN first_purchase >= first_signup
                         THEN epoch_us(first_purchase) - epoch_us(first_signup)
                         ELSE 0 END) AS BIGINT) AS total_conversion_us
    FROM s LEFT JOIN p USING (user_id)
    """,
    doc="Event-funnel conversion (capability query): first-touch "
    "signup -> purchase ordering per user; two keyed min-aggregations "
    "and one join, integer-exact conversion-lag total.",
)
def funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_signup"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    j = s.join(p, "user_id", "left")
    conv = F.col("first_purchase") >= F.col("first_signup")
    lag_us = F.unix_micros("first_purchase") - F.unix_micros("first_signup")
    return j.agg(
        F.count("*").alias("n_signed"),
        F.sum(F.when(conv, 1).otherwise(0)).cast("bigint").alias("n_converted"),
        F.sum(F.when(conv, lag_us).otherwise(0)).cast("bigint").alias("total_conversion_us"),
    )


@query(
    "descriptor_records",
    oracle="""
    SELECT 'ValueCount' AS agg_type, 'orders_' || o_orderstatus AS id,
           COUNT(*) AS result
    FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT 'LongValueMax', 'max_orderkey', MAX(o_orderkey) FROM orders
    UNION ALL
    SELECT 'UniqValueCount', 'priorities', COUNT(DISTINCT o_orderpriority) FROM orders
    """,
    doc="Record-level ValueAggregatorJob: descriptor strings "
    "'<AggType>:<id>\\t<value>' built from orders, parsed and "
    "aggregated in one grouped pass (ValueAggregatorBaseDescriptor."
    "generateEntry -> Mapper -> Reducer dataflow). The oracle checks "
    "the end-to-end semantics directly against the table.",
)
def descriptor_records(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.operators.aggregate import aggregate_descriptor_records

    o = t(spark, sf, "orders")
    recs = (
        o.select(
            F.concat(
                F.lit("ValueCount:orders_"), F.col("o_orderstatus"), F.lit("\t1")
            ).alias("record")
        )
        .unionAll(
            o.select(
                F.concat(
                    F.lit("LongValueMax:max_orderkey\t"),
                    F.col("o_orderkey").cast("string"),
                ).alias("record")
            )
        )
        .unionAll(
            o.select(
                F.concat(
                    F.lit("UniqValueCount:priorities\t"), F.col("o_orderpriority")
                ).alias("record")
            )
        )
    )
    return aggregate_descriptor_records(recs)


def _cm_bucket(expr: str, j: int) -> str:
    return f"{hash64_sql(expr, f'cm{j}')} % 256"


_CM_ORACLE = f"""
    WITH words AS (
      SELECT word FROM (
        SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word FROM documents)
      WHERE word <> ''),
    sketch AS (
      { " UNION ALL ".join(
          f"SELECT {j} AS row, {_cm_bucket('word', j)} AS bucket, COUNT(*) AS cnt FROM words GROUP BY bucket"
          for j in range(4)) }
    ),
    top AS (
      SELECT word AS item FROM words GROUP BY word
      ORDER BY COUNT(*) DESC, word LIMIT 10),
    probes AS (
      { " UNION ALL ".join(
          f"SELECT item, {j} AS row, {_cm_bucket('item', j)} AS bucket FROM top"
          for j in range(4)) }
    )
    SELECT p.item, MIN(coalesce(s.cnt, 0)) AS est_count
    FROM probes p LEFT JOIN sketch s ON p.row = s.row AND p.bucket = s.bucket
    GROUP BY p.item
    """


@query(
    "count_min_heavy_hitters",
    oracle=_CM_ORACLE,
    doc="Count-min sketch heavy hitters: 4x256 integer counter table "
    "(mergeable across partitions/streams), point-queried for the true "
    "top-10 tokens. hash64 buckets + integer counters make even the "
    "sketch ESTIMATES oracle-exact. Companion to kmv_distinct_sketch "
    "(SURVEY §2.6 modern-aggregate family).",
)
def count_min_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.functions.sketches import count_min_estimate
    from hadoop_main_spark.operators.partitioning import fan_out
    from hadoop_main_spark.operators.transforms import tokenize

    words = fan_out(t(spark, sf, "documents").select("text")).select(
        F.explode(tokenize("text")).alias("word")
    )
    top = (
        words.groupBy("word")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("word"))
        .limit(10)
        .select("word")
    )
    return count_min_estimate(words, "word", top, "word")


@query(
    "stream_sketch_roundtrip",
    oracle=_CM_ORACLE,
    doc="Mergeable-sketch streaming sink ON the driver gate (the "
    "sixth §2.12 certification — covers the additive-merge foreachBatch "
    "sink family: count-min/HLL/span-count share the high-water-mark + "
    "rename-aside-swap machinery this exercises): documents replay as "
    "a 4-micro-batch file stream (doc_id mod 4), each batch's token "
    "count-min table merges ADDITIVELY into the parquet sketch (sum-merge is not "
    "idempotent, so the checkpoint-scoped last_batch high-water mark "
    "is what a replayed batch bounces off), and the accumulated "
    "sketch probed for the true top-10 tokens must equal the one-shot "
    "batch sketch — count_min_heavy_hitters' oracle verbatim, the "
    "sketch-mergeability invariant. A double-merged replay or a "
    "dropped batch moves a counter.",
)
def stream_sketch_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.functions.sketches import count_min_probe
    from hadoop_main_spark.operators.partitioning import fan_out
    from hadoop_main_spark.operators.transforms import tokenize
    from hadoop_main_spark.streaming.windows import (
        count_min_stream_parquet,
        read_count_min_sketch,
    )

    docs = t(spark, sf, "documents").select("doc_id", "text")
    base = run_tmpdir("streamsk_")
    waves = [docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == k) for k in range(4)]
    stream = replay_stream(
        spark, stage_waves(waves, f"{base}/src"), docs.schema
    ).select(F.explode(tokenize("text")).alias("word"))
    q = count_min_stream_parquet(stream, "word", f"{base}/sketch", f"{base}/ckpt")
    q.awaitTermination()
    sketch = read_count_min_sketch(spark, f"{base}/sketch")
    words = fan_out(docs.select("text")).select(F.explode(tokenize("text")).alias("word"))
    top = (
        words.groupBy("word")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("word"))
        .limit(10)
        .select("word")
    )
    return count_min_probe(sketch, top, "word")


@query(
    "bbp_pi_series",
    oracle="""
    SELECT list_reduce(list_prepend(0.0, list_transform(generate_series(0, 11),
             k -> (1.0 / power(16.0, CAST(k AS DOUBLE))) * (
                    4.0 / (8.0 * CAST(k AS DOUBLE) + 1.0)
                    - 2.0 / (8.0 * CAST(k AS DOUBLE) + 4.0)
                    - 1.0 / (8.0 * CAST(k AS DOUBLE) + 5.0)
                    - 1.0 / (8.0 * CAST(k AS DOUBLE) + 6.0)))),
           (acc, x) -> acc + x) AS pi_bbp,
           12 AS n_terms
    """,
    doc="Bailey-Borwein-Plouffe pi series (EX/BaileyBorweinPlouffe."
    "java:1, compute-only family SURVEY 2.11): 12 terms summed by an "
    "ordered fold - identical IEEE operation sequence in both engines, "
    "so the double result matches bit-for-bit (machine-precision pi).",
)
def bbp_pi_series(spark: SparkSession, sf: str) -> DataFrame:
    k = F.sequence(F.lit(0), F.lit(11))
    term = lambda kk: (
        (F.lit(1.0) / F.pow(F.lit(16.0), kk.cast("double")))
        * (
            F.lit(4.0) / (F.lit(8.0) * kk.cast("double") + F.lit(1.0))
            - F.lit(2.0) / (F.lit(8.0) * kk.cast("double") + F.lit(4.0))
            - F.lit(1.0) / (F.lit(8.0) * kk.cast("double") + F.lit(5.0))
            - F.lit(1.0) / (F.lit(8.0) * kk.cast("double") + F.lit(6.0))
        )
    )
    terms = F.transform(k, term)
    pi = F.aggregate(terms, F.lit(0.0), lambda a, x: a + x)
    return spark.range(1).select(pi.alias("pi_bbp"), F.lit(12).alias("n_terms"))


@query(
    "stratified_sample",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_sampled,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sampled_total
    FROM orders
    WHERE {hash64_sql('o_orderkey', 'strat')} % 100 <
          CASE o_orderpriority
            WHEN '1-URGENT' THEN 50
            WHEN '2-HIGH' THEN 25
            ELSE 10 END
    GROUP BY o_orderpriority
    """,
    doc="Stratified sampling with per-stratum rates (50/25/10%), "
    "deterministic via hash64 thresholds — reproducible across runs "
    "and engines, unlike RNG sampleBy; the scan-level sibling of "
    "SequenceFileInputFilter's percent sampler (MRC/mapreduce/lib/"
    "input/SequenceFileInputFilter.java:1).",
)
def stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    o = t(spark, sf, "orders")
    rate = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 50)
        .when(F.col("o_orderpriority") == "2-HIGH", 25)
        .otherwise(10)
    )
    kept = o.filter(hash64("o_orderkey", "strat") % 100 < rate)
    return kept.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_sampled"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("sampled_total"),
    )


def _hll_oracle() -> str:
    from hadoop_main_spark.functions.sketches import HLL_M, HLL_MAX_RANK, HLL_NUMER

    h = hash64_sql("o_custkey")
    rank = (
        f"CASE WHEN (h >> 8) = 0 THEN {HLL_MAX_RANK} "
        f"ELSE {HLL_MAX_RANK} - length(bin(h >> 8)) END"
    )
    return f"""
    -- null-priority rows are excluded on BOTH sides (the Spark build
    -- filters them so its two register subtrees share one exchange;
    -- without the same filter here the 'ALL' row diverges, review-r4b)
    WITH h AS (SELECT o_orderpriority AS grp, {h} AS h FROM orders
               WHERE o_orderpriority IS NOT NULL),
    r AS (SELECT grp, h & {HLL_M - 1} AS bucket, MAX({rank}) AS reg
          FROM h GROUP BY grp, bucket),
    rall AS (SELECT 'ALL' AS grp, bucket, MAX(reg) AS reg FROM r GROUP BY bucket),
    allr AS (SELECT * FROM r UNION ALL SELECT * FROM rall),
    s AS (SELECT grp, COUNT(*) AS n_buckets_used,
                 SUM(1::BIGINT << ({HLL_MAX_RANK} - reg)) AS s_present
          FROM allr GROUP BY grp),
    ex AS (SELECT o_orderpriority AS grp, COUNT(DISTINCT o_custkey) AS exact_distinct
           FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY grp
           UNION ALL
           SELECT 'ALL', COUNT(DISTINCT o_custkey) FROM orders
           WHERE o_orderpriority IS NOT NULL)
    SELECT s.grp, n_buckets_used,
           CAST('{HLL_NUMER!r}' AS DOUBLE)
             / CAST(s_present + ({HLL_M} - n_buckets_used) * (1::BIGINT << {HLL_MAX_RANK}) AS DOUBLE)
             AS est_distinct,
           exact_distinct
    FROM s JOIN ex ON s.grp = ex.grp
    """


@query(
    "hll_distinct_sketch",
    oracle=_hll_oracle(),
    doc="HyperLogLog distinct-customer sketch per order priority PLUS a "
    "merged 'ALL' row produced by bucket-wise max over the per-group "
    "register tables — demonstrating the merge property that makes HLL "
    "the 100 TB distinct counter (registers from any shard/stream "
    "combine losslessly). hash64-based registers and an integer-exact "
    "harmonic sum make even the ESTIMATE oracle-exact; exact distinct "
    "counts ride along for error inspection. Companion to "
    "kmv_distinct_sketch (same registry family as the reference's "
    "UniqValueCount, MRC/mapreduce/lib/aggregate/UniqValueCount.java:35).",
)
def hll_distinct_sketch(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.functions.sketches import hll_estimate, hll_merge, hll_registers

    o = t(spark, sf, "orders")
    # no cache(): the two register consumers below share the identical
    # aggregation subtree, so the exchange is reused at runtime and
    # nothing stays pinned in executor storage after the query. The
    # explicit isNotNull matches the filter the grp-join pushes into
    # the per-group branch — without it the two register subtrees
    # differ by that pushed filter and the exchange cannot be reused.
    regs = hll_registers(
        o.filter(F.col("o_orderpriority").isNotNull()), "o_custkey", ["o_orderpriority"]
    )
    merged = hll_merge(regs.drop("o_orderpriority")).withColumn("grp", F.lit("ALL"))
    per_grp = regs.withColumnRenamed("o_orderpriority", "grp")
    est = hll_estimate(per_grp.unionByName(merged), ["grp"])
    onn = o.filter(F.col("o_orderpriority").isNotNull())
    exact = (
        onn.groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(F.countDistinct("o_custkey").alias("exact_distinct"))
        .unionByName(
            onn.agg(F.countDistinct("o_custkey").alias("exact_distinct")).withColumn(
                "grp", F.lit("ALL")
            )
        )
    )
    return est.join(exact, "grp")


@query(
    "gap_fill_daily",
    oracle="""
    WITH dedup AS (
      SELECT user_id, ts, arg_max(value, event_id) AS value
      FROM events GROUP BY user_id, ts),
    bounds AS (
      SELECT user_id, date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
      FROM events GROUP BY user_id),
    spine AS (
      SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM bounds),
    spine2 AS (
      SELECT user_id, day,
             day + INTERVAL 1 DAY - INTERVAL 1 MICROSECOND AS day_end
      FROM spine),
    cnt AS (
      SELECT user_id, date_trunc('day', ts) AS day, COUNT(*) AS n_events
      FROM events GROUP BY user_id, day)
    SELECT s.user_id, CAST(epoch_us(s.day) AS BIGINT) AS day_us,
           coalesce(c.n_events, 0) AS n_events,
           d.value AS last_value
    FROM spine2 s
    ASOF LEFT JOIN dedup d ON s.user_id = d.user_id AND s.day_end >= d.ts
    LEFT JOIN cnt c ON c.user_id = s.user_id AND c.day = s.day
    """,
    doc="Time-series gap fill / daily resample (hypertable-rollup "
    "family; absent in the reference): per user, a dense daily spine "
    "between that user's first and last event, each day carrying the "
    "day's event count (0 on gap days) and the last observed value "
    "carried forward across gaps. Spine generation is sequence+explode "
    "(no driver loop); carry-forward is the asof_join operator (one "
    "keyed shuffle + window pass); the day-count join is keyed. The "
    "oracle cross-checks against DuckDB's native ASOF JOIN.",
)
def gap_fill_daily(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events")
    dedup = e.groupBy("user_id", "ts").agg(
        F.max_by("value", "event_id").alias("value")
    )
    day = F.date_trunc("day", F.col("ts"))
    bounds = e.groupBy("user_id").agg(
        F.min(day).alias("d0"), F.max(day).alias("d1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    ).select(
        "user_id",
        "day",
        (F.col("day") + F.expr("INTERVAL 1 DAY") - F.expr("INTERVAL 1 MICROSECOND")).alias("ts"),
    )
    cnt = e.groupBy("user_id", day.alias("day")).agg(F.count("*").alias("n_events"))
    filled = J.asof_join(spine, dedup, on="user_id", value_cols=["value"])
    return (
        filled.join(cnt, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.unix_micros("day").alias("day_us"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.col("value").alias("last_value"),
        )
    )


def _bloom_oracle() -> str:
    from hadoop_main_spark.functions.sketches import BLOOM_K, BLOOM_M

    bit_selects = "\n      UNION ALL\n      ".join(
        f"SELECT DISTINCT {j} AS j, {hash64_sql('o_custkey', f'bloom{j}')} % {BLOOM_M} AS bit FROM orders"
        for j in range(BLOOM_K)
    )
    probe_selects = "\n      UNION ALL\n      ".join(
        f"SELECT pk, {j} AS j, {hash64_sql('pk', f'bloom{j}')} % {BLOOM_M} AS bit FROM probes"
        for j in range(BLOOM_K)
    )
    return f"""
    WITH bits AS (
      {bit_selects}
    ),
    probes AS (SELECT unnest(generate_series(1, 2000))::BIGINT AS pk),
    pos AS (
      {probe_selects}
    ),
    hits AS (
      SELECT pk, COUNT(*) AS h
      FROM (SELECT DISTINCT pos.pk, pos.j FROM pos JOIN bits USING (j, bit)) u
      GROUP BY pk),
    verdict AS (
      SELECT p.pk, coalesce(h, 0) = {BLOOM_K} AS bloom_maybe,
             EXISTS (SELECT 1 FROM orders WHERE o_custkey = p.pk) AS present
      FROM probes p LEFT JOIN hits USING (pk))
    SELECT COUNT(*) AS n_probes,
           COUNT(CASE WHEN bloom_maybe THEN 1 END) AS n_bloom_maybe,
           COUNT(CASE WHEN present THEN 1 END) AS n_present,
           COUNT(CASE WHEN bloom_maybe AND NOT present THEN 1 END) AS n_false_positive,
           COUNT(CASE WHEN present AND NOT bloom_maybe THEN 1 END) AS n_false_negative
    FROM verdict
    """


@query(
    "bloom_membership",
    oracle=_bloom_oracle(),
    doc="Bloom-filter membership sketch (the reference's BloomMapFile, "
    "IO/BloomMapFile.java): build a 65536-bit / 4-hash filter over "
    "orders.o_custkey as a (j, bit) DataFrame, probe custkeys 1..2000, "
    "and report maybe/present/false-positive/false-negative counts — "
    "the oracle proves zero false negatives and bit-identical "
    "false-positive verdicts. The sketch is bounded at k*m rows, so "
    "it broadcasts to probes at any corpus scale.",
)
def bloom_membership(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.functions.sketches import BLOOM_K, bloom_bits, bloom_probe

    o = t(spark, sf, "orders")
    bits = bloom_bits(o, "o_custkey")
    probes = spark.range(1, 2001).select(F.col("id").alias("pk"))
    verdict = bloom_probe(bits, probes, "pk")
    present = o.select(F.col("o_custkey").alias("pk")).distinct().withColumn(
        "present", F.lit(True)
    )
    v = verdict.join(present, "pk", "left").select(
        "pk", "bloom_maybe", F.coalesce("present", F.lit(False)).alias("present")
    )
    return v.agg(
        F.count("*").alias("n_probes"),
        F.count(F.when(F.col("bloom_maybe"), 1)).alias("n_bloom_maybe"),
        F.count(F.when(F.col("present"), 1)).alias("n_present"),
        F.count(F.when(F.col("bloom_maybe") & ~F.col("present"), 1)).alias(
            "n_false_positive"
        ),
        F.count(F.when(F.col("present") & ~F.col("bloom_maybe"), 1)).alias(
            "n_false_negative"
        ),
    )


@query(
    "quantile_histogram",
    oracle="""
    WITH hist AS (
      SELECT o_orderpriority AS grp, CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS b,
             COUNT(*) AS c
      FROM orders GROUP BY grp, b),
    cum AS (
      SELECT grp, b, c,
             SUM(c) OVER (PARTITION BY grp ORDER BY b
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY grp) AS n
      FROM hist),
    est AS (
      SELECT grp, MAX(n) AS n,
             MIN(CASE WHEN cum >= (n + 1) // 2 THEN b END) AS p50_b,
             MIN(CASE WHEN cum >= (95 * n + 99) // 100 THEN b END) AS p95_b
      FROM cum GROUP BY grp),
    ranked AS (
      SELECT o_orderpriority AS grp, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders),
    exact AS (
      SELECT grp, o_totalprice AS p50_exact FROM ranked WHERE rn = (n + 1) // 2)
    SELECT e.grp, CAST(e.n AS BIGINT) AS n,
           CAST((p50_b + 1) * 1000.0 AS DOUBLE) AS p50_est_upper,
           CAST((p95_b + 1) * 1000.0 AS DOUBLE) AS p95_est_upper,
           x.p50_exact
    FROM est e JOIN exact x ON e.grp = x.grp
    """,
    doc="Mergeable quantile sketch: fixed-width (1000-unit) histogram "
    "of order totals per priority — buckets merge by count addition "
    "across partitions/shards, the scale path for the reference's "
    "ValueHistogram median/percentile report (MRC/mapreduce/lib/"
    "aggregate/ValueHistogram.java:83). p50/p95 read off the "
    "cumulative histogram with integer-exact rank thresholds; the "
    "exact p50 (deterministic (value, orderkey) rank) rides along, "
    "bounding the estimate error by one bucket width. The histogram "
    "is O(value_range/width) rows however large the input.",
)
def quantile_histogram(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    o = t(spark, sf, "orders")
    b = F.floor(F.col("o_totalprice") / F.lit(1000.0)).cast("bigint")
    hist = o.groupBy(F.col("o_orderpriority").alias("grp"), b.alias("b")).agg(
        F.count("*").alias("c")
    )
    wcum = (
        Window.partitionBy("grp").orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("grp")
    cum = hist.select(
        "grp",
        "b",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    est = cum.groupBy("grp").agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("cum") >= F.expr("(n + 1) DIV 2"), F.col("b"))).alias("p50_b"),
        F.min(F.when(F.col("cum") >= F.expr("(95 * n + 99) DIV 100"), F.col("b"))).alias("p95_b"),
    )
    wr = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    ranked = o.select(
        F.col("o_orderpriority").alias("grp"),
        "o_totalprice",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(Window.partitionBy("o_orderpriority")).alias("n"),
    )
    exact = ranked.filter(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        "grp", F.col("o_totalprice").alias("p50_exact")
    )
    return est.join(exact, "grp").select(
        "grp",
        "n",
        ((F.col("p50_b") + 1) * F.lit(1000.0)).cast("double").alias("p50_est_upper"),
        ((F.col("p95_b") + 1) * F.lit(1000.0)).cast("double").alias("p95_est_upper"),
        "p50_exact",
    )


_KMV_K = 256
# SQL twin of sketches.kmv_estimate_col — same HASH_SPACE literal, one
# Python-side source for the formula (review-r4b dedup)
from hadoop_main_spark.functions.sketches import HASH_SPACE as _KMV_SPACE  # noqa: E402

_KMV_EST = (
    "CASE WHEN {ku} < " + str(_KMV_K) + " THEN CAST({ku} AS DOUBLE) "
    "ELSE CAST({ku} - 1 AS DOUBLE) * " + repr(_KMV_SPACE) + " / CAST({km} AS DOUBLE) END"
)


@query(
    "kmv_source_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT CASE WHEN COALESCE(TRY_CAST(regexp_extract(source, '^src(\\d+)$', 1) AS BIGINT), 0) % 20 < 10
                  THEN 'a' ELSE 'b' END AS g,
             list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS tk
      FROM documents),
    terms AS (
      SELECT g, unnest(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS w
      FROM toks),
    hs AS (SELECT DISTINCT g, {hash64_sql('w')} AS h FROM terms),
    sk AS (SELECT g, h FROM (
             SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn FROM hs)
           WHERE rn <= {_KMV_K}),
    per_g AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ku, MAX(h) AS km FROM sk GROUP BY g),
    u AS (SELECT CAST(COUNT(*) AS BIGINT) AS ku, MAX(h) AS km FROM (
            SELECT DISTINCT h FROM sk ORDER BY h LIMIT {_KMV_K})),
    wide AS (
      SELECT (SELECT ku FROM per_g WHERE g = 'a') AS ku_a,
             (SELECT km FROM per_g WHERE g = 'a') AS km_a,
             (SELECT ku FROM per_g WHERE g = 'b') AS ku_b,
             (SELECT km FROM per_g WHERE g = 'b') AS km_b,
             (SELECT ku FROM u) AS ku_u,
             (SELECT km FROM u) AS km_u),
    est AS (
      SELECT {_KMV_EST.format(ku='ku_a', km='km_a')} AS est_a,
             {_KMV_EST.format(ku='ku_b', km='km_b')} AS est_b,
             {_KMV_EST.format(ku='ku_u', km='km_u')} AS est_union
      FROM wide)
    SELECT est_a, est_b, est_union,
           est_a + est_b - est_union AS est_intersection,
           (est_a + est_b - est_union) / est_union AS jaccard_est
    FROM est
    """,
    doc="Mergeable-sketch SET ALGEBRA: vocabulary overlap between two "
    "source collections (distinct word 3-grams per side) estimated "
    "entirely from KMV sketches — union "
    "by sketch merge (k smallest of the combined hash sets, the "
    "defining KMV property), intersection by inclusion-exclusion, "
    "Jaccard as their ratio. The corpus-overlap question every "
    "mixture decision needs, answered without ever joining the "
    "corpora: each side is one grouped top-k over distinct term "
    "hashes (partial top-k map-side, k rows per group shuffle). "
    "Bit-reproducible end to end (hash64 + deterministic k-min sets), "
    "so even the ESTIMATES are oracle-exact — same registry family "
    "as kmv_distinct_sketch.",
)
def kmv_source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from hadoop_main_spark.functions.hashing import hash64
    from hadoop_main_spark.operators.transforms import tokenize

    k = _KMV_K
    d = t(spark, sf, "documents")
    grp = F.when(
        F.coalesce(
            F.expr(r"try_cast(regexp_extract(source, '^src(\\d+)$', 1) AS BIGINT)"),
            F.lit(0),
        )
        % 20
        < 10,
        F.lit("a"),
    ).otherwise(F.lit("b"))
    from hadoop_main_spark.operators.dedup import word_shingles

    terms = d.select(grp.alias("g"), F.explode(word_shingles("text", 3)).alias("w"))
    hs = terms.select("g", hash64("w").alias("h")).distinct()
    sk = (
        hs.withColumn("rn", F.row_number().over(Window.partitionBy("g").orderBy("h")))
        .filter(F.col("rn") <= k)
        .select("g", "h")
    )
    per_g = sk.groupBy("g").agg(
        F.count("*").cast("bigint").alias("ku"), F.max("h").alias("km")
    )
    u = (
        sk.select("h")
        .distinct()
        .orderBy("h")
        .limit(k)
        .agg(F.count("*").cast("bigint").alias("ku_u"), F.max("h").alias("km_u"))
    )
    wide = per_g.groupBy().pivot("g", ["a", "b"]).agg(
        F.max("ku").alias("ku"), F.max("km").alias("km")
    ).crossJoin(F.broadcast(u))

    from hadoop_main_spark.functions.sketches import kmv_estimate_col

    def est(ku, km):
        return kmv_estimate_col(ku, km, k)

    scored = wide.select(
        est("a_ku", "a_km").alias("est_a"),
        est("b_ku", "b_km").alias("est_b"),
        est("ku_u", "km_u").alias("est_union"),
    )
    return scored.select(
        "est_a",
        "est_b",
        "est_union",
        (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias("est_intersection"),
        (
            (F.col("est_a") + F.col("est_b") - F.col("est_union")) / F.col("est_union")
        ).alias("jaccard_est"),
    )


# --- row-level validation / snapshot-diff family -----------------------------

_FP_CANON_SQL = (
    "concat_ws(chr(31), "
    "coalesce(CAST(l_orderkey AS VARCHAR), chr(0) || 'NULL'), "
    "coalesce(CAST(l_linenumber AS VARCHAR), chr(0) || 'NULL'), "
    "coalesce(CAST(l_returnflag AS VARCHAR), chr(0) || 'NULL'), "
    "coalesce(CAST(l_linestatus AS VARCHAR), chr(0) || 'NULL'), "
    "coalesce(CAST(CAST(l_quantity AS DECIMAL(20,2)) AS VARCHAR), chr(0) || 'NULL'), "
    "coalesce(CAST(CAST(l_shipdate AS DATE) AS VARCHAR), chr(0) || 'NULL'))"
)


@query(
    "table_fingerprint",
    bench=True,
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({hash64_sql(_FP_CANON_SQL)})
                % 2305843009213693951 AS BIGINT) AS fingerprint
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Order-independent row-level table checksum "
    "(operators/aggregate.py:table_fingerprint): per return flag, "
    "row count + SUM of 60-bit canonical-row hashes folded mod "
    "2^61-1. Addition commutes, so any partitioning / read order / "
    "engine produces the identical fingerprint — the row-content "
    "counterpart to DistCp's file-level validation and the primitive "
    "that certifies a 100 TB copy: fingerprint source and destination "
    "independently, compare k tiny rows. Exact DECIMAL(38,0) "
    "accumulation (2^60 x rows << 10^38); doubles/timestamps enter "
    "the canonical form only through exact DECIMAL/DATE casts. One "
    "scan, partial-agg shuffle of (group, count, sum).",
)
def table_fingerprint_q(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.operators.aggregate import table_fingerprint

    li = t(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("decimal(20,2)").alias("q_dec"),
        F.col("l_shipdate").cast("date").alias("ship_d"),
    )
    return table_fingerprint(
        li,
        ["l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "q_dec", "ship_d"],
        ["l_returnflag"],
    )


_DIFF_CANON = (
    "concat_ws(chr(31), "
    "coalesce(CAST(o_custkey AS VARCHAR), chr(0) || 'NULL'), "
    "coalesce(CAST(o_orderstatus AS VARCHAR), chr(0) || 'NULL'), "
    "coalesce(CAST(price AS VARCHAR), chr(0) || 'NULL'), "
    "coalesce(CAST(o_orderpriority AS VARCHAR), chr(0) || 'NULL'))"
)


@query(
    "snapshot_diff",
    oracle=f"""
    WITH oldsnap AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(20,2)) AS price, o_orderpriority
      FROM orders WHERE o_orderkey % 97 <> 0),
    newsnap AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(20,2))
               + CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS price,
             o_orderpriority
      FROM orders WHERE o_orderkey % 89 <> 0),
    oh AS (SELECT o_orderkey, {hash64_sql(_DIFF_CANON)} AS h FROM oldsnap),
    nh AS (SELECT o_orderkey, {hash64_sql(_DIFF_CANON)} AS h FROM newsnap),
    j AS (
      SELECT CASE WHEN oh.h IS NULL THEN 'added'
                  WHEN nh.h IS NULL THEN 'removed'
                  WHEN oh.h <> nh.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM oh FULL OUTER JOIN nh USING (o_orderkey))
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_keys
    FROM j GROUP BY status
    """,
    doc="CDC-style snapshot diff (operators/aggregate.py:"
    "keyed_snapshot_diff): two deterministic snapshots derived from "
    "orders (old drops keys % 97 = 0; new drops keys % 89 = 0 and "
    "bumps price on keys % 7 = 0) diff by primary key into added / "
    "removed / changed / unchanged counts. Each side reduces to "
    "(key, canonical-row hash) BEFORE the full-outer join, so the "
    "join shuffles narrow rows regardless of table width and is "
    "co-partitioned on the key — the audit a 100 TB incremental "
    "ingest runs between yesterday's and today's snapshot. Exact "
    "DECIMAL price arithmetic keeps the 'changed' verdicts "
    "engine-portable.",
)
def snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.operators.aggregate import keyed_snapshot_diff

    o = t(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(20,2)").alias("price0"),
        "o_orderpriority",
    )
    oldsnap = o.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("price0").alias("price"),
        "o_orderpriority",
    )
    newsnap = o.filter(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (
            F.col("price0")
            + F.when(F.col("o_orderkey") % 7 == 0, F.lit(1)).otherwise(F.lit(0))
        ).alias("price"),
        "o_orderpriority",
    )
    d = keyed_snapshot_diff(
        oldsnap,
        newsnap,
        ["o_orderkey"],
        ["o_custkey", "o_orderstatus", "price", "o_orderpriority"],
    )
    return d.groupBy("status").agg(F.count("*").cast("bigint").alias("n_keys"))


_MERGE_CANON = (
    "concat_ws(chr(31), "
    "coalesce(CAST(o_orderkey AS VARCHAR), chr(0) || 'NULL'), "
    "coalesce(CAST(o_custkey AS VARCHAR), chr(0) || 'NULL'), "
    "coalesce(CAST(o_orderstatus AS VARCHAR), chr(0) || 'NULL'), "
    "coalesce(CAST(price AS VARCHAR), chr(0) || 'NULL'), "
    "coalesce(CAST(o_orderpriority AS VARCHAR), chr(0) || 'NULL'))"
)


@query(
    "merge_upsert",
    oracle=f"""
    WITH tgt AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(20,2)) AS price, o_orderpriority
      FROM orders WHERE o_orderkey % 97 <> 0),
    src AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(20,2))
               + CASE WHEN o_orderkey % 7 = 0 THEN 10 ELSE 0 END AS price,
             o_orderpriority,
             (o_orderkey % 13 = 0) AS is_delete
      FROM orders
      WHERE o_orderkey % 7 = 0 OR o_orderkey % 97 = 0 OR o_orderkey % 13 = 0),
    merged AS (
      SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
             CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey
                  ELSE t.o_custkey END AS o_custkey,
             CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
                  ELSE t.o_orderstatus END AS o_orderstatus,
             CASE WHEN s.o_orderkey IS NOT NULL THEN s.price
                  ELSE t.price END AS price,
             CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderpriority
                  ELSE t.o_orderpriority END AS o_orderpriority
      FROM tgt t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
      WHERE NOT (s.o_orderkey IS NOT NULL AND s.is_delete))
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({hash64_sql(_MERGE_CANON)})
                % 2305843009213693951 AS BIGINT) AS fingerprint
    FROM merged GROUP BY o_orderstatus
    """,
    doc="Batch MERGE INTO (operators/aggregate.py:merge_into — the "
    "lakehouse upsert primitive, ANSI SQL:2003 MERGE / Delta-style "
    "semantics; the write-side counterpart to snapshot_diff): a "
    "deterministic change set derived from orders (updates on keys "
    "% 7 = 0 with price bumped +10, inserts on keys % 97 = 0 absent "
    "from the target, delete markers on keys % 13 = 0 — deletes win "
    "on overlap, and not-matched deletes exercise the no-op branch) "
    "merges into the target snapshot via ONE co-partitioned "
    "full-outer join; all five action branches (update / insert / "
    "delete / no-op delete / keep) resolve from a presence flag. The "
    "merged table is certified by content, not by counts: per order "
    "status, n_rows + the order-independent mod-2^61-1 row "
    "fingerprint over every column, so a single mis-merged row "
    "anywhere fails the oracle.",
)
def merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.operators.aggregate import merge_into, table_fingerprint

    o = t(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(20,2)").alias("price0"),
        "o_orderpriority",
    )
    target = o.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("price0").alias("price"),
        "o_orderpriority",
    )
    k = F.col("o_orderkey")
    source = o.filter((k % 7 == 0) | (k % 97 == 0) | (k % 13 == 0)).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (
            F.col("price0")
            + F.when(k % 7 == 0, F.lit(10)).otherwise(F.lit(0))
        ).alias("price"),
        "o_orderpriority",
        (k % 13 == 0).alias("is_delete"),
    )
    merged = merge_into(
        target,
        source,
        ["o_orderkey"],
        ["o_custkey", "o_orderstatus", "price", "o_orderpriority"],
        delete_col="is_delete",
    )
    return table_fingerprint(
        merged,
        ["o_orderkey", "o_custkey", "o_orderstatus", "price", "o_orderpriority"],
        ["o_orderstatus"],
    )


@query(
    "versioned_time_travel",
    oracle=f"""
    WITH tgt AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(20,2)) AS price, o_orderpriority
      FROM orders WHERE o_orderkey % 97 <> 0),
    src AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(20,2))
               + CASE WHEN o_orderkey % 7 = 0 THEN 10 ELSE 0 END AS price,
             o_orderpriority,
             (o_orderkey % 13 = 0) AS is_delete
      FROM orders
      WHERE o_orderkey % 7 = 0 OR o_orderkey % 97 = 0 OR o_orderkey % 13 = 0),
    merged AS (
      SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
             CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey
                  ELSE t.o_custkey END AS o_custkey,
             CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
                  ELSE t.o_orderstatus END AS o_orderstatus,
             CASE WHEN s.o_orderkey IS NOT NULL THEN s.price
                  ELSE t.price END AS price,
             CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderpriority
                  ELSE t.o_orderpriority END AS o_orderpriority
      FROM tgt t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
      WHERE NOT (s.o_orderkey IS NOT NULL AND s.is_delete)),
    both_v AS (
      SELECT 1 AS version, * FROM tgt
      UNION ALL
      SELECT 2 AS version, * FROM merged)
    SELECT CAST(version AS BIGINT) AS version, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({hash64_sql(_MERGE_CANON)})
                % 2305843009213693951 AS BIGINT) AS fingerprint
    FROM both_v GROUP BY version, o_orderstatus
    """,
    doc="Versioned table snapshots with TIME TRAVEL (sources/"
    "versioned.py — the lakehouse-lite commit protocol: every commit "
    "is an immutable v=N parquet snapshot whose manifest entry is "
    "written LAST, so readers never see a torn write; Delta/Iceberg's "
    "snapshot-isolation idea reduced to the single-writer case): "
    "version 1 commits the target snapshot, merge_version applies "
    "merge_upsert's exact change set as version 2, and BOTH versions "
    "are then read back THROUGH the manifest — version 1 after "
    "version 2 exists, which is the time-travel property itself. "
    "Certified by content: per (version, status), n_rows + the "
    "mod-2^61-1 row fingerprint; a stale read, a leaked tombstone, "
    "or any cross-version contamination moves a row.",
)
def versioned_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.operators.aggregate import table_fingerprint
    from hadoop_main_spark.sources.versioned import (
        merge_version,
        read_version,
        write_version,
    )

    o = t(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(20,2)").alias("price0"),
        "o_orderpriority",
    )
    target = o.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("price0").alias("price"),
        "o_orderpriority",
    )
    k = F.col("o_orderkey")
    source = o.filter((k % 7 == 0) | (k % 97 == 0) | (k % 13 == 0)).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (
            F.col("price0")
            + F.when(k % 7 == 0, F.lit(10)).otherwise(F.lit(0))
        ).alias("price"),
        "o_orderpriority",
        (k % 13 == 0).alias("is_delete"),
    )
    table = run_tmpdir("versioned_") + "/orders_tbl"
    v1 = write_version(target, table)
    v2 = merge_version(
        spark,
        table,
        source,
        ["o_orderkey"],
        ["o_custkey", "o_orderstatus", "price", "o_orderpriority"],
        delete_col="is_delete",
    )
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "price", "o_orderpriority"]
    out = None
    for v in (v1, v2):  # v1 read AFTER the v2 commit — time travel
        fp = table_fingerprint(
            read_version(spark, table, v), cols, ["o_orderstatus"]
        ).select(
            F.lit(v).cast("bigint").alias("version"),
            "o_orderstatus",
            "n_rows",
            "fingerprint",
        )
        out = fp if out is None else out.unionByName(fp)
    return out


@query(
    "dq_audit",
    oracle="""
    SELECT 'null_custkey' AS rule,
           CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orphan_orders',
           CAST(COUNT(*) AS BIGINT)
    FROM orders o WHERE o.o_custkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'dup_orderkey',
           CAST(coalesce(SUM(n - 1), 0) AS BIGINT)
    FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders GROUP BY o_orderkey)
    WHERE n > 1
    UNION ALL
    SELECT 'negative_totalprice',
           CAST(COUNT(*) FILTER (WHERE o_totalprice < 0) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'ship_before_order',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate < o.o_orderdate
    """,
    doc="Data-quality audit suite — the pre-publication contract "
    "checks a warehouse runs on every load (the validation family "
    "with table_fingerprint/snapshot_diff): NULL keys, referential-"
    "integrity orphans (LEFT ANTI join against the dimension), "
    "duplicate primary keys (surplus row count), domain violations "
    "(negative totals), and CROSS-TABLE temporal consistency "
    "(lineitem shipped before its order was placed). One (rule, "
    "n_violations) row each, unioned — grep-able and thresholdable by "
    "an orchestrator. Scale shape: each rule is a partial-aggregated "
    "scan or a key-partitioned anti/inner join; nothing quadratic, "
    "nothing collected.",
)
def dq_audit(spark: SparkSession, sf: str) -> DataFrame:
    o = t(spark, sf, "orders")
    c = t(spark, sf, "customer")
    li = t(spark, sf, "lineitem")
    b = lambda x: x.cast("bigint")  # noqa: E731

    null_ck = o.agg(
        F.lit("null_custkey").alias("rule"),
        b(F.sum(F.col("o_custkey").isNull().cast("bigint"))).alias("n_violations"),
    )
    orphans = (
        o.filter(F.col("o_custkey").isNotNull())
        .join(c.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "left_anti")
        .agg(F.lit("orphan_orders").alias("rule"), b(F.count("*")).alias("n_violations"))
    )
    dups = (
        o.groupBy("o_orderkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .agg(
            F.lit("dup_orderkey").alias("rule"),
            b(F.coalesce(F.sum(F.col("n") - 1), F.lit(0))).alias("n_violations"),
        )
    )
    neg = o.agg(
        F.lit("negative_totalprice").alias("rule"),
        b(F.sum((F.col("o_totalprice") < 0).cast("bigint"))).alias("n_violations"),
    )
    ship = (
        li.select("l_orderkey", "l_shipdate")
        .join(o.select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"), "l_orderkey")
        .filter(F.col("l_shipdate") < F.col("o_orderdate"))
        .agg(F.lit("ship_before_order").alias("rule"), b(F.count("*")).alias("n_violations"))
    )
    return null_ck.unionByName(orphans).unionByName(dups).unionByName(neg).unionByName(ship)


@query(
    "skew_audit",
    oracle="""
    WITH freq AS (
      SELECT 'lineitem.l_partkey' AS key_col, l_partkey AS k, COUNT(*) AS f
      FROM lineitem GROUP BY 2
      UNION ALL
      SELECT 'lineitem.l_suppkey', l_suppkey, COUNT(*) FROM lineitem GROUP BY 2
      UNION ALL
      SELECT 'orders.o_custkey', o_custkey, COUNT(*) FROM orders GROUP BY 2),
    stats AS (
      SELECT key_col,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(f) AS BIGINT) AS n_rows,
             CAST(MAX(f) AS BIGINT) AS max_freq,
             CAST(SUM(CASE WHEN f * 4 >= (SELECT MAX(f2.f) FROM freq f2
                                          WHERE f2.key_col = freq.key_col)
                           THEN 1 ELSE 0 END) AS BIGINT) AS near_hot_keys
      FROM freq GROUP BY key_col)
    SELECT key_col, n_keys, n_rows, max_freq,
           CAST(max_freq * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)
             AS skew_factor,
           near_hot_keys
    FROM stats
    """,
    doc="Join-key skew diagnostic — the measurement that decides "
    "between a plain shuffle join, AQE skew split, and the "
    "salted_join/salted_agg remedies (operators/partitioning.py): "
    "per key column, the distinct-key count, row count, hottest-key "
    "frequency, the skew factor max_freq / mean_freq (1.0 = uniform; "
    "the factor by which the hottest reduce task outweighs the "
    "average), and how many keys sit within 4x of the hottest "
    "(whether salting one key or a family is needed). One partial-"
    "aggregated count per key column; the stats fold runs over the "
    "key-frequency table, never the rows.",
)
def skew_audit(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    o = t(spark, sf, "orders")
    from pyspark.sql import Window

    def freq(df: DataFrame, col: str, label: str) -> DataFrame:
        return df.groupBy(F.col(col).alias("k")).agg(F.count("*").alias("f")).select(
            F.lit(label).alias("key_col"), "k", "f"
        )

    fr = (
        freq(li, "l_partkey", "lineitem.l_partkey")
        .unionByName(freq(li, "l_suppkey", "lineitem.l_suppkey"))
        .unionByName(freq(o, "o_custkey", "orders.o_custkey"))
    )
    mx = F.max("f").over(Window.partitionBy("key_col"))
    stats = fr.withColumn("mx", mx).groupBy("key_col").agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("f").cast("bigint").alias("n_rows"),
        F.max("f").cast("bigint").alias("max_freq"),
        F.sum((F.col("f") * 4 >= F.col("mx")).cast("bigint"))
        .cast("bigint")
        .alias("near_hot_keys"),
    )
    return stats.select(
        "key_col",
        "n_keys",
        "n_rows",
        "max_freq",
        (
            (F.col("max_freq") * F.col("n_keys")).cast("double")
            / F.col("n_rows").cast("double")
        ).alias("skew_factor"),
        "near_hot_keys",
    )


@query(
    "salted_user_agg",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    doc="SALTED two-phase aggregation ON the driver gate (the skew "
    "REMEDY beside the skew_audit diagnostic and the r11 SKEW scale "
    "tier — AQE splits skewed JOINS but a hot groupBy key still "
    "lands on one reducer; salting splits each key into 16 sub-keys, "
    "partially aggregates, then combines, both phases map-side-"
    "combinable): per-user event counts and exact cent sums through "
    "partitioning.salted_agg must equal the oracle's PLAIN GROUP BY "
    "— the salt may only route rows, never change an aggregate "
    "(decomposability is the contract the descriptor compiler "
    "enforces). Integer cents keep both phases order-independent "
    "and engine-exact.",
)
def salted_user_agg(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.operators.partitioning import salted_agg

    e = t(spark, sf, "events").select(
        "user_id",
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    out = salted_agg(
        e,
        ["user_id"],
        {"n_events": ("count", "user_id"), "sum_cents": ("sum", "cents")},
        salt_buckets=16,
    )
    return out.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("sum_cents").cast("bigint").alias("sum_cents"),
    ).orderBy("user_id")


@query(
    "key_skew_audit",
    oracle="""
    WITH g AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS grp
               FROM lineitem GROUP BY l_orderkey),
    hist AS (SELECT grp AS group_size,
                    CAST(COUNT(*) AS BIGINT) AS n_keys
             FROM g GROUP BY grp),
    s AS (SELECT CAST(SUM(grp) AS BIGINT) AS n_rows,
                 CAST(COUNT(*) AS BIGINT) AS n_keys_tot,
                 MAX(grp) AS max_grp
          FROM g)
    SELECT h.group_size, h.n_keys,
           CAST(h.group_size * h.n_keys AS BIGINT) AS n_rows_at_size,
           CAST((s.max_grp * 1000 * s.n_keys_tot) // s.n_rows AS BIGINT)
             AS skew_permille
    FROM hist h CROSS JOIN s
    ORDER BY group_size
    """,
    doc="KEY-SKEW AUDIT — the detection half of the skew toolkit "
    "whose remedy half is salted_user_agg, and the diagnostic a "
    "100 TB join plans with BEFORE shuffling (the reference's own "
    "record run shipped 2.6x reduce skew, EX/terasort/package.html:"
    "109): the group-size DISTRIBUTION of the join key (size -> "
    "n_keys — bounded output: distinct sizes, not distinct keys) "
    "plus a skew factor = max/mean group size as exact integer "
    "permille ((max * 1000 * n_keys) div n_rows — no division "
    "drift; 1000 = perfectly uniform). Two partial-agg shuffles, "
    "the second over the already-aggregated key table; the corpus "
    "totals ride a one-row broadcast. A skew_permille in the "
    "thousands is the signal to route the key through salting or "
    "AQE skew-split.",
)
def key_skew_audit(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    g = li.groupBy("l_orderkey").agg(F.count("*").cast("bigint").alias("grp"))
    hist = g.groupBy(F.col("grp").alias("group_size")).agg(
        F.count("*").cast("bigint").alias("n_keys")
    )
    s = g.agg(
        F.sum("grp").cast("bigint").alias("__n_rows"),
        F.count("*").cast("bigint").alias("__n_keys_tot"),
        F.max("grp").alias("__max_grp"),
    )
    return (
        hist.crossJoin(F.broadcast(s))
        .select(
            "group_size",
            "n_keys",
            (F.col("group_size") * F.col("n_keys"))
            .cast("bigint")
            .alias("n_rows_at_size"),
            F.expr("(__max_grp * 1000 * __n_keys_tot) div __n_rows")
            .cast("bigint")
            .alias("skew_permille"),
        )
        .orderBy("group_size")
    )
