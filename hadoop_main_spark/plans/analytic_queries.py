"""Deep analytic query shapes (TPC-H-adapted to the TESTDATA schema).

The reference engine can express any of these only as hand-chained
MapReduce jobs (SURVEY.md §2.11: Grep/WordMedian chain two jobs by
temp dirs; JobControl wires DAGs, MRC/mapreduce/lib/jobcontrol/
JobControl.java:55). Here each is ONE declarative plan: Catalyst
performs the join ordering, broadcast selection, partial
aggregation, and predicate pushdown that the reference user had to
hand-schedule.

Scale notes per query are in the docstrings; shared discipline:
- money math in DECIMAL (exact, order-independent), cast to double
  only at the output boundary;
- dimension tables (nation, customer, supplier, part) broadcast —
  at 100 TB the fact tables shuffle only when a fact-fact join or
  a high-cardinality groupBy demands it;
- top-k always carries a deterministic tie-break column so results
  are stable under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_main_spark.operators.checkpoints import run_tmpdir
from hadoop_main_spark.plans.core_queries import _one, _price, _rate
from hadoop_main_spark.plans.registry import query, t

_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"
)


def _rev() -> F.Column:
    return _price("l_extendedprice") * (_one() - _rate("l_discount"))


# --- derived partsupp ---------------------------------------------------------
# TESTDATA ships no partsupp table, which excluded the TPC-H Q2/Q20
# shapes through round 5. Both become expressible with a DERIVED
# partsupp: supplier assignment uses dbgen's published formula (TPC-H
# spec 4.2.3 / dbgen build.c: part p's i-th supplier is
# (p + i*(S/4 + (p-1)/S)) mod S + 1, i in 0..3, S = supplier count),
# and availqty/supplycost — random streams in dbgen — are replaced by
# deterministic hash-style integer formulas computed IDENTICALLY in
# Spark and the DuckDB oracle (the engine-portability discipline every
# oracle here follows). DISTINCT guards the corner where the stride's
# order mod S drops below 4 and two of the four assignments collide.

_PS_SQL = """
  ps AS (
    SELECT DISTINCT
      p_partkey AS ps_partkey,
      (p_partkey + i.i * (scnt.s // 4 + (p_partkey - 1) // scnt.s))
        % scnt.s + 1 AS ps_suppkey,
      (p_partkey * 47 + ((p_partkey + i.i * (scnt.s // 4 + (p_partkey - 1) // scnt.s))
        % scnt.s + 1) * 31) % 9999 + 1 AS ps_availqty,
      (p_partkey * 7 + ((p_partkey + i.i * (scnt.s // 4 + (p_partkey - 1) // scnt.s))
        % scnt.s + 1) * 13) % 99900 + 100 AS ps_supplycost_cents
    FROM part, unnest(generate_series(0, 3)) AS i(i),
         (SELECT COUNT(*) AS s FROM supplier) scnt)
"""


def derived_partsupp(spark: SparkSession, sf: str) -> DataFrame:
    """The Spark twin of the ``ps`` oracle CTE (single source of truth
    for the constants above): (ps_partkey, ps_suppkey, ps_availqty,
    ps_supplycost_cents), |part| x 4 rows minus stride collisions.
    The supplier count is a bounded driver-side scalar (dimension
    table); everything else is codegen'd integer arithmetic — at
    100 TB this derives on the fly and broadcasts (part is a
    dimension), never materializing a fact-sized table."""
    s_count = t(spark, sf, "supplier").count()
    pk = F.col("p_partkey")
    i = F.col("i")
    # Exact integer arithmetic end to end (advice r6): DIV is BIGINT
    # truncating division, identical to the oracle CTE's `//` for the
    # non-negative operands here — no double quotient that could
    # truncate differently once partkey magnitudes approach 2^53.
    suppkey = (
        pk + i * (F.lit(s_count // 4) + F.expr(f"(p_partkey - 1) DIV {s_count}"))
    ) % s_count + 1
    return (
        t(spark, sf, "part")
        .select(pk, F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"))
        .select(
            pk.alias("ps_partkey"),
            suppkey.alias("ps_suppkey"),
        )
        .distinct()
        .select(
            "ps_partkey",
            "ps_suppkey",
            ((F.col("ps_partkey") * 47 + F.col("ps_suppkey") * 31) % 9999 + 1).alias(
                "ps_availqty"
            ),
            (
                (F.col("ps_partkey") * 7 + F.col("ps_suppkey") * 13) % 99900 + 100
            ).alias("ps_supplycost_cents"),
        )
    )


@query(
    "late_shipping_orders",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: per-priority count of Q1-1996 orders with at "
    "least one line shipped >60 days after order date. EXISTS compiles "
    "to a LEFT SEMI join (no duplication, no distinct) with the "
    "non-equi lateness predicate evaluated inside the join — the "
    "reference needs a reduce-side tagged join plus a dedup job.",
)
def late_shipping_orders(spark: SparkSession, sf: str) -> DataFrame:
    o = t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "revenue_filter",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: pure scan→filter→global agg. All four "
    "predicates push to the parquet scan (PushedFilters) and only 4 of "
    "11 columns are read — the plan audit pins this; at 100 TB this is "
    "an IO-bound single pass with a one-row result.",
)
def revenue_filter(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_price("l_extendedprice") * _rate("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "volume_shipping",
    oracle=f"""
    SELECT n_s.n_name AS supp_nation, n_c.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate)::INT AS l_year,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n_s ON n_s.n_nationkey = s_nationkey
    JOIN nation n_c ON n_c.n_nationkey = c_nationkey
    WHERE ((n_s.n_name = 'NATION_1' AND n_c.n_name = 'NATION_2')
        OR (n_s.n_name = 'NATION_2' AND n_c.n_name = 'NATION_1'))
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape: bilateral trade volume between two nations by "
    "ship year. One fact-fact join (lineitem⋈orders, shuffle on "
    "orderkey) plus three broadcast dims; the nation filter reaches "
    "supplier/customer BEFORE the fact join (Catalyst pushes it "
    "through), shrinking the shuffled side.",
)
def volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    n = t(spark, sf, "nation")
    s = (
        t(spark, sf, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        t(spark, sf, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@query(
    "returned_customers",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    doc="TPC-H Q10 shape: top-20 customers by revenue lost to returned "
    "items in a half-year window. Fact-fact join shuffles on orderkey; "
    "customer+nation broadcast; the final top-20 runs as "
    "TakeOrderedAndProject (per-partition top-k, 20-row merge — no "
    "global sort). Tie-break on c_custkey keeps the cut deterministic.",
    bench=True,
)
def returned_customers(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    o = t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    c = t(spark, sf, "customer")
    n = t(spark, sf, "nation")
    cn = c.join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey")).select(
        "c_custkey", "c_name", "n_name"
    )
    return (
        li.join(o.select("o_orderkey", "o_custkey"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cn), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey)
    GROUP BY c_count
    """,
    doc="TPC-H Q13 shape: distribution of orders-per-customer including "
    "zero-order customers (left outer join, COUNT of non-null keys). "
    "Two cascaded aggregations; the second groups on a tiny domain so "
    "its shuffle is negligible.",
)
def customer_distribution(spark: SparkSession, sf: str) -> DataFrame:
    c = t(spark, sf, "customer").select("c_custkey")
    o = t(spark, sf, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "promo_revenue",
    oracle=f"""
    SELECT CAST(100.0 AS DOUBLE)
             * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL}
                             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM({_REV_SQL}) AS DOUBLE) AS promo_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    """,
    doc="TPC-H Q14 shape: share of one month's revenue from PROMO "
    "parts. Part broadcasts into the filtered lineitem scan; both "
    "conditional and total sums are exact DECIMAL accumulated in the "
    "same pass, divided once as doubles (bit-stable in any engine).",
)
def promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    p = t(spark, sf, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(_rev()).cast("double")
            ).alias("promo_pct")
        )
    )


@query(
    "top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no, SUM({_REV_SQL}) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON supplier_no = s_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    doc="TPC-H Q15 shape: supplier(s) achieving the quarter's maximum "
    "revenue. The per-supplier aggregate is computed once and reused "
    "for both the max (1-row broadcast) and the equality filter — the "
    "reference's two-job temp-dir chain collapses into one plan. "
    "Equality compares exact DECIMALs, so ties are real ties.",
)
def top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev()).alias("total_revenue")
    )
    best = rev.agg(F.max("total_revenue").alias("best_rev"))
    s = t(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(best), F.col("total_revenue") == F.col("best_rev"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", F.col("total_revenue").cast("double").alias("total_revenue"))
    )


@query(
    "large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 300)
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           CAST(sum_qty AS DOUBLE) AS sum_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
    doc="TPC-H Q18 shape: customers holding very large orders (total "
    "quantity > 300). The HAVING aggregate shrinks lineitem to a "
    "handful of orderkeys before any join — at 100 TB the join input "
    "is the aggregate's output, not the fact table.",
)
def large_orders(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_price("l_quantity")).alias("sum_qty_dec"))
        .filter(F.col("sum_qty_dec") > F.lit(300).cast("decimal(12,2)"))
    )
    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = t(spark, sf, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
    )


@query(
    "no_order_customers",
    oracle="""
    WITH thr AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0)
    SELECT n_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    CROSS JOIN thr
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY n_name
    """,
    doc="TPC-H Q22 shape: wealthy lapsed customers — balance above the "
    "positive-balance average, no order since 2000-01-01 — by nation. "
    "The average is an exact-decimal-sum / count double (order-"
    "independent scalar, broadcast to every row); NOT EXISTS compiles "
    "to LEFT ANTI against the date-filtered o_custkey column, with the "
    "date predicate pushed to the orders scan.",
)
def no_order_customers(spark: SparkSession, sf: str) -> DataFrame:
    c = t(spark, sf, "customer")
    thr = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(_price("c_acctbal")).cast("double") / F.count("*")).alias("avg_bal")
        )
    )
    o = (
        t(spark, sf, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    n = t(spark, sf, "nation")
    rich = (
        c.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
    )
    return (
        rich.join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(_price("c_acctbal")).cast("double").alias("total_bal"),
        )
    )


@query(
    "json_event_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
    doc="Semi-structured extraction: events.props is a JSON string "
    "column; get_json_object pulls '$.k' JVM-side (no Python round "
    "trip) and integer aggregates stay exact. The pattern for log / "
    "telemetry payloads where the schema lives inside the value — "
    "at 100 TB prefer parsing once and persisting columnar, but the "
    "extraction itself must be an engine primitive.",
)
def json_event_stats(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count(k).alias("n_with_k"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "window_running_totals",
    oracle="""
    SELECT event_id, user_id,
           ROW_NUMBER() OVER w AS seq,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS running_value,
           CAST(lag(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS prev_value,
           CAST(epoch_us(ts) - epoch_us(lag(ts) OVER w) AS BIGINT) AS us_since_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="Per-user ordered analytics: running totals, lag deltas, and "
    "sequence numbers over a keyed window (PARTITION BY user_id — "
    "never an unpartitioned window over the data, so the work "
    "distributes across users). Running sums accumulate in DECIMAL, "
    "immune to windowed-aggregation association differences between "
    "engines; the (ts, event_id) sort key is unique, so every frame "
    "is deterministic.",
)
def window_running_totals(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dec_val = F.col("value").cast("decimal(12,2)")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("seq"),
        F.sum(dec_val).over(run).cast("double").alias("running_value"),
        F.lag(dec_val).over(w).cast("double").alias("prev_value"),
        (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(w))
        ).alias("us_since_prev"),
    )


@query(
    "pivot_status_counts",
    oracle="""
    SELECT o_orderpriority,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O_cnt,
           CAST(SUM(CASE WHEN o_orderstatus = 'O'
                         THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS O_total,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F_cnt,
           CAST(SUM(CASE WHEN o_orderstatus = 'F'
                         THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS F_total,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P_cnt,
           CAST(SUM(CASE WHEN o_orderstatus = 'P'
                         THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS P_total
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Pivot (long→wide): order count and decimal-exact totals per "
    "priority × status, statuses spread into columns. With the pivot "
    "values enumerated the plan stays a single partial+final hash "
    "aggregate (no extra pass to discover the domain) — absent in the "
    "reference, free in Spark.",
)
def pivot_status_counts(spark: SparkSession, sf: str) -> DataFrame:
    o = t(spark, sf, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("total"),
        )
    )
    return wide


@query(
    "market_share",
    oracle=f"""
    SELECT EXTRACT(year FROM o_orderdate)::INT AS o_year,
           CAST(SUM(CASE WHEN ns.n_name = 'NATION_3' THEN {_REV_SQL}
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM({_REV_SQL}) AS DOUBLE) AS mkt_share
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation nc ON nc.n_nationkey = c_nationkey
    JOIN region ON r_regionkey = nc.n_regionkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ns ON ns.n_nationkey = s_nationkey
    WHERE r_name = 'ASIA'
    GROUP BY o_year
    """,
    doc="TPC-H Q8 shape: NATION_3 suppliers' share of revenue sold to "
    "ASIA customers, by order year — a six-table join where every "
    "dimension (customer, nation x2, region, supplier) broadcasts and "
    "only lineitem⋈orders shuffles. Both the conditional and total "
    "revenue accumulate as exact DECIMAL in one aggregate pass; a "
    "single double division per year at the end.",
)
def market_share(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    n = t(spark, sf, "nation")
    r = t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    cust_asia = (
        t(spark, sf, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp = (
        t(spark, sf, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    nation3_rev = F.when(F.col("supp_nation") == "NATION_3", _rev()).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust_asia), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(nation3_rev).cast("double") / F.sum(_rev()).cast("double")).alias(
                "mkt_share"
            )
        )
    )


@query(
    "profit_by_nation_year",
    oracle=f"""
    SELECT n_name AS nation, EXTRACT(year FROM l_shipdate)::INT AS o_year,
           CAST(SUM({_REV_SQL}
                    - CAST(p_retailprice AS DECIMAL(12,2))
                      * CAST(0.1 AS DECIMAL(4,2))
                      * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_name LIKE 'red%'
    GROUP BY 1, 2
    """,
    doc="TPC-H Q9 shape: profit (revenue minus a 10%-of-retail unit "
    "cost proxy — the testdata has no partsupp/supplycost) per "
    "supplier nation per ship year, restricted to red parts. "
    "Part/supplier/nation broadcast; the LIKE prefix filter lands on "
    "the part scan as a StartsWith pushdown before the join.",
)
def profit_by_nation_year(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    p = t(spark, sf, "part").filter(F.col("p_name").like("red%")).select(
        "p_partkey", "p_retailprice"
    )
    s = t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf, "nation")
    cost = (
        F.col("p_retailprice").cast("decimal(12,2)")
        * F.lit(0.1).cast("decimal(4,2)")
        * _price("l_quantity")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("o_year"),
        )
        .agg(F.sum(_rev() - cost).cast("double").alias("profit"))
    )


@query(
    "parts_supplier_counts",
    oracle="""
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON l_partkey = p_partkey
    WHERE p_size IN (5, 10, 15, 20) AND p_type <> 'PROMO'
    GROUP BY p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape: distinct supplier count per part attribute "
    "combination (testdata has no partsupp — lineitem supplies the "
    "part↔supplier relation). COUNT(DISTINCT) plans as a two-phase "
    "expand+aggregate; the size/type filters push to the part scan "
    "before its broadcast.",
)
def parts_supplier_counts(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        t(spark, sf, "part")
        .filter(F.col("p_size").isin(5, 10, 15, 20) & (F.col("p_type") != "PROMO"))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "bracket_revenue",
    oracle=f"""
    SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue, COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity >= 20 AND l_quantity <= 40)
    """,
    doc="TPC-H Q19 shape: disjunctive bracket predicates spanning both "
    "join sides (brand/size from part, quantity from lineitem). "
    "Catalyst extracts the common sub-predicates it can push to each "
    "scan and evaluates the OR as a join post-condition — the "
    "reference would need three tagged join jobs plus a union.",
)
def bracket_revenue(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    p = t(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    bracket = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10)
         & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20)
           & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30)
           & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 40))
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(bracket)
        .agg(
            F.sum(_rev()).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "small_quantity_revenue",
    oracle=f"""
    WITH avg_qty AS (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS aq
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / CAST(7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
                  JOIN avg_qty ON pk = l_partkey
    WHERE p_brand = 'Brand#1' AND l_quantity < 0.2 * aq
    """,
    doc="TPC-H Q17 shape: revenue from unusually small orders "
    "(quantity under 20% of that part's average). The correlated avg "
    "subquery decorrelates into one per-part aggregate joined back — "
    "Catalyst does this automatically for the SQL form; here it is "
    "written decorrelated so the plan is explicit: aggregate once, "
    "broadcast the per-part averages, filter in the join. Exact-"
    "decimal-sum/count average keeps the 0.2*avg comparison "
    "bit-identical across engines.",
)
def small_quantity_revenue(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(_price("l_quantity")).cast("double") / F.count("*")).alias("aq")
    )
    p = t(spark, sf, "part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(avg_qty, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("aq"))
        .agg(
            (F.sum(_price("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@query(
    "nation_inventory_share",
    oracle=f"""
    WITH per_nation AS (
      SELECT n_name, SUM({_REV_SQL}) AS val
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      GROUP BY n_name),
    total AS (SELECT SUM(val) AS tot FROM per_nation)
    SELECT n_name, CAST(val AS DOUBLE) AS value,
           CAST(val AS DOUBLE) / CAST(tot AS DOUBLE) AS share
    FROM per_nation CROSS JOIN total
    WHERE CAST(val AS DOUBLE) > 0.02 * CAST(tot AS DOUBLE)
    """,
    doc="TPC-H Q11 shape: per-nation inventory value kept only when it "
    "exceeds 2% of the global total. The global total is the SUM of "
    "the per-nation aggregate (exact DECIMAL — no double re-walk of "
    "the data), broadcast as a one-row scalar; the HAVING-against-"
    "scalar-subquery pattern common in monitoring rollups.",
)
def nation_inventory_share(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    s = t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf, "nation")
    per_nation = (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(_rev()).alias("val"))
    )
    total = per_nation.agg(F.sum("val").alias("tot"))
    return (
        per_nation.join(F.broadcast(total))
        .filter(F.col("val").cast("double") > 0.02 * F.col("tot").cast("double"))
        .select(
            "n_name",
            F.col("val").cast("double").alias("value"),
            (F.col("val").cast("double") / F.col("tot").cast("double")).alias("share"),
        )
    )


@query(
    "min_cost_supplier",
    oracle=f"""
    WITH {_PS_SQL},
    eur AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    cand AS (
      SELECT ps_partkey, ps_suppkey, ps_supplycost_cents, p_brand
      FROM ps JOIN part ON p_partkey = ps_partkey
      WHERE p_type = 'LARGE' AND p_size <= 15),
    je AS (
      SELECT c.*, e.s_name, e.s_acctbal, e.n_name
      FROM cand c JOIN eur e ON e.s_suppkey = c.ps_suppkey),
    m AS (SELECT *, MIN(ps_supplycost_cents)
                      OVER (PARTITION BY ps_partkey) AS mc FROM je)
    SELECT ps_partkey AS p_partkey, p_brand, s_name, n_name,
           CAST(s_acctbal AS DOUBLE) AS s_acctbal,
           CAST(ps_supplycost_cents AS BIGINT) AS cost_cents
    FROM m WHERE ps_supplycost_cents = mc
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    doc="TPC-H Q2 shape (closes the round-5 Missing #2 via the "
    "derived partsupp — see _PS_SQL): for each LARGE small-size part, "
    "the EUROPE supplier(s) quoting the regional MINIMUM supply cost, "
    "top-100 by account balance. The correlated min-cost subquery "
    "becomes one window over the region-restricted candidates; "
    "supplier/nation/region and the derived partsupp all broadcast "
    "(dimensions), so the plan has no fact shuffle at all. Cost stays "
    "exact BIGINT cents; deterministic total order with p_partkey "
    "tie-break under LIMIT.",
    bench=True,  # r7 rotation: all-broadcast small-latency probe
)
def min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    ps = derived_partsupp(spark, sf)
    p = (
        t(spark, sf, "part")
        .filter((F.col("p_type") == "LARGE") & (F.col("p_size") <= 15))
        .select("p_partkey", "p_brand")
    )
    eur = (
        t(spark, sf, "supplier")
        .join(
            F.broadcast(t(spark, sf, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    je = ps.join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey")).join(
        F.broadcast(eur), F.col("ps_suppkey") == F.col("s_suppkey")
    )
    w = Window.partitionBy("ps_partkey")
    return (
        je.withColumn("mc", F.min("ps_supplycost_cents").over(w))
        .filter(F.col("ps_supplycost_cents") == F.col("mc"))
        .select(
            F.col("ps_partkey").alias("p_partkey"),
            "p_brand",
            "s_name",
            "n_name",
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            F.col("ps_supplycost_cents").cast("bigint").alias("cost_cents"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "excess_stock_suppliers",
    oracle=f"""
    WITH {_PS_SQL},
    shipped AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_partkey, l_suppkey),
    excess AS (
      SELECT DISTINCT ps_suppkey
      FROM ps
      JOIN part ON p_partkey = ps_partkey AND p_name LIKE 'small%'
      JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      WHERE 2 * ps_availqty > qty)
    SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal, n_name
    FROM supplier
    JOIN excess ON s_suppkey = ps_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_regionkey = (SELECT r_regionkey FROM region WHERE r_name = 'ASIA')
    ORDER BY s_name
    """,
    doc="TPC-H Q20 shape (the second partsupp-dependent exclusion, "
    "closed by the derived partsupp): ASIA suppliers holding EXCESS "
    "stock — available quantity above half of what they actually "
    "shipped of their 'small%' parts in 1996. The quantity fold is an "
    "exact DECIMAL sum and the half-comparison is the integer-exact "
    "2*availqty > qty form (no 0.5 double multiply); the only shuffle "
    "is the (part, supplier) shipment aggregate — partsupp, part, "
    "supplier, nation all broadcast.",
)
def excess_stock_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    ps = derived_partsupp(spark, sf)
    small = t(spark, sf, "part").filter(F.col("p_name").like("small%")).select("p_partkey")
    shipped = (
        t(spark, sf, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty"))
    )
    excess = (
        shipped.join(
            F.broadcast(ps.join(F.broadcast(small), F.col("ps_partkey") == F.col("p_partkey"))),
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .filter(F.lit(2) * F.col("ps_availqty") > F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    asia = t(spark, sf, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    return (
        t(spark, sf, "supplier")
        .join(F.broadcast(excess), F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(
            F.broadcast(t(spark, sf, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(F.broadcast(asia), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"), "n_name")
        .orderBy("s_name")
    )


# --- derived lineitem shipping columns (Q12/Q21) ------------------------------
# The fixture lineitem carries only l_shipdate; TPC-H Q12/Q21 need
# l_shipmode / l_commitdate / l_receiptdate. Like derived_partsupp,
# these derive deterministically from the keys — BIGINT microsecond
# arithmetic on unix_micros/epoch_us (the established parity pair), so
# Spark and DuckDB compute bit-identical values. Offsets: commit =
# ship + ((okey + line*11) % 45 - 10) days (may precede shipping —
# late lines exist), receipt = ship + ((okey*13 + line*7) % 20 + 1)
# days (strictly after shipping); shipmode = 7-way key hash.

_DAY_US = 86_400_000_000
_SHIPMODES = ("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")

_LI_SHIP_SQL = f"""
  li AS (
    SELECT l_orderkey, l_suppkey,
           (['{"','".join(_SHIPMODES)}'])
             [(l_orderkey * 3 + l_linenumber) % 7 + 1] AS shipmode,
           epoch_us(l_shipdate) AS ship_us,
           epoch_us(l_shipdate)
             + ((l_orderkey + l_linenumber * 11) % 45 - 10) * {_DAY_US}
             AS commit_us,
           epoch_us(l_shipdate)
             + ((l_orderkey * 13 + l_linenumber * 7) % 20 + 1) * {_DAY_US}
             AS receipt_us
    FROM lineitem)
"""


def _li_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """Spark twin of the ``li`` oracle CTE (single source of truth for
    the derivation constants above)."""
    ok, ln = F.col("l_orderkey"), F.col("l_linenumber")
    # l_shipdate loads as TIMESTAMP_NTZ; the session tz is pinned UTC,
    # so the cast reads the wall time as UTC — exactly DuckDB's
    # epoch_us over the naive parquet timestamp
    ship_us = F.unix_micros(F.col("l_shipdate").cast("timestamp"))
    return t(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.element_at(
            F.array(*[F.lit(m) for m in _SHIPMODES]), ((ok * 3 + ln) % 7 + 1).cast("int")
        ).alias("shipmode"),
        ship_us.alias("ship_us"),
        (ship_us + ((ok + ln * 11) % 45 - 10) * _DAY_US).alias("commit_us"),
        (ship_us + ((ok * 13 + ln * 7) % 20 + 1) * _DAY_US).alias("receipt_us"),
    )


# 1996-01-01 / 1997-01-01 UTC in microseconds (session tz is UTC)
_US_1996 = 820_454_400_000_000
_US_1997 = 852_076_800_000_000


@query(
    "shipmode_priority_counts",
    oracle=f"""
    WITH {_LI_SHIP_SQL}
    SELECT shipmode,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM li JOIN orders ON o_orderkey = l_orderkey
    WHERE shipmode IN ('MAIL', 'SHIP')
      AND commit_us < receipt_us
      AND ship_us < commit_us
      AND receipt_us >= {_US_1996} AND receipt_us < {_US_1997}
    GROUP BY shipmode ORDER BY shipmode
    """,
    doc="TPC-H Q12 shape (closed via the derived shipping columns — "
    "see _LI_SHIP_SQL): per ship mode, high- vs low-priority line "
    "counts for 1996 receipts that shipped before commitment and "
    "committed before receipt. One fact scan with the derivation in "
    "codegen; the selective mode/date filter runs BEFORE the "
    "orders join, so only the surviving sliver shuffles (orders is "
    "fact-sized — AQE picks broadcast when the filtered side fits); "
    "counts partial-aggregate. All date comparisons are BIGINT "
    "microsecond integers — engine-identical.",
)
def shipmode_priority_counts(spark: SparkSession, sf: str) -> DataFrame:
    li = _li_shipping(spark, sf)
    o = t(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            F.col("shipmode").isin("MAIL", "SHIP")
            & (F.col("commit_us") < F.col("receipt_us"))
            & (F.col("ship_us") < F.col("commit_us"))
            & (F.col("receipt_us") >= _US_1996)
            & (F.col("receipt_us") < _US_1997)
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("shipmode")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("shipmode")
    )


@query(
    "waiting_suppliers",
    oracle=f"""
    WITH {_LI_SHIP_SQL}
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier, li l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.receipt_us > l1.commit_us
      AND EXISTS (SELECT 1 FROM li l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM li l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.receipt_us > l3.commit_us)
      AND s_nationkey = n_nationkey
      AND n_regionkey = (SELECT r_regionkey FROM region WHERE r_name = 'AMERICA')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    doc="TPC-H Q21 shape (the last unimplemented TPC-H query — 22/22 "
    "now covered): AMERICA suppliers who were the SOLE late supplier "
    "on finished multi-supplier orders, ranked by how many late lines "
    "they contributed. The oracle keeps the classic correlated "
    "EXISTS/NOT-EXISTS form for independence; the Spark plan replaces "
    "both correlated subqueries with ONE per-order aggregate "
    "(countDistinct suppliers, countDistinct late suppliers) — the "
    "semi/anti pair collapses into n_supp >= 2 AND n_late == 1, one "
    "order-keyed shuffle instead of two fact-fact joins (the 100 TB "
    "shape). Region filter instead of single-nation keeps results "
    "non-degenerate at the fixture's ~4-suppliers-per-nation scale.",
)
def waiting_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    li = _li_shipping(spark, sf)
    late = F.col("receipt_us") > F.col("commit_us")
    # two-level hash aggregation instead of two DISTINCT expressions
    # in one agg: multi-distinct plans as Expand (2x the fact rows) +
    # a sort-based aggregate (the table_profile lesson). Grouping by
    # (order, supplier) first gives the same counts — suppliers per
    # order, suppliers with ANY late line — in two hash aggregates
    # that share one exchange (optimization r11: 1.69 s -> ~1.1 s).
    per_supp = li.filter(F.col("l_suppkey").isNotNull()).groupBy(
        "l_orderkey", "l_suppkey"
    ).agg(F.max(late).alias("__any_late"))
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.count(F.when(F.col("__any_late"), 1)).alias("n_late"),
    )
    forders = t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    qual = (
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(forders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("l_orderkey")
    )
    amer = (
        t(spark, sf, "supplier")
        .join(
            F.broadcast(t(spark, sf, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t(spark, sf, "region").filter(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        li.filter(late)
        .join(qual.withColumnRenamed("l_orderkey", "q_orderkey"),
              F.col("l_orderkey") == F.col("q_orderkey"))
        .join(F.broadcast(amer), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


@query(
    "funnel_3stage",
    oracle="""
    WITH per AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events GROUP BY user_id)
    SELECT COUNT(t_view) AS n_view,
           CAST(COALESCE(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_view_click,
           CAST(COALESCE(SUM(CASE WHEN t_click > t_view AND t_buy > t_click
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_view_click_buy
    FROM per
    """,
    doc="THREE-stage ordered funnel (view -> click -> purchase, "
    "STRICTLY later first-times per stage — the N-stage general form "
    "of funnel_conversion's signup->purchase pair): one "
    "conditional-min groupBy per user then one global fold — two "
    "partial-aggregated shuffles, no self-joins (the naive form joins "
    "events to itself per stage: S-1 fact-fact joins). NULL stage "
    "times fall out of the strict comparisons (a user who never "
    "clicked contributes NULL > NULL = NULL -> 0), no explicit null "
    "handling needed.",
)
def funnel_3stage(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events")

    def first_ts(et: str):
        return F.min(F.when(F.col("event_type") == et, F.col("ts")))

    per = e.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_buy"),
    )
    return per.agg(
        F.count("t_view").alias("n_view"),
        F.coalesce(
            F.sum(F.when(F.col("t_click") > F.col("t_view"), 1).otherwise(0)), F.lit(0)
        ).alias("n_view_click"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("t_click") > F.col("t_view"))
                    & (F.col("t_buy") > F.col("t_click")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_view_click_buy"),
    )


@query(
    "user_activity_quartiles",
    oracle="""
    WITH per AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id)
    SELECT user_id, n_events,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pct_rank
    FROM per
    WINDOW w AS (ORDER BY n_events DESC, user_id)
    """,
    doc="Ranking-window coverage (ntile / percent_rank — the analytic "
    "functions the reference could only emulate with a total-order "
    "sort job + a second pass): per-user event counts ranked into "
    "quartiles. The ranking key is an exact INT count with a user_id "
    "tie-break, so buckets and percent ranks are deterministic and "
    "engine-identical (percent_rank's (rank-1)/(n-1) divides exact "
    "ints). The unpartitioned window runs over the per-USER frame "
    "(one row per user — already reduced), not the raw events; at "
    "extreme user cardinality switch to global_rank's bucketed rank.",
)
def user_activity_quartiles(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf, "events")
    per = e.groupBy("user_id").agg(F.count("*").alias("n_events"))
    w = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
    return per.select(
        "user_id",
        "n_events",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
    )


_Z_X = "o_custkey % 1024"
_Z_DAY = "date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 1024"

from hadoop_main_spark.operators.partitioning import zorder_key_sql as _zk_sql  # noqa: E402

_Z_ORACLE = f"""
    WITH dims AS (
      SELECT o_orderkey, {_Z_X} AS x, {_Z_DAY} AS y FROM orders),
    z AS (SELECT o_orderkey, x, y, ({_zk_sql(["x", "y"], 10)}) // 1024 AS bucket
          FROM dims)
    SELECT bucket, COUNT(*) AS n,
           MIN(x) AS min_cust, MAX(x) AS max_cust,
           MIN(y) AS min_day, MAX(y) AS max_day
    FROM z GROUP BY bucket
    """


@query(
    "zorder_cluster",
    oracle=_Z_ORACLE,
    doc="Z-order (Morton) clustering audit over orders on (custkey, "
    "order day): the interleaved key is computed with pure bit "
    "arithmetic (operators/partitioning.py:zorder_key), rows are "
    "bucketed by the key's high bits, and per-bucket min/max of BOTH "
    "dimensions are reported — tight per-bucket ranges on both axes "
    "are exactly the file-statistics selectivity a Z-ordered ingest "
    "write gives every interleaved column (the Delta/Iceberg OPTIMIZE "
    "ZORDER shape; a plain sort is selective on its leading column "
    "only). Pure codegen bit math; the oracle recomputes the same "
    "interleave in SQL.",
)
def zorder_cluster(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.operators.partitioning import zorder_key

    o = t(spark, sf, "orders")
    x = F.pmod(F.col("o_custkey"), F.lit(1024))
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.to_date(F.lit("1992-01-01"))
    )
    y = F.pmod(day, F.lit(1024))
    z = zorder_key([x.cast("bigint"), y.cast("bigint")], bits=10)
    return (
        o.select(
            F.col("o_orderkey"),
            x.cast("bigint").alias("__x"),
            y.cast("bigint").alias("__y"),
            (z / F.lit(1024)).cast("bigint").alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("__x").alias("min_cust"),
            F.max("__x").alias("max_cust"),
            F.min("__y").alias("min_day"),
            F.max("__y").alias("max_day"),
        )
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id),
    base AS (
      SELECT user_id, CAST(date_trunc('week', t0) AS DATE) AS cohort_week,
             CAST(date_trunc('week', t0) AS TIMESTAMP) AS w0
      FROM first_seen)
    SELECT cohort_week,
           date_diff('day', w0, CAST(date_trunc('week', e.ts) AS TIMESTAMP)) // 7
             AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_active
    FROM events e JOIN base USING (user_id)
    GROUP BY cohort_week, week_offset
    """,
    doc="Retention cohort matrix: users cohorted by the ISO week of "
    "their FIRST event, activity counted per (cohort, week-offset) — "
    "the standard warehouse retention shape. Offsets are integer "
    "day-diffs // 7 between week-truncated timestamps (no float "
    "date math), so the matrix is engine-exact. Two shuffles: the "
    "per-user first-seen aggregate and the cohort-cell count-distinct; "
    "the first-seen table joins back keyed on user (co-partitioned "
    "with the events shuffle at scale, no broadcast hint — user "
    "cardinality is data-sized).",
)
def retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events")
    first = e.groupBy("user_id").agg(F.min("ts").alias("t0"))
    base = first.select(
        "user_id",
        F.date_trunc("week", F.col("t0")).cast("date").alias("cohort_week"),
        F.date_trunc("week", F.col("t0")).alias("w0"),
    )
    j = e.join(base, "user_id")
    week_offset = F.floor(
        F.datediff(F.date_trunc("week", F.col("ts")).cast("date"), F.col("w0").cast("date"))
        / F.lit(7)
    ).cast("bigint")
    return (
        j.select("cohort_week", week_offset.alias("week_offset"), "user_id")
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@query(
    "markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events)
    SELECT event_type AS prev_type, next_type, COUNT(*) AS cnt,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type) AS DOUBLE) AS p
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: lead() within (user_id) ordered by (ts, event_id) — "
    "the event_id tie-break makes the sequence a total order, so the "
    "matrix is partitioning- and engine-independent. The window is "
    "partitioned by user (shuffles once on the same key the groupBy "
    "needs); transition probabilities divide exact BIGINT counts by "
    "the per-row-state total (one double division at the output "
    "boundary — the integer-exact-ratio discipline). The final "
    "normalizing window runs over the event_type x event_type matrix "
    "(vocabulary-bounded, 25 rows here), never over data.",
)
def markov_transitions(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    counts = pairs.groupBy(
        F.col("event_type").alias("prev_type"), "next_type"
    ).agg(F.count("*").alias("cnt"))
    wn = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "cnt",
        (F.col("cnt").cast("double") / F.sum("cnt").over(wn).cast("double")).alias("p"),
    )


@query(
    "top_parts_per_nation",
    oracle=f"""
    WITH rev AS (
      SELECT n_name, l_partkey, SUM({_REV_SQL}) AS val
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      GROUP BY n_name, l_partkey),
    ranked AS (
      SELECT n_name, l_partkey, val,
             ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY val DESC, l_partkey)
               AS rk
      FROM rev)
    SELECT n_name, l_partkey, CAST(val AS DOUBLE) AS revenue, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
    doc="Top-k per group (top-3 parts by revenue per supplier nation) "
    "— the grouped-top-k report shape the reference needs a full "
    "sort + custom reducer for. Revenue sums in exact DECIMAL, so the "
    "ranking order (val DESC, l_partkey) is a total order identical "
    "across engines; dimension joins broadcast; the rank window "
    "partitions by nation over the ALREADY-AGGREGATED (nation, part) "
    "table — one row per part per nation, not per lineitem. At "
    "extreme per-nation part cardinality the same plan two-phases "
    "naturally under AQE; the filter rk <= 3 keeps the output "
    "k x nations rows.",
)
def top_parts_per_nation(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    li = t(spark, sf, "lineitem")
    s = t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name", "l_partkey")
        .agg(F.sum(_rev()).alias("val"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("val"), "l_partkey")
    return (
        rev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "n_name",
            "l_partkey",
            F.col("val").cast("double").alias("revenue"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


@query(
    "skyline_orders",
    oracle="""
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_totalprice
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM orders x
      WHERE (x.o_totalprice > o.o_totalprice
             AND CAST(x.o_orderdate AS DATE) <= CAST(o.o_orderdate AS DATE))
         OR (x.o_totalprice >= o.o_totalprice
             AND CAST(x.o_orderdate AS DATE) < CAST(o.o_orderdate AS DATE))
    )
    """,
    doc="Skyline / Pareto frontier (earliest-and-most-expensive "
    "orders: no other order is at least as expensive AND at least as "
    "early with one strict). The oracle is the textbook NOT EXISTS "
    "self-join (quadratic); the Spark plan is the scalable sweep: "
    "per-date max price (bounded date spine, ~2.4k rows/7y), running "
    "max over STRICTLY earlier dates on that spine, then one "
    "broadcast join back — an order is on the skyline iff it beats "
    "every earlier date's max and is its own date's max. No "
    "quadratic pair expansion, no data-sized window; price "
    "comparisons are raw-value (no arithmetic), so engine-exact.",
)
def skyline_orders(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    o = t(spark, sf, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("order_date"), "o_totalprice"
    )
    dmax = o.groupBy("order_date").agg(F.max("o_totalprice").alias("day_max"))
    w = Window.orderBy("order_date").rowsBetween(Window.unboundedPreceding, -1)
    spine = dmax.select(
        "order_date", "day_max", F.max("day_max").over(w).alias("prior_max")
    )
    return (
        o.join(F.broadcast(spine), "order_date")
        .filter(
            (F.col("o_totalprice") == F.col("day_max"))
            & (
                F.col("prior_max").isNull()
                | (F.col("o_totalprice") > F.col("prior_max"))
            )
        )
        .select("o_orderkey", "order_date", "o_totalprice")
    )


@query(
    "concurrent_peak",
    oracle="""
    WITH ends AS (
      SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS e
      FROM lineitem GROUP BY l_orderkey),
    spans AS (
      SELECT CAST(o_orderdate AS DATE) AS s, e
      FROM orders JOIN ends ON o_orderkey = l_orderkey),
    deltas AS (
      SELECT d, SUM(v) AS delta FROM (
        SELECT s AS d, 1 AS v FROM spans
        UNION ALL
        SELECT e + 1 AS d, -1 AS v FROM spans) u
      GROUP BY d),
    cum AS (SELECT d, SUM(delta) OVER (ORDER BY d) AS c FROM deltas)
    SELECT d AS peak_date, CAST(c AS BIGINT) AS peak
    FROM cum ORDER BY c DESC, d LIMIT 1
    """,
    doc="Maximum interval overlap (peak number of in-flight orders, "
    "span = order date .. last lineitem ship date) via the sweep-line "
    "trick: each span becomes +1/-1 day-boundary deltas, day-"
    "aggregated FIRST (partial agg collapses data-sized spans to the "
    "bounded ~2.4k-day spine), then one running sum + deterministic "
    "argmax (peak DESC, date ASC — earliest date at the peak). The "
    "only window runs over the day spine, never over data rows; the "
    "order->last-ship lookup is a fact-fact join on the orderkey both "
    "sides already shuffle on.",
)
def concurrent_peak(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    li = t(spark, sf, "lineitem")
    o = t(spark, sf, "orders")
    ends = li.groupBy("l_orderkey").agg(F.max(F.to_date("l_shipdate")).alias("e"))
    spans = o.join(ends, F.col("o_orderkey") == F.col("l_orderkey")).select(
        F.to_date("o_orderdate").alias("s"), "e"
    )
    deltas = (
        spans.select(F.col("s").alias("d"), F.lit(1).alias("v"))
        .unionAll(spans.select(F.date_add("e", 1).alias("d"), F.lit(-1).alias("v")))
        .groupBy("d")
        .agg(F.sum("v").alias("delta"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = deltas.select(F.col("d").alias("peak_date"), F.sum("delta").over(w).alias("peak"))
    return (
        cum.orderBy(F.desc("peak"), "peak_date")
        .limit(1)
        .select("peak_date", F.col("peak").cast("bigint").alias("peak"))
    )


@query(
    "median_price_by_priority",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders)
    SELECT o_orderpriority, o_totalprice AS median
    FROM r WHERE rn = (n + 1) // 2
    """,
    doc="EXACT per-group median (order price by priority) via the "
    "scalable two-phase histogram scheme (operators/aggregate.py:"
    "grouped_median — the grouped generalization of WordMedian's "
    "histogram walk, EX/WordMedian.java:1): phase 1 shuffles only "
    "(group, bin) counts, windows run over the per-group bin table, "
    "phase 2 ranks only the median bin's rows (~n/1024 of the group). "
    "The oracle is the one-task ROW_NUMBER form the small engine can "
    "afford; lower median at rank (n+1) DIV 2 — integer-exact.",
)
def median_price_by_priority(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.operators.aggregate import grouped_median

    o = t(spark, sf, "orders")
    return grouped_median(o, ["o_orderpriority"], "o_totalprice")


@query(
    "linreg_price_vs_qty",
    oracle="""
    WITH m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))
                      * CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))
                      * CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sxx
      FROM lineitem)
    SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept,
           CAST(n AS BIGINT) AS n
    FROM m
    """,
    doc="Distributed least-squares fit (extendedprice ~ quantity) via "
    "the aggregate-then-solve pattern every closed-form ML trainer at "
    "scale uses: the five sufficient moments accumulate as EXACT "
    "DECIMAL sums in one partial-agg pass (order-independent, so any "
    "partitioning gives identical moments), then the normal-equation "
    "solve is a fixed double expression on the 1-row moment table — "
    "bit-identical across engines because both compute the same "
    "operation tree from the same exact inputs. One scan, one "
    "shuffle of a single row.",
)
def linreg_price_vs_qty(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    x = F.col("l_quantity").cast("decimal(20,2)")
    y = F.col("l_extendedprice").cast("decimal(20,2)")
    m = li.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
        F.col("n").cast("bigint").alias("n"),
    )


@query(
    "pearson_by_flag",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_discount AS DECIMAL(20,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))
                      * CAST(l_discount AS DECIMAL(20,2))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))
                      * CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_discount AS DECIMAL(20,2))
                      * CAST(l_discount AS DECIMAL(20,2))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS r,
           CAST(n AS BIGINT) AS n
    FROM m
    """,
    doc="Per-group Pearson correlation (quantity vs discount by return "
    "flag) from the six exact-DECIMAL sufficient moments — the same "
    "aggregate-then-solve shape as linreg_price_vs_qty but grouped. "
    "sqrt is IEEE correctly-rounded in both engines, so the identical "
    "expression tree over identical exact moments is bit-equal. The "
    "moment pass partial-aggregates map-side; the solve runs on "
    "#groups rows.",
)
def pearson_by_flag(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    x = F.col("l_quantity").cast("decimal(20,2)")
    y = F.col("l_discount").cast("decimal(20,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select("l_returnflag", r.alias("r"), F.col("n").cast("bigint").alias("n"))


@query(
    "price_quantiles_by_priority",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders)
    SELECT o_orderpriority, q, value FROM (
      SELECT o_orderpriority, 'p25' AS q, o_totalprice AS value
      FROM r WHERE rn = (1 * n + 3) // 4
      UNION ALL
      SELECT o_orderpriority, 'p50', o_totalprice FROM r WHERE rn = (1 * n + 1) // 2
      UNION ALL
      SELECT o_orderpriority, 'p90', o_totalprice FROM r WHERE rn = (9 * n + 9) // 10)
    ORDER BY o_orderpriority, q
    """,
    doc="EXACT per-group quantile SET (p25/p50/p90 of order price by "
    "priority) via the scalable two-phase histogram scheme "
    "(operators/aggregate.py:grouped_quantile, the WordMedian "
    "generalization): all three quantiles read ONE histogram pass — "
    "each target bin comes from the same cumulative bin table, and "
    "phase 2 ranks only the selected bins' rows. Rank thresholds are "
    "ceil(num*n/den) exact-integer comparisons in both engines.",
)
def price_quantiles_by_priority(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.operators.aggregate import grouped_quantile

    o = t(spark, sf, "orders")
    return grouped_quantile(
        o,
        ["o_orderpriority"],
        "o_totalprice",
        [("p25", 1, 4), ("p50", 1, 2), ("p90", 9, 10)],
    ).orderBy("o_orderpriority", "q")


@query(
    "mad_outliers",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders),
    med AS (SELECT o_orderpriority, o_totalprice AS med FROM r WHERE rn = (n + 1) // 2),
    dev AS (
      SELECT o.o_orderpriority, abs(o.o_totalprice - m.med) AS dev
      FROM orders o JOIN med m USING (o_orderpriority)),
    r2 AS (
      SELECT o_orderpriority, dev,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY dev) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM dev),
    mad AS (SELECT o_orderpriority, dev AS mad FROM r2 WHERE rn = (n + 1) // 2),
    agg AS (
      SELECT d.o_orderpriority,
             COUNT(*) AS n_orders,
             SUM(CASE WHEN 2 * d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS n_outliers,
             MAX(d.dev) AS max_dev
      FROM dev d JOIN mad m USING (o_orderpriority)
      GROUP BY d.o_orderpriority)
    SELECT a.o_orderpriority,
           CAST(me.med AS DOUBLE) AS median,
           CAST(m.mad AS DOUBLE) AS mad,
           CAST(a.n_orders AS BIGINT) AS n_orders,
           CAST(a.n_outliers AS BIGINT) AS n_outliers,
           CAST(a.max_dev AS DOUBLE) AS max_dev
    FROM agg a JOIN mad m USING (o_orderpriority) JOIN med me USING (o_orderpriority)
    """,
    doc="Robust outlier detection: per-priority median / MAD (median "
    "absolute deviation) with a 3-MAD flag — the distribution-free "
    "outlier rule that, unlike z-scores, a few extreme rows cannot "
    "drag. Composes the scalable two-phase exact median twice "
    "(operators/aggregate.py:grouped_median): each pass shuffles only "
    "(group, bin) counts and re-ranks ~n/1024 rows; the 5-row "
    "median/MAD tables broadcast back, so deviations and flags are "
    "map-side. All comparisons in exact DECIMAL — doubles only in the "
    "final projection.",
)
def mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.operators.aggregate import grouped_median

    o = t(spark, sf, "orders").select("o_orderpriority", "o_totalprice")
    med = grouped_median(o, ["o_orderpriority"], "o_totalprice").withColumnRenamed(
        "median", "med"
    )
    dev = o.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        F.abs(F.col("o_totalprice") - F.col("med")).alias("dev"),
    )
    mad = grouped_median(dev, ["o_orderpriority"], "dev").withColumnRenamed(
        "median", "mad"
    )
    agg = (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                (F.lit(2) * F.col("dev") > F.lit(3) * F.col("mad")).cast("long")
            ).alias("n_outliers"),
            F.max("dev").alias("max_dev"),
        )
    )
    return (
        agg.join(F.broadcast(mad), "o_orderpriority")
        .join(F.broadcast(med), "o_orderpriority")
        .select(
            "o_orderpriority",
            F.col("med").cast("double").alias("median"),
            F.col("mad").cast("double").alias("mad"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.col("n_outliers").cast("bigint").alias("n_outliers"),
            F.col("max_dev").cast("double").alias("max_dev"),
        )
    )


@query(
    "scd2_user_state",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    runs AS (
      SELECT user_id, event_type, ts,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM seq),
    dim AS (
      SELECT user_id, version, MIN(event_type) AS state,
             MIN(ts) AS vf, COUNT(*) AS n_events
      FROM runs GROUP BY user_id, version)
    SELECT user_id, CAST(version AS BIGINT) AS version, state,
           epoch_us(vf) AS valid_from_us,
           epoch_us(lead(vf) OVER (PARTITION BY user_id ORDER BY version))
             AS valid_to_us,
           lead(vf) OVER (PARTITION BY user_id ORDER BY version) IS NULL
             AS is_current,
           CAST(n_events AS BIGINT) AS n_events
    FROM dim
    """,
    doc="Slowly-changing-dimension TYPE 2 build from an event log (the "
    "warehouse dimension-maintenance pattern): per-user event_type "
    "runs collapse to version rows with [valid_from, valid_to) "
    "microsecond validity intervals, a version sequence number, and an "
    "is_current flag on the open row. The (ts, event_id) tie-break "
    "makes run boundaries a total order (engine-independent). Scale "
    "shape: ONE shuffle — the change-flag window, the run-id running "
    "sum, the (user_id, version) aggregate, and the valid_to lead are "
    "all keyed by user_id, so EnsureRequirements satisfies every stage "
    "from the first exchange (subset-clustering rule); validity bounds "
    "are exact BIGINT epoch micros, never float.",
)
def scd2_user_state(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    runs = e.withColumn(
        "version",
        F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    dim = runs.groupBy("user_id", "version").agg(
        F.min("event_type").alias("state"),
        F.min("ts").alias("vf"),
        F.count("*").alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    nxt = F.lead("vf").over(wv)
    return dim.select(
        "user_id",
        F.col("version").cast("bigint").alias("version"),
        "state",
        F.unix_micros("vf").alias("valid_from_us"),
        F.unix_micros(nxt).alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


@query(
    "frequent_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
      FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2)
    SELECT part_a, part_b, CAST(support AS BIGINT) AS support
    FROM pairs WHERE support >= 2
    """,
    doc="Market-basket pair mining (the support-counting core of "
    "Apriori/FP-growth): parts co-purchased in the same order, "
    "support >= 2, with set semantics (multiplicity inside one basket "
    "never inflates support). Scale shape: baskets assemble with ONE "
    "shuffle (groupBy orderkey, collect_set) and the i<j pair "
    "explosion happens INSIDE the basket array — quadratic only in "
    "basket size (TPC-H baskets are <= 7 lines; production pipelines "
    "cap mega-baskets like the LSH hot-bucket guards) — so there is "
    "no basket self-join and no third exchange; support counting is "
    "one partial-aggregated groupBy on the pair.",
)
def frequent_pairs(spark: SparkSession, sf: str) -> DataFrame:
    baskets = (
        t(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "parts",
                    lambda x, i: F.transform(
                        F.slice("parts", i + 2, F.size("parts")),
                        lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 2)
    )


def _kcore_rounds_sql(rounds: int) -> str:
    """Unrolled k-core peel rounds (the _cc_pointer_jump_sql
    discipline: every CTE referenced twice is MATERIALIZED or DuckDB's
    inlining doubles the tree per round). Expects ``e0`` (canonical
    a < b edges) and ``stats`` (one-row ``k``); emits ``e{rounds}``.
    Converged rounds are idempotent, so ``rounds`` only needs to
    exceed the peel depth — the Spark side iterates to the true
    fixpoint and RAISES past 64, so an under-unrolled oracle shows up
    as a loud mismatch, never a silent agreement."""
    parts = []
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
          SELECT v, COUNT(*) AS dg
          FROM (SELECT a AS v FROM e{i-1} UNION ALL SELECT b AS v FROM e{i-1})
          GROUP BY v),
        k{i} AS MATERIALIZED (SELECT v FROM d{i} WHERE dg >= (SELECT k FROM stats)),
        e{i} AS MATERIALIZED (
          SELECT e.a, e.b FROM e{i-1} e
          JOIN k{i} ka ON ka.v = e.a JOIN k{i} kb ON kb.v = e.b)"""
        )
    return ",\n    ".join(parts)


@query(
    "kcore_parts",
    oracle=f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey),
    stats AS (
      SELECT (5 * ((2 * (SELECT COUNT(*) FROM e0))
                   // (SELECT COUNT(*) FROM (SELECT a AS v FROM e0
                       UNION SELECT b FROM e0)))) // 8 AS k),
    {_kcore_rounds_sql(12)}
    SELECT v AS part, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM (SELECT a AS v FROM e12 UNION ALL SELECT b AS v FROM e12)
    GROUP BY v
    """,
    doc="k-CORE decomposition of the part co-purchase graph "
    "(operators/graph.py:kcore — Matula & Beck's peel in distributed "
    "form): parts co-occurring in an order form an undirected graph "
    "(the frequent_pairs basket explosion, one shuffle, no "
    "self-join); k = (5 * mean_degree) div 8 derived from the graph "
    "itself (integer ops, engine-portable — a FIXED k either peels "
    "nothing or everything as the corpus scales; this one keeps the "
    "peel discriminative at every sf: ~1-3% of parts drop). Each peel "
    "round is one union+partial-agg degree shuffle + two semi-joins, "
    "round count bounded by degeneracy depth (<= 5 on every fixture); "
    "Spark iterates to the true fixpoint with the surviving-edge "
    "count as the monotone convergence measure, the oracle unrolls 12 "
    "idempotent-past-convergence rounds. The host-graph trimming "
    "pass before link analysis (Common Crawl publishes exactly this "
    "cut), and the densest-region prefilter for community detection.",
)
def kcore_parts(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.operators.graph import kcore

    baskets = (
        t(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    edges = (
        baskets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "parts",
                        lambda x, i: F.transform(
                            F.slice("parts", i + 2, F.size("parts")),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )
    # no checkpoint here: kcore lazily checkpoints its input edge list
    # itself, so neither its stats pass nor its peel rounds replay the
    # basket explosion, and it releases that copy after round 0
    # k = (5 * mean_degree) div 8 derives INSIDE kcore off round 0's
    # degree table — no separate edge/node counting pass
    core = kcore(edges, mean_frac=(5, 8))
    return core.select(F.col("v").alias("part"), "core_degree")


@query(
    "twap_user_value",
    oracle="""
    WITH seq AS (
      SELECT user_id, CAST(value AS DECIMAL(12,2)) AS v,
             epoch_us(ts) AS ts_us,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt_us
      FROM events),
    agg AS (
      SELECT user_id, COUNT(*) AS n_events,
             SUM(v * (nxt_us - ts_us)) AS wsum,
             SUM(nxt_us - ts_us) AS gsum
      FROM seq GROUP BY user_id)
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           CAST(coalesce(gsum, 0) AS BIGINT) AS span_us,
           CASE WHEN coalesce(gsum, 0) > 0
                THEN CAST(CAST(wsum * 100 AS BIGINT) // CAST(gsum AS BIGINT)
                          AS BIGINT)
           END AS twap_cents
    FROM agg
    """,
    doc="Time-weighted average (TWAP) of each user's piecewise-"
    "constant value signal between first and last event: each event's "
    "value holds until the next event (the last one carries no "
    "weight), weights are EXACT BIGINT microsecond gaps and values "
    "are DECIMAL(12,2) (the fixture's values are 2-dp money, so the "
    "cast is lossless) — the weighted sum is exact and order-"
    "independent, and the average is reported in integer MICRO-UNITS "
    "(exact BIGINT floor division of the cent-scaled sum; a double "
    "quotient of a ~1e18 numerator is not bit-portable across engines "
    "— measured 1.4e-14 off — and DECIMAL integral division rounds "
    "before truncating in both engines, each differently). "
    "Single user-keyed shuffle serves both the lead() window and the "
    "aggregate; single-event users report twap NULL, span 0.",
)
def twap_user_value(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf, "events").select("user_id", "value", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("value").cast("decimal(12,2)").alias("v"),
        F.unix_micros("ts").alias("ts_us"),
        (F.lead(F.unix_micros("ts")).over(w)).alias("nxt_us"),
    )
    gap = F.col("nxt_us") - F.col("ts_us")
    agg = seq.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("v") * gap).alias("wsum"),
        F.sum(gap).alias("gsum"),
    )
    gsum = F.coalesce(F.col("gsum"), F.lit(0))
    return agg.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        gsum.cast("bigint").alias("span_us"),
        F.when(
            gsum > 0,
            F.expr("CAST(wsum * 100 AS BIGINT) div gsum"),
        ).alias("twap_cents"),
    )


@query(
    "modal_event_type",
    oracle="""
    WITH cnt AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type),
    rk AS (
      SELECT user_id, event_type, c,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY c DESC, event_type) AS rn
      FROM cnt)
    SELECT user_id, event_type AS modal_type, CAST(c AS BIGINT) AS cnt
    FROM rk WHERE rn = 1
    """,
    doc="Per-group MODE (most frequent value, deterministic "
    "lowest-value tie-break) — the one classic aggregate the "
    "ValueAggregator family lacks, via count + rank-over-aggregate: "
    "the window runs over the (user, type) COUNT table (vocabulary-"
    "bounded per user), never over raw events, and the groupBy's "
    "user_id exchange satisfies the window's partitioning (one "
    "shuffle).",
)
def modal_event_type(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    cnt = (
        t(spark, sf, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("c"), "event_type")
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("modal_type"),
            F.col("c").cast("bigint").alias("cnt"),
        )
    )


@query(
    "ohlc_hourly",
    oracle="""
    WITH rk AS (
      SELECT user_id, date_trunc('hour', ts) AS h, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events)
    SELECT user_id, epoch_us(h) AS hour_us,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high, MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS volume
    FROM rk GROUP BY user_id, h
    """,
    doc="Time-bar (OHLC candlestick) aggregation per user-hour: "
    "open/close are arg-min/arg-max of the (ts, event_id) TOTAL order "
    "(the markov tie-break discipline — engine- and partitioning-"
    "independent even under equal timestamps), high/low plain "
    "extremes, volume an exact DECIMAL sum cast once at the boundary. "
    "ONE aggregation, partial-aggregated map-side; min_by/max_by on a "
    "struct key needs no window and no self-join.",
)
def ohlc_hourly(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events")
    key = F.struct("ts", "event_id")
    return (
        e.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("volume"),
        )
        .select(
            "user_id",
            F.unix_micros("h").alias("hour_us"),
            "open", "high", "low", "close", "n_events", "volume",
        )
    )


@query(
    "seasonal_anomaly_hours",
    oracle="""
    WITH c AS (SELECT hour(ts) AS hour_of_day,
                      CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
               FROM events),
    s AS (SELECT hour_of_day, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(c) AS BIGINT) AS s,
                 CAST(SUM(c * c) AS BIGINT) AS q
          FROM c GROUP BY hour_of_day),
    f AS (SELECT c.hour_of_day, s.n, s.s,
            CASE WHEN CAST(c.c AS HUGEINT) * s.n - s.s IS NOT NULL
                  AND (CAST(c.c AS HUGEINT) * s.n - s.s)
                      * (CAST(c.c AS HUGEINT) * s.n - s.s)
                      > 9 * (CAST(s.n AS HUGEINT) * s.q
                             - CAST(s.s AS HUGEINT) * s.s)
                 THEN 1 ELSE 0 END AS a
          FROM c JOIN s USING (hour_of_day))
    SELECT hour_of_day, MAX(n) AS n_events,
           CAST(SUM(a) AS BIGINT) AS n_anomalies,
           CAST(MAX(s) AS DOUBLE) / 100.0 / MAX(n) AS mean_value
    FROM f GROUP BY hour_of_day ORDER BY hour_of_day
    """,
    doc="Seasonal-baseline anomaly audit (the time-series curation "
    "pass beside EWMA/OHLC/autocorr): per hour-of-day baseline over "
    "all events — exact cent-scaled integer moments (n, sum, sum of "
    "squares) — and every event tested against its hour's 3-sigma "
    "band by CROSS-MULTIPLICATION: (c*n - s)^2 > 9*(n*q - s^2), no "
    "sqrt, no float until the reporting boundary, so both engines "
    "agree bit-exactly. The wide terms compute in DECIMAL(38,0) / "
    "HUGEINT (at 100x corpus the squared deviation passes int64 — "
    "the autocorr_user_value overflow lesson, applied up front "
    "rather than guarded after). Scale shape: the 24-row baseline "
    "aggregates map-side and BROADCASTS back over a second fully "
    "parallel scan — never a 24-partition window over the fact "
    "table (bounded-cardinality partitions are the skew, not the "
    "fix).",
)
def seasonal_anomaly_hours(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events").select(
        F.hour("ts").alias("hour_of_day"),
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias("c"),
    )
    stats = e.groupBy("hour_of_day").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("q"),
    )
    dev = "CAST(c AS DECIMAL(38,0)) * n - s"
    anom = F.expr(
        f"CASE WHEN ({dev}) * ({dev}) > "
        "9 * (CAST(n AS DECIMAL(38,0)) * q - CAST(s AS DECIMAL(38,0)) * s) "
        "THEN 1 ELSE 0 END"
    )
    return (
        e.join(F.broadcast(stats), "hour_of_day")
        .withColumn("a", anom)
        .groupBy("hour_of_day")
        .agg(
            F.max("n").alias("n_events"),
            F.sum("a").cast("bigint").alias("n_anomalies"),
            (
                F.max("s").cast("double") / F.lit(100.0) / F.max("n")
            ).alias("mean_value"),
        )
        .orderBy("hour_of_day")
    )


from hadoop_main_spark.functions.hashing import hash64_sql  # noqa: E402

_NEG_K = 3  # negative draws per positive
_NEG_ITEMS = 100  # item-id space of the fixture ($.k in 0..99)


@query(
    "negative_samples",
    oracle=f"""
    WITH pos AS (
      SELECT DISTINCT user_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
      FROM events
      WHERE event_type = 'purchase'
        AND json_extract_string(props, '$.k') IS NOT NULL),
    draws AS (
      SELECT user_id, item,
             {hash64_sql("concat(CAST(user_id AS VARCHAR), ':', CAST(item AS VARCHAR), ':', CAST(r AS VARCHAR))", "negs")} % {_NEG_ITEMS} AS neg_item
      FROM pos, unnest(generate_series(0, {_NEG_K - 1})) AS g(r)),
    kept AS (
      SELECT d.user_id, d.item, d.neg_item
      FROM draws d
      WHERE NOT EXISTS (SELECT 1 FROM pos p
                        WHERE p.user_id = d.user_id AND p.item = d.neg_item))
    SELECT user_id, item, neg_item, CAST(COUNT(*) AS BIGINT) AS n_draws
    FROM kept GROUP BY user_id, item, neg_item
    """,
    doc="Deterministic negative sampling for embedding / "
    "recommendation training (the word2vec / BPR shape, Mikolov et "
    "al. arXiv:1310.4546): each observed (user, item) purchase "
    "positive draws 3 hash-derived candidate negatives from the item "
    "space, and candidates the user ACTUALLY interacted with are "
    "removed by a LEFT ANTI join against the user's positive set — "
    "the accidental-hit filter every implementation needs. All draws "
    "are hash64-derived (reproducible across engines, partitionings, "
    "and reruns); the anti-join is keyed on (user, item) exactly like "
    "the positive set's own aggregation, so the pipeline runs on one "
    "partitioning family. Duplicate draws surface as n_draws > 1 "
    "rather than silently collapsing (unbiased loss weighting).",
)
def negative_samples(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.functions.hashing import hash64

    e = t(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    # explicit isNotNull on BOTH anti-join key columns: the join infers
    # non-nullness into one branch only, which breaks canonical
    # equality of the shared aggregate and defeats ReusedExchange
    # (the NOTES dsir/token_rarity trap)
    pos = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", k.alias("item"))
        .filter(F.col("item").isNotNull() & F.col("user_id").isNotNull())
        .distinct()
    )
    draws = pos.select(
        "user_id",
        "item",
        F.explode(F.sequence(F.lit(0), F.lit(_NEG_K - 1))).alias("r"),
    ).select(
        "user_id",
        "item",
        (
            hash64(
                F.concat_ws(
                    ":",
                    F.col("user_id").cast("string"),
                    F.col("item").cast("string"),
                    F.col("r").cast("string"),
                ),
                "negs",
            )
            % _NEG_ITEMS
        ).alias("neg_item"),
    )
    # anti-join against the UNRENAMED aggregate through dataset aliases:
    # an `item AS neg_item` projection would collapse INTO the right
    # branch's aggregate output list, break canonical equality with the
    # draws branch, and forfeit the runtime exchange reuse
    kept = draws.alias("d").join(
        pos.alias("p"),
        (F.col("d.user_id") == F.col("p.user_id"))
        & (F.col("d.neg_item") == F.col("p.item")),
        "left_anti",
    )
    return kept.groupBy("user_id", "item", "neg_item").agg(
        F.count("*").cast("bigint").alias("n_draws")
    )


@query(
    "scd2_point_in_time",
    oracle="""
    WITH src AS (
      SELECT user_id, event_type, ts, event_id FROM events
      WHERE event_type IN ('signup', 'purchase')),
    seq AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM src
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    runs AS (
      SELECT user_id, event_type, ts,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM seq),
    dim0 AS (
      SELECT user_id, version, MIN(event_type) AS state, MIN(ts) AS vf
      FROM runs GROUP BY user_id, version),
    dim AS MATERIALIZED (
      SELECT user_id, state, vf,
             lead(vf) OVER (PARTITION BY user_id ORDER BY version) AS vt
      FROM dim0),
    facts AS (
      SELECT user_id, event_type AS fact_type, ts FROM events
      WHERE event_type NOT IN ('signup', 'purchase'))
    SELECT f.fact_type, coalesce(d.state, 'unknown') AS state,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM facts f
    LEFT JOIN dim d
      ON d.user_id = f.user_id AND d.vf <= f.ts
         AND (d.vt IS NULL OR f.ts < d.vt)
    GROUP BY 1, 2
    """,
    doc="Point-in-time fact-to-SCD2 join (the warehouse pattern the "
    "type-2 dimension exists FOR): signup/purchase events build the "
    "per-user state history (the scd2_user_state machinery), and "
    "every click/view/error fact joins the version whose "
    "[valid_from, valid_to) interval contains its timestamp — facts "
    "before any dimension row report state 'unknown' via the left "
    "join. The intervals are disjoint by construction so the join is "
    "1:at-most-1; it executes as a user-keyed sort-merge join with a "
    "residual range predicate (both sides already partition by "
    "user_id — no extra exchange beyond the two inputs').",
)
def scd2_point_in_time(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf, "events")
    src = e.filter(F.col("event_type").isin("signup", "purchase")).select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    runs = src.withColumn(
        "version",
        F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    # dim and facts share the events lineage: rename the dim-side join
    # columns so the non-equi condition resolves explicitly instead of
    # through Spark's self-join fixup (which logs a trivially-true-
    # predicate warning before disambiguating)
    dim = (
        runs.groupBy("user_id", "version")
        .agg(F.min("event_type").alias("state"), F.min("ts").alias("vf"))
        .withColumn("vt", F.lead("vf").over(wv))
        .select(F.col("user_id").alias("d_user"), "state", "vf", "vt")
    )
    facts = e.filter(~F.col("event_type").isin("signup", "purchase")).select(
        "user_id", F.col("event_type").alias("fact_type"), "ts"
    )
    joined = facts.join(
        dim,
        (F.col("d_user") == F.col("user_id"))
        & (F.col("vf") <= F.col("ts"))
        & (F.col("vt").isNull() | (F.col("ts") < F.col("vt"))),
        "left",
    )
    return joined.groupBy(
        "fact_type", F.coalesce("state", F.lit("unknown")).alias("state")
    ).agg(F.count("*").cast("bigint").alias("n"))


_KANON_K = 5


@query(
    "k_anonymity_audit",
    oracle=f"""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             COUNT(*) AS grp
      FROM customer GROUP BY 1, 2, 3)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN grp < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS violating_classes,
           CAST(SUM(CASE WHEN grp < {_KANON_K} THEN grp ELSE 0 END) AS BIGINT)
             AS exposed_rows,
           CAST(MIN(grp) AS BIGINT) AS min_class_size
    FROM qi
    """,
    doc="k-anonymity audit (Sweeney 2002, the release-readiness check "
    "behind every PII pipeline — the measurement counterpart to "
    "pii_scrub's redaction): rows sharing a quasi-identifier tuple "
    "(nation, market segment, account-balance band) form an "
    "equivalence class; classes smaller than k = 5 re-identify their "
    "members and must be suppressed or generalized before release. "
    "Reports class count, violating classes, exposed row count, and "
    "the minimum class size (the table's actual k). One partial-"
    "aggregated groupBy on the QI tuple, then a 4-stat fold over the "
    "class table — class cardinality is bounded by the QI domain, "
    "never by row count. The balance band uses floor division (exact "
    "on the 2-dp doubles), so class membership is engine-identical.",
)
def k_anonymity_audit(spark: SparkSession, sf: str) -> DataFrame:
    c = t(spark, sf, "customer")
    qi = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    ).agg(F.count("*").alias("grp"))
    viol = F.col("grp") < _KANON_K
    return qi.agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.sum(viol.cast("bigint")).cast("bigint").alias("violating_classes"),
        F.sum(F.when(viol, F.col("grp")).otherwise(0)).cast("bigint").alias("exposed_rows"),
        F.min("grp").cast("bigint").alias("min_class_size"),
    )


_LDIV_L = 3


@query(
    "l_diversity_audit",
    oracle=f"""
    WITH cls AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             COUNT(DISTINCT c_mktsegment) AS div_l,
             COUNT(*) AS grp
      FROM customer GROUP BY 1, 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN div_l < {_LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
             AS violating_classes,
           CAST(SUM(CASE WHEN div_l < {_LDIV_L} THEN grp ELSE 0 END) AS BIGINT)
             AS exposed_rows,
           CAST(MIN(div_l) AS BIGINT) AS min_diversity
    FROM cls
    """,
    doc="l-diversity audit (Machanavajjhala et al. ICDE'06 — the "
    "stronger release check k-anonymity alone misses: a class can be "
    "k-large yet leak its members' sensitive value when every row "
    "agrees on it). Quasi-identifiers (nation, balance band) form "
    "classes; the sensitive attribute (market segment) must take at "
    "least l = 3 distinct values per class. Reports class count, "
    "violating classes, exposed rows, and the table's actual minimum "
    "diversity. One partial-aggregated groupBy with a distinct-count "
    "— class cardinality bounded by the QI domain.",
)
def l_diversity_audit(spark: SparkSession, sf: str) -> DataFrame:
    c = t(spark, sf, "customer")
    cls = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    ).agg(
        F.countDistinct("c_mktsegment").alias("div_l"),
        F.count("*").alias("grp"),
    )
    viol = F.col("div_l") < _LDIV_L
    return cls.agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.sum(viol.cast("bigint")).cast("bigint").alias("violating_classes"),
        F.sum(F.when(viol, F.col("grp")).otherwise(0)).cast("bigint").alias("exposed_rows"),
        F.min("div_l").cast("bigint").alias("min_diversity"),
    )


@query(
    "autocorr_user_value",
    oracle="""
    WITH e AS (
      SELECT user_id,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
             lag(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS y
      FROM events),
    p AS (SELECT user_id, x, y FROM e WHERE y IS NOT NULL),
    s AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(y * y) AS BIGINT) AS syy
          FROM p GROUP BY user_id)
    SELECT user_id, n_pairs,
           CAST(n_pairs * sxy - sx * sy AS BIGINT) AS acf_num,
           CAST(n_pairs * sxx - sx * sx AS BIGINT) AS var_x,
           CAST(n_pairs * syy - sy * sy AS BIGINT) AS var_y
    FROM s WHERE n_pairs >= 2
    ORDER BY user_id
    """,
    doc="Lag-1 autocorrelation of each user's event-value series, "
    "EXACT (extends the time-series family — EWMA/TWAP/OHLC — with "
    "the serial-dependence diagnostic every forecasting pipeline "
    "starts from): Pearson r between consecutive cent-scaled values "
    "emitted as the exact integer moments (acf_num, var_x, var_y) "
    "with r = acf_num / sqrt(var_x * var_y) left to the caller — no "
    "square root touches the engine, so every value is bit-identical "
    "across engines and partitionings. ONE user-keyed window (the "
    "lag) + one aggregate over the same key — the window's shuffle "
    "is reused by the groupBy. Overflow bound: |n*sxy - sx*sy| <= "
    "2 * n^2 * max_cents^2 — ENFORCED, not just documented: past the "
    "bound DuckDB's HUGEINT promotion makes the BIGINT cast raise "
    "while non-ANSI Spark would silently wrap int64, so the Spark "
    "build carries a per-user raise_error guard (double-precision "
    "check with 2x headroom under int64 max) that turns a would-be "
    "wrong answer into a loud failure, matching the oracle's mode.",
)
def autocorr_user_value(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    uw = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = t(spark, sf, "events").select(
        "user_id", cents.alias("x"), F.lag(cents).over(uw).alias("y")
    ).filter(F.col("y").isNotNull())
    s = e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.max(F.greatest(F.abs(F.col("x")), F.abs(F.col("y"))))
        .cast("bigint")
        .alias("__mx"),
    )
    # every moment product is bounded by 2 * n^2 * mx^2; check it in
    # doubles (exactness doesn't matter for a GUARD) against int64
    # max with 2x headroom so a would-be silent int64 wrap raises
    # instead — the same loud-failure mode as the DuckDB oracle
    nd = F.col("n_pairs").cast("double")
    mxd = F.col("__mx").cast("double")
    n_pairs_guarded = F.when(
        2.0 * nd * nd * mxd * mxd > 4.0e18,
        F.raise_error(
            F.concat(
                F.lit("autocorr_user_value: int64 overflow risk for"
                      " user_id "),
                F.col("user_id").cast("string"),
                F.lit(" — rescale values or shard the series"),
            )
        ).cast("bigint"),
    ).otherwise(F.col("n_pairs"))
    return (
        s.filter(F.col("n_pairs") >= 2)
        .select(
            "user_id",
            n_pairs_guarded.alias("n_pairs"),
            (F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("bigint")
            .alias("acf_num"),
            (F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("bigint")
            .alias("var_x"),
            (F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy"))
            .cast("bigint")
            .alias("var_y"),
        )
        .orderBy("user_id")
    )


_TCLOSE_T_NUM, _TCLOSE_T_DEN = 1, 100  # t = 0.01


@query(
    "t_closeness_audit",
    oracle=f"""
    WITH s AS (SELECT l_returnflag AS rf,
                      CAST(year(l_shipdate) AS BIGINT) AS yr,
                      CAST(l_quantity AS BIGINT) AS v
               FROM lineitem),
    cnt AS (SELECT rf, yr, v, COUNT(*) AS cc FROM s GROUP BY 1, 2, 3),
    g AS (SELECT v, SUM(cc) AS gc FROM cnt GROUP BY v),
    gcum AS (SELECT v, SUM(gc) OVER (ORDER BY v) AS b FROM g),
    tot AS (SELECT CAST(SUM(gc) AS BIGINT) AS n_g,
                   CAST(COUNT(*) AS BIGINT) AS m FROM g),
    cls AS (SELECT rf, yr, CAST(SUM(cc) AS BIGINT) AS n_c FROM cnt GROUP BY 1, 2),
    grid AS (SELECT c.rf, c.yr, c.n_c, d.v, COALESCE(cnt.cc, 0) AS cc
             FROM cls c CROSS JOIN (SELECT v FROM g) d
                  LEFT JOIN cnt ON cnt.rf = c.rf AND cnt.yr = c.yr
                              AND cnt.v = d.v),
    cum AS (SELECT rf, yr, n_c, v,
                   SUM(cc) OVER (PARTITION BY rf, yr ORDER BY v) AS a
            FROM grid),
    e AS (SELECT cum.rf, cum.yr, cum.n_c,
                 CAST(SUM(ABS(a * tot.n_g - gcum.b * cum.n_c)) AS BIGINT)
                   AS emd_num,
                 CAST((tot.m - 1) * cum.n_c * tot.n_g AS BIGINT) AS emd_den
          FROM cum JOIN gcum USING (v) CROSS JOIN tot
          GROUP BY 1, 2, 3, emd_den)
    SELECT rf AS l_returnflag, yr AS ship_year, n_c AS n_rows,
           emd_num, emd_den,
           CAST(CASE WHEN emd_num * {_TCLOSE_T_DEN} > emd_den * {_TCLOSE_T_NUM}
                     THEN 1 ELSE 0 END AS BIGINT) AS violating
    FROM e
    ORDER BY l_returnflag, ship_year
    """,
    doc="t-closeness audit (Li et al. ICDE'07 — completes the "
    "privacy-audit family beside k_anonymity_audit and "
    "l_diversity_audit: a class can be k-large AND l-diverse yet "
    "still leak when its sensitive-value DISTRIBUTION is skewed vs "
    "the table's): per equivalence class (return flag x ship year), "
    "the Earth Mover's Distance between the class's quantity "
    "distribution and the global one, which for an ORDERED attribute "
    "is the mean absolute prefix-sum gap (ICDE'07 §5.2). EXACT "
    "integer form: with A_i/B_i the class/global cumulative counts, "
    "EMD = sum_i |A_i*n_g - B_i*n_c| / ((m-1)*n_c*n_g) — emitted as "
    "the exact (emd_num, emd_den) rational plus the t=0.01 verdict "
    "via cross-multiplication, so every value is bit-identical "
    "across engines. Shape: ONE corpus shuffle (the (class, value) "
    "count); everything after is domain-bounded (classes x 50 "
    "values) — the grid cross join, both cumulative windows, and "
    "the final per-class sum never touch the fact table again.",
)
def t_closeness_audit(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from hadoop_main_spark.operators.joins import broadcast

    s = t(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        F.year("l_shipdate").cast("bigint").alias("yr"),
        F.col("l_quantity").cast("bigint").alias("v"),
    )
    cnt = s.groupBy("rf", "yr", "v").agg(F.count("*").alias("cc"))
    g = cnt.groupBy("v").agg(F.sum("cc").alias("gc"))
    gcum = g.select(
        "v", F.sum("gc").over(Window.orderBy("v")).alias("b")
    )
    tot = g.agg(
        F.sum("gc").cast("bigint").alias("n_g"),
        F.count("*").cast("bigint").alias("m"),
    )
    cls = cnt.groupBy("rf", "yr").agg(F.sum("cc").cast("bigint").alias("n_c"))
    grid = (
        cls.crossJoin(broadcast(g.select("v")))
        .join(cnt, ["rf", "yr", "v"], "left")
        .select("rf", "yr", "n_c", "v", F.coalesce("cc", F.lit(0)).alias("cc"))
    )
    cum = grid.select(
        "rf", "yr", "n_c", "v",
        F.sum("cc").over(Window.partitionBy("rf", "yr").orderBy("v")).alias("a"),
    )
    e = (
        cum.join(broadcast(gcum), "v")
        .crossJoin(broadcast(tot))
        .groupBy("rf", "yr", "n_c", ((F.col("m") - 1)).alias("m1"))
        .agg(
            F.sum(
                F.abs(F.col("a") * F.col("n_g") - F.col("b") * F.col("n_c"))
            ).cast("bigint").alias("emd_num"),
            F.first(F.col("n_g")).alias("n_g"),
        )
    )
    return (
        e.select(
            F.col("rf").alias("l_returnflag"),
            F.col("yr").alias("ship_year"),
            F.col("n_c").alias("n_rows"),
            "emd_num",
            (F.col("m1") * F.col("n_c") * F.col("n_g"))
            .cast("bigint")
            .alias("emd_den"),
        )
        .withColumn(
            "violating",
            F.when(
                F.col("emd_num") * _TCLOSE_T_DEN
                > F.col("emd_den") * _TCLOSE_T_NUM,
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("bigint"),
        )
        .orderBy("l_returnflag", "ship_year")
    )


_EWMA_LAGS = 16  # alpha = 1/2, weights 2^(15-j) for lag j


def _ewma_oracle() -> str:
    num = " + ".join(
        f"coalesce(lag(cents, {j}) OVER uw, 0) * {1 << (_EWMA_LAGS - 1 - j)}"
        if j else f"cents * {1 << (_EWMA_LAGS - 1)}"
        for j in range(_EWMA_LAGS)
    )
    den = " + ".join(
        f"CASE WHEN lag(cents, {j}) OVER uw IS NOT NULL "
        f"THEN {1 << (_EWMA_LAGS - 1 - j)} ELSE 0 END"
        if j else f"{1 << (_EWMA_LAGS - 1)}"
        for j in range(_EWMA_LAGS)
    )
    return f"""
    WITH e AS (
      SELECT user_id, event_id, ts,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM events),
    w AS (
      SELECT user_id, event_id,
             ({num}) AS num, ({den}) AS den,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rd
      FROM e
      WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, CAST(num // den AS BIGINT) AS ewma_cents
    FROM w WHERE rd = 1
    """


@query(
    "ewma_user_value",
    oracle=_ewma_oracle(),
    doc="Exponentially weighted moving average, EXACT (the quant "
    "signal every float implementation drifts on): per user, the "
    "trailing-16-event EWMA with alpha = 1/2 as integer arithmetic — "
    "cent-scaled values, power-of-two weights 2^(15-j) per lag, "
    "missing lags dropped from BOTH numerator and denominator "
    "(proper warm-up normalization), one floor quotient at the end — "
    "so the value is bit-identical across engines and partitionings "
    "(the TWAP discipline; values are non-negative, so Spark's "
    "truncating div equals the oracle's flooring //). ONE user-keyed "
    "window serves the 16 lag terms AND the latest-row pick; emits "
    "one row per user.",
)
def ewma_user_value(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf, "events").select(
        "user_id",
        "event_id",
        "ts",
        (F.col("value").cast("decimal(12,2)") * 100).cast("bigint").alias("cents"),
    )
    uw = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = F.col("cents") * (1 << (_EWMA_LAGS - 1))
    den = F.lit(1 << (_EWMA_LAGS - 1)).cast("bigint")
    for j in range(1, _EWMA_LAGS):
        lj = F.lag("cents", j).over(uw)
        wj = 1 << (_EWMA_LAGS - 1 - j)
        num = num + F.coalesce(lj, F.lit(0)) * wj
        den = den + F.when(lj.isNotNull(), F.lit(wj)).otherwise(F.lit(0))
    rd = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    )
    return (
        e.select("user_id", num.alias("num"), den.alias("den"), rd.alias("rd"))
        .filter(F.col("rd") == 1)
        .select("user_id", F.expr("num div den").cast("bigint").alias("ewma_cents"))
    )


@query(
    "cusum_changepoints",
    oracle="""
    WITH c AS (SELECT user_id, event_id, ts,
                      CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
               FROM events),
    u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(c) AS BIGINT) AS tot
          FROM c GROUP BY user_id),
    p AS (SELECT user_id, ts,
                 CAST(SUM(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pk,
                 CAST(row_number() OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS BIGINT) AS k
          FROM c),
    s AS (SELECT p.user_id, k, ts,
                 abs(CAST(u.n AS HUGEINT) * pk - CAST(k AS HUGEINT) * u.tot)
                   AS sabs
          FROM p JOIN u USING (user_id)),
    r AS (SELECT user_id, k, ts, sabs,
                 row_number() OVER (PARTITION BY user_id
                      ORDER BY sabs DESC, k) AS rn
          FROM s)
    SELECT r.user_id, u.n AS n_events, r.k AS cp_k, r.ts AS cp_ts,
           CAST(r.sabs AS BIGINT) AS cusum_max
    FROM r JOIN u USING (user_id) WHERE rn = 1 ORDER BY user_id
    """,
    doc="CUSUM changepoint detection (Page 1954 — the level-shift "
    "pass beside the 3-sigma seasonal audit in the time-series "
    "curation family): per user, the cumulative-sum statistic "
    "S_k = n*P_k - k*T (the classic P_k - k*mean SCALED BY n so it "
    "stays an exact integer — no division, both engines agree "
    "bit-exactly) over the (ts, event_id)-deterministic event "
    "order; the changepoint is argmax |S_k| with smallest-k "
    "tie-break. Wide products compute in DECIMAL(38,0)/HUGEINT and "
    "the reporting cast back to BIGINT is overflow-GUARDED with "
    "raise_error (the autocorr lesson — non-ANSI Spark wraps "
    "silently). Scale: ONE user-keyed shuffle shared by the prefix "
    "window, the rank window and the per-user aggregate (same "
    "partition key); user cardinality grows with the corpus so no "
    "bounded-cardinality window skew.",
)
def cusum_changepoints(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias("c"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = e.select(
        "user_id",
        "ts",
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("pk"),
        F.row_number().over(w).cast("bigint").alias("k"),
        F.count("*")
        .over(Window.partitionBy("user_id"))
        .cast("bigint")
        .alias("n"),
        F.sum("c").over(Window.partitionBy("user_id")).alias("tot"),
    )
    s = p.select(
        "user_id",
        "k",
        "ts",
        "n",
        F.abs(
            F.expr("CAST(n AS DECIMAL(38,0)) * pk")
            - F.expr("CAST(k AS DECIMAL(38,0)) * tot")
        ).alias("sabs"),
    )
    rw = Window.partitionBy("user_id").orderBy(F.desc("sabs"), F.asc("k"))
    return (
        s.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            F.col("k").alias("cp_k"),
            F.col("ts").alias("cp_ts"),
            F.when(
                F.col("sabs") > F.lit(9223372036854775807).cast("decimal(38,0)"),
                F.raise_error(
                    "cusum_changepoints: |S_k| exceeds int64 at the "
                    "reporting boundary"
                ).cast("bigint"),
            )
            .otherwise(F.col("sabs").cast("bigint"))
            .alias("cusum_max"),
        )
        .orderBy("user_id")
    )


@query(
    "equi_depth_histogram",
    oracle="""
    WITH c AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS pc,
                      l_orderkey, l_linenumber
               FROM lineitem),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
    r AS (SELECT pc, row_number() OVER
             (ORDER BY pc, l_orderkey, l_linenumber) AS rk
          FROM c)
    SELECT ((rk - 1) * 16) // n AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(pc) AS min_cents, MAX(pc) AS max_cents,
           CAST(SUM(pc) AS BIGINT) AS sum_cents
    FROM r CROSS JOIN n GROUP BY 1 ORDER BY bucket
    """,
    doc="GLOBAL equi-depth (equi-height) histogram, 16 buckets over "
    "lineitem price — the statistics-construction primitive a "
    "cost-based optimizer builds over every large column, and the "
    "GLOBAL form of ntile that an unpartitioned Window.orderBy "
    "cannot provide at scale (one task sorts the world). The exact "
    "global rank comes from sorting.global_rank's "
    "TotalOrderPartitioner machinery (sampled split points, "
    "bucket-local row_number, per-bucket offsets from a one-row-per-"
    "bucket broadcast), the depth bucket is ((rank-1)*16) div n with "
    "the corpus total as a one-row broadcast, and the tie-break "
    "(price, orderkey, linenumber) makes the rank — hence every "
    "bucket boundary — deterministic under any partitioning. All "
    "money stays exact cents; bucket populations differ by at most "
    "1 by construction.",
)
def equi_depth_histogram(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_main_spark.operators.sorting import global_rank

    li = t(spark, sf, "lineitem").select(
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        ).alias("pc"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = global_rank(li, "pc", "l_orderkey", "l_linenumber", rank_col="rk")
    ntot = li.agg(F.count("*").cast("bigint").alias("__n"))
    return (
        ranked.crossJoin(F.broadcast(ntot))
        .select("pc", F.expr("((rk - 1) * 16) div __n").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("pc").alias("min_cents"),
            F.max("pc").alias("max_cents"),
            F.sum("pc").cast("bigint").alias("sum_cents"),
        )
        .orderBy("bucket")
    )


@query(
    "incremental_agg_maintenance",
    oracle="""
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents,
           MIN(event_id) AS min_event_id,
           MAX(event_id) AS max_event_id
    FROM events
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
    doc="Incremental MATERIALIZED-VIEW maintenance (the Delta Lake "
    "'MERGE WHEN MATCHED THEN UPDATE SET n = t.n + s.n' pattern — "
    "the aggregate-view analog of cc_incremental_resolution): the "
    "even-event_id half of the corpus aggregates to a per-(user, "
    "event_type) view COMMITTED THROUGH THE VERSIONED SINK, then the "
    "odd half arrives as a wave and operators/aggregate.py:"
    "merge_partial_aggs absorbs its partial aggregates via ONE "
    "co-partitioned full-outer join — the base corpus is NEVER "
    "rescanned. COUNT/SUM combine by addition, MIN/MAX by least/"
    "greatest (the mergeable-summary algebra), so the maintained "
    "view equals the from-scratch GROUP BY over ALL events VERBATIM "
    "— which is exactly what the oracle computes (one-shot equality, "
    "the strongest non-replay verification shape). At 100 TB the "
    "maintenance cost is |delta| + |view|, never |base|.",
)
def incremental_agg_maintenance(spark: SparkSession, sf: str) -> DataFrame:

    from hadoop_main_spark.operators.aggregate import merge_partial_aggs
    from hadoop_main_spark.sources.versioned import read_version, write_version

    e = t(spark, sf, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias("c"),
    )

    def view(part: DataFrame) -> DataFrame:
        return part.groupBy("user_id", "event_type").agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("c").cast("bigint").alias("sum_cents"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )

    snap = run_tmpdir("aggview_")
    write_version(view(e.filter(F.pmod("event_id", F.lit(2)) == 0)), snap)
    stored = read_version(spark, snap)
    delta = view(e.filter(F.pmod("event_id", F.lit(2)) == 1))
    return merge_partial_aggs(
        stored,
        delta,
        key_cols=("user_id", "event_type"),
        add_cols=("n_events", "sum_cents"),
        min_cols=("min_event_id",),
        max_cols=("max_event_id",),
    ).orderBy("user_id", "event_type")


@query(
    "table_profile",
    oracle="""
    WITH c AS (SELECT l_orderkey AS k,
                      CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
                        AS q,
                      CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                           AS BIGINT) AS p,
                      l_returnflag AS f,
                      epoch_us(l_shipdate) AS s
               FROM lineitem),
    a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(COUNT(*) - COUNT(k) AS BIGINT) AS nn_k,
                 CAST(COUNT(DISTINCT k) AS BIGINT) AS nd_k,
                 MIN(k) AS mn_k, MAX(k) AS mx_k,
                 CAST(COUNT(*) - COUNT(q) AS BIGINT) AS nn_q,
                 CAST(COUNT(DISTINCT q) AS BIGINT) AS nd_q,
                 MIN(q) AS mn_q, MAX(q) AS mx_q,
                 CAST(COUNT(*) - COUNT(p) AS BIGINT) AS nn_p,
                 CAST(COUNT(DISTINCT p) AS BIGINT) AS nd_p,
                 MIN(p) AS mn_p, MAX(p) AS mx_p,
                 CAST(COUNT(*) - COUNT(f) AS BIGINT) AS nn_f,
                 CAST(COUNT(DISTINCT f) AS BIGINT) AS nd_f,
                 MIN(f) AS mn_f, MAX(f) AS mx_f,
                 CAST(COUNT(*) - COUNT(s) AS BIGINT) AS nn_s,
                 CAST(COUNT(DISTINCT s) AS BIGINT) AS nd_s,
                 MIN(s) AS mn_s, MAX(s) AS mx_s
          FROM c)
    SELECT * FROM (
      SELECT 'l_orderkey' AS col_name, n_rows, nn_k AS n_nulls,
             nd_k AS n_distinct, CAST(mn_k AS VARCHAR) AS min_val,
             CAST(mx_k AS VARCHAR) AS max_val FROM a
      UNION ALL
      SELECT 'l_quantity_cents', n_rows, nn_q, nd_q,
             CAST(mn_q AS VARCHAR), CAST(mx_q AS VARCHAR) FROM a
      UNION ALL
      SELECT 'l_extendedprice_cents', n_rows, nn_p, nd_p,
             CAST(mn_p AS VARCHAR), CAST(mx_p AS VARCHAR) FROM a
      UNION ALL
      SELECT 'l_returnflag', n_rows, nn_f, nd_f, mn_f, mx_f FROM a
      UNION ALL
      SELECT 'l_shipdate_us', n_rows, nn_s, nd_s,
             CAST(mn_s AS VARCHAR), CAST(mx_s AS VARCHAR) FROM a
    ) ORDER BY col_name
    """,
    doc="EXACT table profiling (the ANALYZE TABLE ... COMPUTE "
    "STATISTICS primitive beside equi_depth_histogram — together "
    "they are the statistics a cost-based optimizer feeds on): per "
    "column n_nulls, exact NDV, min, max over ONE wide aggregate — "
    "Catalyst plans the multiple COUNT(DISTINCT)s via Expand (the "
    "same single-scan expansion ANALYZE uses), so the corpus is "
    "read once. Every value canonicalizes to an exact integer "
    "first (cents for money, epoch micros for timestamps) so min/"
    "max stringify engine-identically — never a double-to-string "
    "boundary. The stats unpivot from the ONE aggregated row at "
    "the end (driver-weight: 5 rows). At 100 TB swap exact NDV for "
    "the HLL sketch family; the exact form is the audit tool.",
)
def table_profile(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.expr("CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "q"
        ),
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        ).alias("p"),
        F.col("l_returnflag").alias("f"),
        # l_shipdate loads as TIMESTAMP_NTZ; the session tz is pinned
        # UTC, so the cast reads the wall time as UTC — exactly
        # DuckDB's epoch_us over the naive parquet timestamp
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("s"),
    )
    names = {
        "k": "l_orderkey",
        "q": "l_quantity_cents",
        "p": "l_extendedprice_cents",
        "f": "l_returnflag",
        "s": "l_shipdate_us",
    }
    # Pass 1 — nulls/min/max in ONE whole-stage hash aggregate. Not
    # 5x countDistinct in the same agg: Spark plans multiple distinct
    # aggregates as an Expand + SORT-based aggregate keyed on every
    # expanded value column (first()-FILTER partials disable hash
    # agg) — measured 9 s vs this form's ~2 s at sf0.1.
    aggs = [F.count("*").cast("bigint").alias("n_rows")]
    for c in ("k", "q", "p", "f", "s"):
        aggs += [
            (F.count("*") - F.count(c)).cast("bigint").alias(f"nn_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        ]
    stack = ", ".join(
        f"'{names[c]}', nn_{c}, mn_{c}, mx_{c}" for c in ("k", "q", "p", "f", "s")
    )
    stats = li.agg(*aggs).selectExpr(
        "n_rows",
        f"stack(5, {stack}) AS (col_name, n_nulls, min_val, max_val)",
    )
    # Pass 2 — exact NDV as the textbook two-phase distinct: explode
    # to (col, value) pairs, map-side-combined distinct, then a
    # 5-group count. Hash aggregates end to end; at 100 TB this is
    # the same shuffle ANALYZE's Expand performs, minus the sort.
    # Values ride TYPED (optimization r12, §2.3 shuffle fewer bytes):
    # four of the five profiled columns are already exact BIGINTs, so
    # a (vl bigint, vs string) pair shuffles 8 fixed bytes instead of
    # a up-to-20-char decimal string — measured 2.4 -> 1.8 s for the
    # NDV pass at sf0.1, identical counts (the long/string split is
    # injective per column by construction; the r11 canonicalization
    # note still holds for the one string column).
    structs = [
        F.struct(
            F.lit(names[c]).alias("col_name"),
            F.col(c).cast("bigint").alias("vl"),
            F.lit(None).cast("string").alias("vs"),
        )
        for c in ("k", "q", "p", "s")
    ]
    structs.append(
        F.struct(
            F.lit(names["f"]).alias("col_name"),
            F.lit(None).cast("bigint").alias("vl"),
            F.col("f").alias("vs"),
        )
    )
    pairs = li.select(F.explode(F.array(*structs)).alias("__e")).select(
        "__e.col_name", "__e.vl", "__e.vs"
    )
    ndv = (
        pairs.filter(F.col("vl").isNotNull() | F.col("vs").isNotNull())
        .distinct()
        .groupBy("col_name")
        .agg(F.count("*").cast("bigint").alias("n_distinct"))
    )
    return (
        stats.join(F.broadcast(ndv), "col_name", "left")
        .select(
            "col_name",
            "n_rows",
            "n_nulls",
            F.coalesce("n_distinct", F.lit(0)).cast("bigint").alias("n_distinct"),
            "min_val",
            "max_val",
        )
        .orderBy("col_name")
    )
