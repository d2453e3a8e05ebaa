"""Query registry part 1 of 12 — registration order preserved.

Split from the former single-module registry; see the package
__init__ for the registry dicts and the @query decorator. Helpers
defined in earlier parts are imported explicitly below.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark_movie_recommender_spark.operators import relational as R
from pyspark_movie_recommender_spark.operators.lineage import ckpt as _ckpt
from pyspark_movie_recommender_spark.queries import query
from pyspark_movie_recommender_spark.sources import load_table

@query(
    "flagship_top_orders_per_customer",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name, o.o_orderkey, o.o_totalprice, o.rnk
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        FROM orders
    ) o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE o.rnk <= 3
    """,
    bench=True,
)
def flagship_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan → window top-k per group → two joins (one broadcast).

    Exercises the reference's whole relational surface in one plan
    (S1 scan, P-class projections, J1/J2 joins, K1 top-k generalized
    per-group — SURVEY.md §7 milestone 0). Scale shape: single shuffle
    on o_custkey for the window (WindowGroupLimit keeps ≤3 rows per
    group per partition before the join), customer joins on the same
    key, nation broadcast.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    top3 = R.top_k_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        group_by=["o_custkey"],
        order_by=[F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
    ).withColumn("rnk", F.col("rnk").cast("long"))

    return (
        top3.join(customer.select("c_custkey", "c_name", "c_nationkey"),
                  top3.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "n_name", "o_orderkey", "o_totalprice", "rnk")
    )


# ---------------------------------------------------------------------------
# relational core — aggregates, filters, joins (SURVEY §2.A parity + §2.B)
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                     AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)             AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                     AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                                AS avg_price,
           ROUND(AVG(l_discount), 4)                                     AS avg_disc,
           CAST(COUNT(*) AS BIGINT)                                      AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    bench=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped groupBy (A1/A2/M1 generalized).

    Scale shape: map-side partial aggregation over 6 groups means the
    shuffle carries ~6 rows per partition no matter the input size; the
    shipdate filter pushes down to the parquet scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "filter_predicates",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IN ('A', 'R')
      AND l_shipdate IS NOT NULL
      AND NOT (l_discount > 0.05 AND l_tax > 0.05)
    """,
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate algebra: BETWEEN, IN, IS NOT NULL, NOT/AND/OR.

    All four predicates are scan-pushable (``PushedFilters`` in explain);
    the reference's only predicate was a closure NOT-IN
    (``recommender.py:146``).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_shipdate").isNotNull()
        & ~((F.col("l_discount") > 0.05) & (F.col("l_tax") > 0.05))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@query(
    "revenue_per_nation",
    oracle="""
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name
    """,
    bench=True,
)
def revenue_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star query (TPC-H Q5-shaped): fact → dims → agg.

    Scale shape: lineitem⋈orders is the only big shuffle (both sides
    keyed on orderkey); customer joins via AQE-chosen strategy; nation
    and region are broadcast (fixed 25/5 rows at any scale factor).
    Aggregation over 25 groups is map-side partial.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "customers_without_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00')
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (generalizes reference F1 NOT-IN to a relation):
    customers with no 1996 order. (Scoped to a year so the result is
    NON-empty at every SF — every customer has some order in this data,
    and a hash match on an empty result proves nothing.)

    The reference shipped a 10-element Python list in a closure
    (``recommender.py:144-146``); the relational form scales to an
    arbitrarily large excluded set and broadcasts when small.
    """
    from pyspark_movie_recommender_spark.operators.relational import anti_join

    customer = load_table(spark, sf_dir, "customer")
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-01-01").cast("timestamp_ntz")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return anti_join(customer, orders, "c_custkey").select("c_custkey", "c_name")


@query(
    "customers_with_urgent_orders",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
)
def customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS) — left columns only, no row multiplication."""
    from pyspark_movie_recommender_spark.operators.relational import semi_join

    customer = load_table(spark, sf_dir, "customer")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return semi_join(customer, urgent, "c_custkey").select("c_custkey", "c_mktsegment")


@query(
    "setop_both_statuses",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def setop_both_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics): customers with both F and O orders."""
    orders = load_table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(o)


@query(
    "setop_never_pending",
    oracle="""
    SELECT o_custkey FROM orders
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
)
def setop_never_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): order-placing customers with no pending order."""
    orders = load_table(spark, sf_dir, "orders")
    all_c = orders.select("o_custkey")
    pend = orders.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    return all_c.subtract(pend)


@query(
    "top_lineitems_global",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 15
    """,
)
def top_lineitems_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (reference K1, ``takeOrdered`` at ``recommender.py:176``).

    Catalyst lowers ORDER BY + LIMIT to ``TakeOrderedAndProject`` —
    per-partition k-heaps merged on the driver, never a full sort.
    """
    from pyspark_movie_recommender_spark.operators.relational import global_top_k

    li = load_table(spark, sf_dir, "lineitem")
    return global_top_k(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        order_by=[F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        k=15,
    )


# ---------------------------------------------------------------------------
# window functions, rollup/cube/grouping sets
# ---------------------------------------------------------------------------


# one SQL text, two engines: the engine's spark.sql entry path is
# exercised with the exact string the DuckDB oracle runs
_Q3_SQL = """
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate,
           o.o_orderpriority
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1997-06-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
"""


@query("sql_shipping_priority", oracle=_Q3_SQL)
def sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped query through the textual SQL entry point: the
    SAME string runs on ``spark.sql`` and on the DuckDB oracle —
    dialect-shared ANSI SQL, parsed by Catalyst into the identical
    join+agg+topk plan the DataFrame API would build."""
    from pyspark_movie_recommender_spark.sources import register_views

    register_views(spark, sf_dir, "lineitem", "orders")
    return spark.sql(_Q3_SQL)


@query(
    "range_frame_trailing_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS day_no,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY datediff('day', DATE '1992-01-01', o_orderdate)
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS spend_30d
    FROM orders
    """,
)
def range_frame_trailing_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based window frame (RANGE, not ROWS): per-customer trailing
    30-day spend. Orders on the same day share a frame — semantics ROWS
    frames cannot express. One shuffle on o_custkey."""
    orders = load_table(spark, sf_dir, "orders")
    day_no = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day_no)
        .rangeBetween(-30, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        day_no.cast("long").alias("day_no"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_30d"),
    )


@query(
    "window_order_history",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(ROW_NUMBER() OVER w AS BIGINT)                   AS rn,
           CAST(RANK() OVER (PARTITION BY o_custkey
                             ORDER BY o_orderstatus) AS BIGINT)  AS status_rank,
           LAG(o_totalprice) OVER w                              AS prev_price,
           LEAD(o_totalprice) OVER w                             AS next_price,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_spend,
           ROUND(AVG(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)     AS mov_avg_3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    bench=True,
)
def window_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function suite: row_number/rank/lag/lead/running/moving agg.

    One shuffle on o_custkey serves every window (same partitioning);
    deterministic total order within partitions via (o_orderdate,
    o_orderkey).
    """
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrank = W.partitionBy("o_custkey").orderBy("o_orderstatus")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(wrank).cast("long").alias("status_rank"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.round(F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, 0)), 2).alias("run_spend"),
        F.round(F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), 4).alias("mov_avg_3"),
    )


@query(
    "rollup_customer_geo",
    oracle="""
    SELECT r.r_name, n.n_name,
           CAST(COUNT(*) AS BIGINT)        AS n_customers,
           ROUND(SUM(c.c_acctbal), 2)      AS total_balance
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup_customer_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
    )


@query(
    "cube_lineitem_flags",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)  AS sum_qty,
           CAST(COUNT(*) AS BIGINT)   AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over the two lineitem flags — all 2^2 grouping combinations."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "grouping_sets_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT)      AS n_orders,
           ROUND(SUM(o_totalprice), 2)   AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface (spark.sql)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT)    AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "count_distinct_per_segment",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
           CAST(COUNT(*) AS BIGINT)                    AS n_customers,
           ROUND(AVG(c_acctbal), 4)                    AS avg_balance
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def count_distinct_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT + plain aggregates in one pass (Expand-based plan)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.avg("c_acctbal"), 4).alias("avg_balance"),
    )


@query("approx_distinct_parts")
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate count-distinct (rows-only: sketch values are
    engine-specific; the scale path for COUNT(DISTINCT) at 100 TB)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.approx_count_distinct("l_suppkey", 0.02).alias("approx_supps"),
    )


# ---------------------------------------------------------------------------
# scalar function library: string / date / math / JSON
# ---------------------------------------------------------------------------


@query(
    "scalar_string_math_part",
    oracle="""
    SELECT p_partkey,
           UPPER(p_type)                              AS type_upper,
           SUBSTRING(p_name, 1, 5)                    AS name_prefix,
           p_brand || '/' || p_type                   AS brand_type,
           CAST(LENGTH(p_name) AS BIGINT)             AS name_len,
           REPLACE(p_name, ' ', '_')                  AS name_snake,
           REGEXP_EXTRACT(p_name, '^(\\w+)', 1)       AS first_word,
           ROUND(SQRT(p_retailprice), 4)              AS price_sqrt,
           ROUND(LN(p_retailprice + 1), 4)            AS price_ln,
           CAST(ABS(p_size - 25) AS INT)              AS size_dev,
           CAST(p_size % 7 AS INT)                    AS size_mod,
           CASE WHEN p_retailprice > 1500 THEN 'premium'
                WHEN p_retailprice > 800  THEN 'standard'
                ELSE 'budget' END                     AS price_band
    FROM part
    """,
)
def scalar_string_math_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function battery: string/regex/math/CASE — all codegen'd."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_type").alias("type_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").cast("long").alias("name_len"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.round(F.sqrt("p_retailprice"), 4).alias("price_sqrt"),
        F.round(F.log(F.col("p_retailprice") + 1), 4).alias("price_ln"),
        F.abs(F.col("p_size") - 25).cast("int").alias("size_dev"),
        (F.col("p_size") % 7).cast("int").alias("size_mod"),
        F.when(F.col("p_retailprice") > 1500, "premium")
        .when(F.col("p_retailprice") > 800, "standard")
        .otherwise("budget")
        .alias("price_band"),
    )


@query(
    "date_functions_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT)        AS order_year,
           CAST(MONTH(o_orderdate) AS INT)       AS order_month,
           CAST(DAY(o_orderdate) AS INT)         AS order_day,
           CAST(QUARTER(o_orderdate) AS INT)     AS order_quarter,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
           o_orderdate + INTERVAL 30 DAY         AS due_ts,
           LAST_DAY(CAST(o_orderdate AS DATE))   AS month_end,
           CAST(DATE_DIFF('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT)
                                                 AS days_since_epoch95
    FROM orders
    """,
)
def date_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function battery over the orders timeline.

    Recovers the kind of temporal attribute the reference silently
    discarded (ratings timestamp, ``recommender.py:44``).
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("int").alias("order_day"),
        F.quarter("o_orderdate").cast("int").alias("order_quarter"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_ts"),
        F.last_day("o_orderdate").alias("month_end"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("long")
        .alias("days_since_epoch95"),
    )


@query(
    "json_extract_events",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the events.props payload column."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.filter(F.col("event_type").isin("purchase", "signup")).select(
        "event_id",
        "event_type",
        k.alias("k_val"),
        (k % 10).alias("k_bucket"),
    )


# ---------------------------------------------------------------------------
# time-series over events: tumbling/sliding windows, sessionization, as-of,
# range join — the batch-mode equivalents of the streaming surface
# ---------------------------------------------------------------------------


@query(
    "tumbling_window_events",
    oracle="""
    SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT)  AS n_events,
           ROUND(SUM(value), 2)      AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    bench=True,
)
def tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation via ``F.window`` (batch mode).

    Identical code runs under Structured Streaming (see
    ``streaming/jobs.py``); in batch the window struct is just a
    derived grouping column — partial-aggregated map-side.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "sliding_window_events",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '30 minutes', ts)
                - k.k * INTERVAL '30 minutes' AS TIMESTAMP) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(AVG(value), 6)     AS avg_value
    FROM events, (SELECT UNNEST([0, 1]) AS k) k
    GROUP BY 1
    """,
)
def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h window, 30 min slide): each event lands in 2 windows.

    ``F.window(ts, '1 hour', '30 minutes')`` expands rows engine-side;
    the oracle reproduces the same assignment with an UNNEST offset join.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_events",
            "avg_value",
        )
    )


@query(
    "sessionize_events",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000
                    OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts, event_id,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap sessions via lag + running sum.

    The classic batch pattern (streaming uses ``session_window``, see
    streaming module). One shuffle on user_id; both windows and the
    final groupBy reuse the same partitioning.
    """
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # cast tolerates both TIMESTAMP and TIMESTAMP_NTZ parquet encodings;
    # with the UTC session timezone the NTZ->LTZ cast is wall-clock-identity,
    # matching the oracle's epoch_us over naive timestamps
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    flagged = ev.withColumn(
        "new_session",
        F.when(
            (us - F.lag(us).over(w) > 1800 * 1_000_000) | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("long"),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@query(
    "asof_join_purchases",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           c.value AS last_click_value, c.ts AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    bench=True,
)
def asof_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest click at-or-before each purchase, per user.

    Spark has no native batch as-of join; the scale-correct form is a
    union + single window pass (one shuffle on user_id, no range
    explosion): tag clicks 0 / purchases 1, order by (ts, tag), carry
    ``last(value ignoring nulls)`` forward, keep purchase rows. The
    oracle is DuckDB's native ASOF JOIN. A pandas ``merge_asof`` via
    applyInPandas would be the fallback for semantics Spark can't
    express (see operators/asof.py).
    """
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("event_id"),
        F.col("value").alias("click_value"),
        F.col("ts").alias("click_ts"),
        F.lit(0).alias("tag"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("double").alias("click_value"),
        F.lit(None).cast("timestamp").alias("click_ts"),
        F.lit(1).alias("tag"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    merged = clicks.unionByName(purchases).select(
        "event_id",
        "user_id",
        "ts",
        "tag",
        F.last("click_value", ignorenulls=True).over(w).alias("last_click_value"),
        F.last("click_ts", ignorenulls=True).over(w).alias("last_click_ts"),
    )
    return merged.filter(
        (F.col("tag") == 1) & F.col("last_click_value").isNotNull()
    ).select("event_id", "user_id", "ts", "last_click_value", "last_click_ts")


@query(
    "range_join_value_tiers",
    oracle="""
    SELECT e.event_id, e.value, t.tier
    FROM events e
    JOIN (VALUES (0.0, 50.0, 'low'),
                 (50.0, 150.0, 'mid'),
                 (150.0, 1e12, 'high')) AS t(lo, hi, tier)
      ON e.value >= t.lo AND e.value < t.hi
    """,
)
def range_join_value_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join against a literal tier dimension (S2 source).

    The tiny side is broadcast → BroadcastNestedLoopJoin, which is the
    right physical plan for a 3-row non-equi dimension at any scale.
    ``spark.createDataFrame`` here is the engine's literal-relation
    source (reference ``sc.parallelize``, ``recommender.py:121``).
    """
    ev = load_table(spark, sf_dir, "events")
    tiers = spark.createDataFrame(
        [(0.0, 50.0, "low"), (50.0, 150.0, "mid"), (150.0, 1e12, "high")],
        schema="lo double, hi double, tier string",
    )
    return (
        ev.join(
            F.broadcast(tiers),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .select("event_id", "value", "tier")
    )


# ---------------------------------------------------------------------------
# reference-identity math: RMSE + min-max rescale, both in pure SQL
# ---------------------------------------------------------------------------


@query(
    "rmse_price_model",
    oracle="""
    SELECT ROUND(SQRT(AVG(POW(l.l_extendedprice / l.l_quantity - p.p_retailprice, 2))), 4)
           AS rmse
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def rmse_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RMSE as one aggregate (reference A1+M1, ``recommender.py:73,97``).

    Treats p_retailprice as the 'prediction' for the realized unit
    price — the same actual-vs-predicted join shape as the reference's
    validation step (J1 at ``recommender.py:68``), minus the driver-side
    ``math.sqrt``: the whole metric stays in the plan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    return joined.agg(
        F.round(
            F.sqrt(
                F.avg(
                    F.pow(
                        F.col("l_extendedprice") / F.col("l_quantity") - F.col("p_retailprice"),
                        F.lit(2),
                    )
                )
            ),
            4,
        ).alias("rmse")
    )


@query(
    "minmax_rescale_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           ROUND(1 + 4 * (o_totalprice - mn) / (mx - mn), 6) AS scaled
    FROM orders,
         (SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders)
    """,
)
def minmax_rescale_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max rescale to [1,5] in pure SQL (reference ML5 without UDFs).

    The reference wrapped doubles in 1-d vectors through a Python UDF to
    feed MinMaxScaler (``recommender.py:199-204``); here the global
    min/max is a 1-row aggregate broadcast back via cross join — no
    Python boundary, no VectorUDT, same [1,5] bounds.
    """
    from pyspark_movie_recommender_spark.operators.relational import minmax_rescale

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return minmax_rescale(orders, "o_totalprice", out_col="scaled").withColumn(
        "scaled", F.round("scaled", 6)
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline: deduplication over documents
# ---------------------------------------------------------------------------


@query(
    "dedup_content_hash",
    oracle="""
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id IN (
        SELECT MIN(doc_id)
        FROM documents
        GROUP BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))))
    """,
)
def dedup_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: md5 of normalized text, keep lowest doc_id.

    groupBy(min) not window+row_number — partial aggregation collapses
    duplicate groups map-side before the shuffle, the dominant saving
    when dup rates are high at 100 TB.
    """
    from pyspark_movie_recommender_spark.operators.dedup import content_hash_dedup

    docs = load_table(spark, sf_dir, "documents")
    return content_hash_dedup(docs, "text", "doc_id").select("doc_id", "lang", "source")


@query(
    "dedup_subset_distinct",
    oracle="SELECT DISTINCT lang, source FROM documents",
)
def dedup_subset_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-subset dedup (``dropDuplicates([cols])``)."""
    from pyspark_movie_recommender_spark.operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs.select("lang", "source"), ["lang", "source"])


@query(
    "ngram_jaccard_neardup",
    oracle="""
    WITH sub AS (
        SELECT doc_id, trim(text) AS tx FROM documents WHERE doc_id % 25 = 0
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_filter(
                   list_transform(range(1, greatest(length(tx) - 2, 1) + 1),
                                  i -> substring(tx, CAST(i AS INT), 3)),
                   g -> length(g) > 0)) AS shingles
        FROM sub
    ), nonempty AS (
        SELECT * FROM sh WHERE len(shingles) > 0
    ), ex0 AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM nonempty
    ), keep AS (
        SELECT shingle FROM ex0 GROUP BY shingle HAVING COUNT(*) <= 15
    ), ex AS (
        SELECT ex0.doc_id, ex0.shingle FROM ex0 JOIN keep USING (shingle)
    ), sz AS (
        SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id
    ), shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(n_shared * 1.0 / (sa.sz + sb.sz - n_shared), 6) AS jaccard
    FROM shared
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE n_shared * 1.0 / (sa.sz + sb.sz - n_shared) >= 0.5
    """,
)
def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact character-3-gram Jaccard near-dup pairs (sampled subset)
    with a stop-shingle document-frequency cap.

    Candidate pairs come from an equi-join on shared shingles — never a
    cross join — and the df cap (operators/dedup.py ngram_jaccard_pairs)
    bounds any one shingle's candidate contribution at C(cap, 2), which
    is what keeps the exact form from exploding on boilerplate shingles
    at corpus scale. Full-corpus path is ``dedup_minhash_lsh`` below.
    """
    from pyspark_movie_recommender_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.5, max_shingle_df=15
    )
    return pairs.select(
        F.col("id_a"), F.col("id_b"), F.round("jaccard", 6).alias("jaccard")
    )


# shared by dedup_components (label propagation) and dedup_components_star
# (large-star/small-star): both must equal the declarative fixpoint
_CC_ORACLE = """
    WITH RECURSIVE sub AS (
        SELECT doc_id, trim(text) AS tx FROM documents WHERE doc_id % 25 = 0
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_filter(
                   list_transform(range(1, greatest(length(tx) - 2, 1) + 1),
                                  i -> substring(tx, CAST(i AS INT), 3)),
                   g -> length(g) > 0)) AS shingles
        FROM sub
    ), nonempty AS (
        SELECT * FROM sh WHERE len(shingles) > 0
    ), ex AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM nonempty
    ), shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b
        FROM shared
        JOIN (SELECT doc_id, len(shingles) AS sz FROM nonempty) sa ON sa.doc_id = id_a
        JOIN (SELECT doc_id, len(shingles) AS sz FROM nonempty) sb ON sb.doc_id = id_b
        WHERE n_shared * 1.0 / (sa.sz + sb.sz - n_shared) >= 0.5
    ), bi AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach(id, label) AS (
        SELECT DISTINCT u AS id, u AS label FROM bi
        UNION
        SELECT bi.u, r.label FROM reach r JOIN bi ON bi.v = r.id
    )
    SELECT id, MIN(label) AS component FROM reach GROUP BY id
    """


@query("dedup_components", oracle=_CC_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → clusters: connected components over the exact
    Jaccard pair graph (min-label propagation, one shuffle per round,
    lineage checkpointed). The DuckDB oracle computes the same
    components with a recursive CTE — an iterative distributed
    algorithm checked against a declarative fixpoint."""
    from pyspark_movie_recommender_spark.operators.dedup import ngram_jaccard_pairs
    from pyspark_movie_recommender_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
    return connected_components(pairs)


@query("dedup_components_star", oracle=_CC_ORACLE)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering as ``dedup_components`` but via the alternating
    large-star/small-star contraction (O(log² n) rounds for any graph
    diameter — the 100 TB-safe variant for adversarial chain topologies).
    Checked against the identical recursive-CTE fixpoint oracle, so both
    algorithms are pinned to the same declarative answer."""
    from pyspark_movie_recommender_spark.operators.dedup import ngram_jaccard_pairs
    from pyspark_movie_recommender_spark.operators.graph import (
        connected_components_star,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
    return connected_components_star(pairs)


@query("dedup_minhash_lsh", bench=True)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates — the sub-quadratic scale path
    (rows-only: signature values are engine-specific; planted-duplicate
    recall is unit-tested in tests/test_dedup.py)."""
    from pyspark_movie_recommender_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=32, bands=8, verify_threshold=0.5
    )


@query("dedup_simhash")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, (max_hamming+1)-chunk pigeonhole bucketing
    (rows-only)."""
    from pyspark_movie_recommender_spark.operators.dedup import simhash_neardup_pairs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return simhash_neardup_pairs(docs, "text", "doc_id", max_hamming=8)


# ---------------------------------------------------------------------------
# LLM-data-pipeline: text analysis
# ---------------------------------------------------------------------------


@query(
    "doc_profile",
    oracle="""
    WITH toks AS (
        SELECT doc_id, text,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '\\s+') END AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(length(text) AS BIGINT)  AS n_chars_calc,
           CAST(len(t) AS BIGINT)        AS n_tokens,
           ROUND(CASE WHEN len(t) > 0 THEN
               list_aggregate(list_transform(t, x -> length(x)), 'sum') * 1.0 / len(t)
               END, 4)                   AS avg_token_len,
           ROUND(CASE WHEN len(t) > 0 THEN
               len(list_distinct(t)) * 1.0 / len(t) END, 4) AS ttr,
           ROUND(CASE WHEN len(t) > 0 THEN
               len(list_filter(t, x -> list_contains(['the','a','and','of','to'], x))) * 1.0 / len(t)
               END, 4)                   AS en_stopword_ratio,
           CAST(COALESCE(list_aggregate(
               list_transform(t, x -> CAST(ceil(length(x) / 4.0) AS BIGINT)), 'sum'), 0)
               AS BIGINT)                AS bpe_tokens
    FROM toks
    """,
    bench=True,
)
def doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics in ONE projection pass.

    Token counting, mean token length, type-token ratio, stopword
    ratio, BPE-ish subword count — all higher-order-function SQL over
    the whitespace token array, zero Python. At 100 TB this runs as a
    single scan stage with no shuffle at all.
    """
    from pyspark_movie_recommender_spark.functions import token_count, ws_tokens
    from pyspark_movie_recommender_spark.operators.text import (
        avg_token_len,
        bpe_ish_token_count,
        stopword_ratio,
        type_token_ratio,
    )

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_calc"),
        token_count("text").alias("n_tokens"),
        F.round(avg_token_len("text"), 4).alias("avg_token_len"),
        F.round(type_token_ratio("text"), 4).alias("ttr"),
        F.round(stopword_ratio("text"), 4).alias("en_stopword_ratio"),
        bpe_ish_token_count("text").alias("bpe_tokens"),
    )


@query(
    "salted_join_order_priority",
    oracle="""
    SELECT c.c_mktsegment,
           o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment, o.o_orderpriority
    """,
)
def salted_join_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted fact-dim join; identical results to the
    plain join (the oracle IS the plain join).

    One hot customer key spreads over 16 shuffle sub-keys; the customer
    side is replicated 16x (dimension-sized, so cheap). See
    ``relational.salted_join`` for when to prefer this over AQE skew
    handling.
    """
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "custkey"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = R.salted_join(orders, customer, on="custkey", salt_buckets=16)
    return joined.groupBy("c_mktsegment", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@query(
    "doc_fingerprints",
    bench=True,
    oracle="""
    WITH h AS (
        SELECT doc_id,
               CASE WHEN length(text) >= 8 THEN
                   list_transform(range(1, length(text) - 7 + 1), i ->
                       list_reduce(
                           list_prepend(0, list_transform(range(0, 8), j ->
                               ascii(substring(text, CAST(i + j AS INT), 1)))),
                           (acc, x) -> (acc * 257 + x) % 1000003))
               ELSE CAST([] AS BIGINT[]) END AS hashes
        FROM documents
    ), w AS (
        SELECT doc_id,
               CASE WHEN len(hashes) >= 4 THEN
                   list_transform(range(1, len(hashes) - 3 + 1), j ->
                       list_min(list_slice(hashes, CAST(j AS INT), CAST(j + 3 AS INT))))
               WHEN len(hashes) > 0 THEN [list_min(hashes)]
               ELSE CAST([] AS BIGINT[]) END AS fps0
        FROM h
    ), f AS (
        SELECT doc_id, list_distinct(fps0) AS fps FROM w
    )
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_fp,
           CAST(list_min(fps) AS BIGINT) AS min_fp,
           CAST(list_max(fps) AS BIGINT) AS max_fp
    FROM f
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints per document (SURVEY.md §2.B
    text analysis: document fingerprinting).

    Same polynomial-hash + window-min arithmetic on both engines (Arrow/
    NumPy on the Spark side, list lambdas in DuckDB), so the oracle
    checks exact values, not just shapes. Pure map-side projection — no
    shuffle, scales linearly with corpus bytes.
    """
    from pyspark_movie_recommender_spark.operators.text import winnowing_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    # two-step projection so the UDF runs once per row, not once per
    # consuming column
    fps = docs.select("doc_id", winnowing_fingerprints("text").alias("fps"))
    return fps.select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fp"),
        F.array_min("fps").cast("long").alias("min_fp"),
        F.array_max("fps").cast("long").alias("max_fp"),
    )


@query(
    "chunk_documents",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '\\s+') END AS t
        FROM documents
    ), base AS (
        SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
    ), chunks AS (
        SELECT doc_id,
               unnest(range(0, CAST(greatest(ceil((n - 64) / 48.0), 0) AS BIGINT) + 1)) AS chunk_idx,
               t
        FROM base
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(len(sl) AS BIGINT) AS n_chunk_tokens,
           array_to_string(sl, ' ') AS chunk_text
    FROM (
        SELECT doc_id, chunk_idx,
               list_slice(t, CAST(chunk_idx * 48 + 1 AS BIGINT),
                             CAST(chunk_idx * 48 + 64 AS BIGINT)) AS sl
        FROM chunks
    )
    """,
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token chunking (64-token windows, stride 48) —
    the pre-packing step of a pretraining pipeline. Map-side explode,
    no shuffle; oracle checks exact chunk text."""
    from pyspark_movie_recommender_spark.operators.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs)


@query(
    "pack_documents",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source AS grp,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
        FROM documents
    )
    SELECT doc_id, grp, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor((SUM(n_tokens) OVER (
                    PARTITION BY grp ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) - n_tokens) / 512) AS BIGINT) AS bin_id
    FROM toks
    """,
)
def pack_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: contiguous greedy fill into 512-token
    bins per source via one window cumsum — deterministic, exact-checked
    bin assignments, single shuffle."""
    from pyspark_movie_recommender_spark.operators.text import pack_documents

    docs = load_table(spark, sf_dir, "documents")
    out = pack_documents(docs)
    return out.select("doc_id", "grp", F.col("n_tokens").cast("long").alias("n_tokens"), "bin_id")


@query(
    "bm25_search",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '\\s+') END AS t
        FROM documents
    ), d AS (
        SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, t FROM toks
    ), stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM d
    ), tf AS (
        SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, dl, unnest(t) AS term FROM d)
        WHERE term IN ('spark', 'vector', 'stream')
        GROUP BY doc_id, dl, term
    ), dft AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term
    )
    SELECT doc_id,
           ROUND(SUM(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
           ), 6) AS bm25
    FROM tf JOIN dft USING (term) CROSS JOIN stats
    GROUP BY doc_id
    """,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for the query terms {spark, vector, stream}
    — the text-analysis capstone, entirely SQL (explode + two small
    aggregates broadcast back), oracle-checked to 6 decimals."""
    from pyspark_movie_recommender_spark.operators.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(docs, ["spark", "vector", "stream"])


@query(
    "language_id_heuristic",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '\\s+') END AS t
        FROM documents
    ), scores AS (
        SELECT doc_id, lang,
           CAST(len(list_filter(t, x -> list_contains(['der','die','das','und','zu'], x))) AS BIGINT) AS de_hits,
           CAST(len(list_filter(t, x -> list_contains(['the','a','and','of','to'], x))) AS BIGINT)    AS en_hits,
           CAST(len(list_filter(t, x -> list_contains(['el','la','de','y','que'], x))) AS BIGINT)     AS es_hits,
           CAST(len(list_filter(t, x -> list_contains(['le','la','de','et','que'], x))) AS BIGINT)    AS fr_hits
        FROM toks
    )
    SELECT doc_id, lang, de_hits, en_hits, es_hits, fr_hits,
           CASE WHEN greatest(de_hits, en_hits, es_hits, fr_hits) = 0 THEN 'und'
                WHEN de_hits >= greatest(en_hits, es_hits, fr_hits) THEN 'de'
                WHEN en_hits >= greatest(es_hits, fr_hits) THEN 'en'
                WHEN es_hits >= fr_hits THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM scores
    """,
)
def language_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: argmax of per-language stopword hits,
    alphabetical tie-break, 'und' when nothing matches."""
    from pyspark_movie_recommender_spark.operators.text import (
        lang_marker_scores,
        predict_lang,
    )

    docs = load_table(spark, sf_dir, "documents")
    scores = lang_marker_scores("text")
    return docs.select(
        "doc_id",
        "lang",
        *[scores[lang].cast("long").alias(f"{lang}_hits") for lang in ("de", "en", "es", "fr")],
        predict_lang("text").alias("pred_lang"),
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline: similarity search over embeddings
# ---------------------------------------------------------------------------


@query(
    "cosine_topk",
    oracle="""
    WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    probes AS (SELECT * FROM s WHERE vec_id < 10),
    scored AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(p.e, c.e), 6) AS sim
        FROM probes p JOIN s c ON c.vec_id <> p.vec_id
    ), ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
        FROM scored
    )
    SELECT probe_id, neighbor_id, sim, rnk FROM ranked WHERE rnk <= 5
    """,
    bench=True,
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbours for 10 probe vectors.

    Brute force done right at scale: probes broadcast, corpus scanned
    once (no corpus shuffle), per-probe heap via rank-limited window.
    Similarity is rounded BEFORE ranking so order is engine-stable.
    """
    from pyspark_movie_recommender_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_bruteforce(
        emb, emb.filter(F.col("vec_id") < 10), k=5
    )


@query(
    "embedding_neardup",
    oracle="""
    WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id % 10 = 0)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.e, b.e), 6) AS cos_sim
    FROM s a JOIN s b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.e, b.e) >= 0.3
    """,
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs on a deterministic subsample.

    The exact all-pairs form is the oracle baseline; the sub-quadratic
    path over the full corpus is ``ann_lsh_pairs`` (rows-only).
    """
    from pyspark_movie_recommender_spark.functions import cosine_sim

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 10 == 0)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("e").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("e").alias("eb"))
    sim = cosine_sim(F.col("ea"), F.col("eb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(sim >= 0.3)
        .select("id_a", "id_b", F.round(sim, 6).alias("cos_sim"))
    )


@query(
    "embedding_norm_stats",
    oracle="""
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 4) AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column aggregate: mean L2 norm per label, all in SQL
    higher-order functions (multimodal ARRAY<FLOAT> as a first-class type)."""
    from pyspark_movie_recommender_spark.functions import vec_norm

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.avg(vec_norm(F.col("embedding").cast("array<double>"))), 4
        ).alias("avg_norm"),
    )


@query("ann_lsh_pairs", bench=True)
def ann_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-dup candidates over the FULL corpus,
    verified with exact cosine on candidates only (rows-only; recall
    vs the exact subset is unit-tested)."""
    from pyspark_movie_recommender_spark.operators.similarity import lsh_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    # Band width is the knob: recall per band is p^width with
    # p = 1 - acos(cos)/pi. n comes from the parquet FOOTERS (a
    # driver-side metadata read), never ``emb.count()`` — a full Spark
    # action at query-CONSTRUCTION time made every plan dump/audit of
    # this query trigger a scan job (round-4 advice).
    #
    # SCALE RULE: band width grows with log2(n) to pin per-band bucket
    # occupancy at ~32 — with FIXED width, occupancy grows with n and
    # within-bucket candidate pairs grow QUADRATICALLY (measured 18.8x
    # time for 10x rows at sf1 before this rule; ~linear after). The
    # formula yields width 6 at sf0.01 (n≈1k — the driver's
    # correctness scale), width 9 at sf0.1 (n≈10k) and width 12 at sf1:
    # in the high-cos near-dup regime LSH is built for (cos>=0.9,
    # p>=0.85 per bit) the wider bands cost little recall (0.85^9 ≈
    # 23% per band → ~88% over 8 bands); in the moderate-cos regime
    # the sf<=0.1 synthetic embeddings actually occupy (max pairwise
    # cos ~0.46, p≈0.65) width 9 deliberately trades recall for
    # bounded compute — candidates are exact-verified either way, so
    # the trade is never correctness, and the recall floor is pinned
    # by tests/test_scale_smoke.py on PLANTED high-cos dups.
    import math

    from pyspark_movie_recommender_spark.sources.tables import table_row_hint

    n = table_row_hint(sf_dir, "embeddings")
    width = max(6, math.ceil(math.log2(max(n, 64) / 32)))
    return lsh_neardup_pairs(
        emb, bits=8 * width, cos_threshold=0.25
    )


@query("ann_ivf_topk")
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN top-k (cell-routed search, rows-only)."""
    from pyspark_movie_recommender_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    # ckpt the 10-row probe set: the search's three Arrow stages are
    # distinct pipeline steps (corpus assign, probe routing, scoring),
    # but the probe relation shouldn't cost a second corpus scan
    return ivf_topk(
        emb, _ckpt(emb.filter(F.col("vec_id") < 10))
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline: multimodal binary columns
# ---------------------------------------------------------------------------


@query(
    "multimodal_payload_stats",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text)                               AS payload_sha256,
           CAST(length(text) % 1024 + 16 AS INT)      AS width,
           CAST(length(text) % 768 + 16 AS INT)       AS height
    FROM documents
    """,
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload column + typed metadata struct, JVM-side stats.

    Exercises the BinaryType plumbing end-to-end (payload bytes, sha256
    content hash, metadata struct fields) with zero Python in the path.
    """
    from pyspark_movie_recommender_spark.operators.multimodal import (
        attach_fake_payload,
        payload_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = payload_stats(attach_fake_payload(docs))
    return media.select(
        "doc_id",
        "n_bytes",
        "payload_sha256",
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
    )


@query(
    "multimodal_decode_features",
    oracle="""
    WITH b AS (
        SELECT doc_id, text,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               hex(encode(text)) AS hx
        FROM documents
    ), nib AS (
        SELECT doc_id,
               (strpos('0123456789ABCDEF', substring(hx, 2 * i - 1, 1)) - 1) // 2
                   AS bin
        FROM (SELECT doc_id, hx,
                     unnest(generate_series(1, CAST(n_bytes AS INTEGER))) AS i
              FROM b)
    ), hist AS (
        SELECT doc_id,
               CAST(COUNT(*) FILTER (WHERE bin = 0) AS BIGINT) AS h0,
               CAST(COUNT(*) FILTER (WHERE bin = 1) AS BIGINT) AS h1,
               CAST(COUNT(*) FILTER (WHERE bin = 2) AS BIGINT) AS h2,
               CAST(COUNT(*) FILTER (WHERE bin = 3) AS BIGINT) AS h3,
               CAST(COUNT(*) FILTER (WHERE bin = 4) AS BIGINT) AS h4,
               CAST(COUNT(*) FILTER (WHERE bin = 5) AS BIGINT) AS h5,
               CAST(COUNT(*) FILTER (WHERE bin = 6) AS BIGINT) AS h6,
               CAST(COUNT(*) FILTER (WHERE bin = 7) AS BIGINT) AS h7
        FROM nib GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_bytes, sha256(b.text) AS content_hash,
           CAST(COALESCE(h.h0, 0) AS BIGINT) AS h0,
           CAST(COALESCE(h.h1, 0) AS BIGINT) AS h1,
           CAST(COALESCE(h.h2, 0) AS BIGINT) AS h2,
           CAST(COALESCE(h.h3, 0) AS BIGINT) AS h3,
           CAST(COALESCE(h.h4, 0) AS BIGINT) AS h4,
           CAST(COALESCE(h.h5, 0) AS BIGINT) AS h5,
           CAST(COALESCE(h.h6, 0) AS BIGINT) AS h6,
           CAST(COALESCE(h.h7, 0) AS BIGINT) AS h7
    FROM b LEFT JOIN hist h ON b.doc_id = h.doc_id
    """,
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode→featurize over binary payloads via
    mapInPandas (operators/multimodal.py): the deterministic fake decode
    is an 8-bin byte histogram (byte >> 5), L1-normalized in float32.

    The registered projection un-normalizes the feature back to exact
    integer bin counts (``round(feature_k * n_bytes)`` — exact because
    float32 relative error << 0.5/count), so the driver's canonicalizer
    sees only hashable scalars AND the query is fully DuckDB-oracle
    checkable (the oracle recomputes the histogram from the hex
    encoding: bin = high_nibble // 2). The raw ``array<float>`` form
    stays covered by tests/test_operators.py."""
    from pyspark_movie_recommender_spark.operators.multimodal import (
        attach_fake_payload,
        decode_and_featurize,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = decode_and_featurize(attach_fake_payload(docs))
    return feats.select(
        "doc_id",
        "n_bytes",
        "content_hash",
        *[
            F.round(F.element_at("feature", k + 1) * F.col("n_bytes"))
            .cast("long")
            .alias(f"h{k}")
            for k in range(8)
        ],
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH vids AS (
        SELECT doc_id, text,
               CAST(length(text) AS BIGINT) * 40 AS duration_ms
        FROM documents WHERE doc_id % 10 = 0 AND length(text) > 0
    )
    SELECT doc_id,
           CAST(i AS BIGINT)          AS frame_idx,
           CAST(i * 1000 AS BIGINT)   AS ts_ms,
           sha256(text || CAST(i AS VARCHAR)) AS frame_sha
    FROM (SELECT doc_id, text,
                 unnest(generate_series(0, (duration_ms - 1) // 1000)) AS i
          FROM vids)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: per-payload frame-index explode driven by
    duration metadata (1 frame/sec), all JVM-side; the codec decode is a
    deterministic 32-byte fake (see operators/multimodal.py
    frame_sample). Oracle re-derives the identical (frame_idx, ts_ms,
    sha) fan-out with a per-row generate_series."""
    from pyspark_movie_recommender_spark.operators.multimodal import (
        attach_fake_video_payload,
        frame_sample,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    frames = frame_sample(attach_fake_video_payload(docs))
    return frames.select(
        "doc_id",
        "frame_idx",
        "ts_ms",
        F.lower(F.hex(F.col("frame_payload"))).alias("frame_sha"),
    )


# ---------------------------------------------------------------------------
# streaming (rows-only: checked for stream/batch equivalence in tests)
# ---------------------------------------------------------------------------


@query("streaming_tumbling_window")
def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window agg driven to completion with
    AvailableNow over the static events parquet; must equal the batch
    ``tumbling_window_events`` result (asserted in tests/test_streaming.py)."""
    from pyspark_movie_recommender_spark.streaming.jobs import tumbling_window_stream

    return tumbling_window_stream(spark, sf_dir, query_name="q_stream_tumbling")


@query("stratified_sample_documents")
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum Bernoulli sampling (``sampleBy`` on lang, seeded):
    the training-data curation primitive for rebalancing a corpus by
    language/source. Sampling is partition-local — no shuffle; rows-only
    check (membership is seed+partitioning dependent by design).

    The lang→fraction policy is a static map (a curation config, like a
    real pipeline's per-source sampling rates) — no driver round-trip to
    enumerate strata; strata absent from the map default to 0.25 via a
    fraction column rather than ``sampleBy``'s dict contract."""
    docs = load_table(spark, sf_dir, "documents")
    policy = {"en": 0.5}  # named strata; everything else defaults
    frac = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in policy.items()],
        F.lit(0.25),
    )
    # Bernoulli per-stratum sample without enumerating strata: keep a row
    # iff a seeded uniform draw (deterministic per row) falls under its
    # stratum's fraction — exactly what sampleBy does per partition, but
    # expressible with a static policy and no collect() job.
    sampled = docs.withColumn("__u", F.rand(seed=7)).filter(F.col("__u") < frac)
    return sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))


@query("streaming_session_window")
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native gap-based session windows on the event stream (append mode
    + watermark: bounded state; sessions emit when the watermark passes
    their close)."""
    from pyspark_movie_recommender_spark.streaming.jobs import session_window_stream

    return session_window_stream(spark, sf_dir, query_name="q_stream_sessions")


@query("streaming_dedup_watermark")
def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup with bounded state
    (``dropDuplicatesWithinWatermark`` on event_id)."""
    from pyspark_movie_recommender_spark.streaming.jobs import (
        dedup_within_watermark_stream,
    )

    return dedup_within_watermark_stream(spark, sf_dir, query_name="q_stream_dedup")


@query("streaming_running_user_totals")
def streaming_running_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming on the built-in aggregation (update mode):
    running per-user totals, state ∝ |users| not |events|."""
    from pyspark_movie_recommender_spark.streaming.jobs import (
        running_user_totals_stream,
    )

    return running_user_totals_stream(spark, sf_dir, query_name="q_stream_totals")


@query("streaming_enrich_join")
def streaming_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: events micro-batches enriched with the
    broadcast customer dim, aggregated per market segment (rows-only;
    stream≡batch equivalence in tests/test_streaming.py)."""
    from pyspark_movie_recommender_spark.streaming.jobs import enrich_join_stream

    return enrich_join_stream(spark, sf_dir, query_name="q_stream_enrich")


# ---------------------------------------------------------------------------
# ALS recommendation (the reference's identity — rows-only, ml-vs-mllib
# initialization differs; metric bands tested in tests/test_recommend.py)
# ---------------------------------------------------------------------------


@query("als_recommend_parts")
def als_recommend_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit-feedback ALS over order history: top-5 part
    recommendations per customer (reference ML1/ML2 on the driver's
    star schema: quantity-weighted purchases as ratings).
    """
    from pyspark_movie_recommender_spark.recommend import recommend_parts_for_customers

    return recommend_parts_for_customers(spark, sf_dir)


# ---------------------------------------------------------------------------
# join-type completion: outer/cross; pivot/unpivot; subqueries
# ---------------------------------------------------------------------------


@query(
    "left_join_order_fill",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           CAST(COALESCE(l.n_items, 0) AS BIGINT) AS n_items,
           ROUND(COALESCE(l.qty, 0.0), 2)         AS qty
    FROM orders o
    LEFT JOIN (
        SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items, SUM(l_quantity) AS qty
        FROM lineitem GROUP BY l_orderkey
    ) l ON o.o_orderkey = l.l_orderkey
    """,
)
def left_join_order_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with NULL-fill — orders with no lineitems keep 0s.

    Aggregate-below-join: lineitem collapses to one row per orderkey
    BEFORE the join, so the join input is minimal (at 100 TB the
    difference between joining 6B rows and 1.5B rows).
    """
    orders = load_table(spark, sf_dir, "orders")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_items"), F.sum("l_quantity").alias("qty"))
    )
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.coalesce("n_items", F.lit(0)).cast("long").alias("n_items"),
            F.round(F.coalesce("qty", F.lit(0.0)), 2).alias("qty"),
        )
    )


@query(
    "full_outer_daily_activity",
    oracle="""
    SELECT COALESCE(s.d, p.d) AS day,
           CAST(COALESCE(s.n, 0) AS BIGINT) AS n_signups,
           CAST(COALESCE(p.n, 0) AS BIGINT) AS n_purchases
    FROM (SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS d, COUNT(*) AS n
          FROM events WHERE event_type = 'signup' GROUP BY 1) s
    FULL OUTER JOIN
         (SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS d, COUNT(*) AS n
          FROM events WHERE event_type = 'purchase' GROUP BY 1) p
      ON s.d = p.d
    """,
)
def full_outer_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two daily aggregates with COALESCE fill."""
    ev = load_table(spark, sf_dir, "events")

    def daily(kind):
        return (
            ev.filter(F.col("event_type") == kind)
            .groupBy(F.date_trunc("day", "ts").alias("d"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    s, p = daily("signup"), daily("purchase")
    return (
        s.withColumnRenamed("n", "ns")
        .join(p.withColumnRenamed("n", "np"), on=s["d"] == p["d"], how="full_outer")
        .select(
            F.coalesce(s["d"], p["d"]).alias("day"),
            F.coalesce("ns", F.lit(0)).cast("long").alias("n_signups"),
            F.coalesce("np", F.lit(0)).cast("long").alias("n_purchases"),
        )
    )


@query(
    "cross_join_region_status",
    oracle="""
    SELECT r.r_name, s.o_orderstatus,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_orders
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    LEFT JOIN (
        SELECT r2.r_name AS rn, o.o_orderstatus AS st, COUNT(*) AS n
        FROM orders o
        JOIN customer c2 ON o.o_custkey = c2.c_custkey
        JOIN nation n2   ON c2.c_nationkey = n2.n_nationkey
        JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
        GROUP BY 1, 2
    ) c ON c.rn = r.r_name AND c.st = s.o_orderstatus
    """,
)
def cross_join_region_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS JOIN scaffold (dense region x status grid) + left-join fill —
    the standard dense-report shape where missing combos must show 0."""
    region = load_table(spark, sf_dir, "region")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    statuses = orders.select("o_orderstatus").distinct()
    grid = region.select("r_name").crossJoin(statuses)
    counts = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("rn"), F.col("o_orderstatus").alias("st"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        grid.join(
            counts,
            (grid.r_name == counts.rn) & (grid.o_orderstatus == counts.st),
            "left",
        )
        .select(
            "r_name",
            "o_orderstatus",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_orders"),
        )
    )


@query(
    "pivot_priority_status",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS status_O,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS status_F,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS status_P
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts by priority x status (explicit value list, so
    the plan is a single pass — no distinct-values pre-query)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).cast("long").alias("status_O"),
            F.coalesce("F", F.lit(0)).cast("long").alias("status_F"),
            F.coalesce("P", F.lit(0)).cast("long").alias("status_P"),
        )
    )


@query(
    "unpivot_customer_measures",
    oracle="""
    SELECT c_custkey, 'acctbal' AS measure, c_acctbal AS val FROM customer
    UNION ALL
    SELECT c_custkey, 'nationkey' AS measure, CAST(c_nationkey AS DOUBLE) AS val
    FROM customer
    """,
)
def unpivot_customer_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt wide measures to long (DataFrame.unpivot, Spark 3.4+)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey", "c_acctbal", F.col("c_nationkey").cast("double").alias("nationkey")
    ).withColumnRenamed("c_acctbal", "acctbal").unpivot(
        ["c_custkey"], ["acctbal", "nationkey"], "measure", "val"
    )


@query(
    "correlated_above_avg_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice > (
        SELECT AVG(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """,
)
def correlated_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — Catalyst decorrelates it into an
    aggregate + join (RewriteCorrelatedScalarSubquery), the plan you'd
    write by hand."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_corr")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM orders_corr o
        WHERE o.o_totalprice > (
            SELECT AVG(o2.o_totalprice) FROM orders_corr o2
            WHERE o2.o_custkey = o.o_custkey)
        """
    )


# ---------------------------------------------------------------------------
# complex types: arrays, maps, structs, higher-order functions
# ---------------------------------------------------------------------------


@query(
    "explode_name_words",
    oracle="""
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands
    FROM (SELECT p_partkey, p_brand, unnest(string_split(p_name, ' ')) AS word
          FROM part)
    WHERE length(word) > 0
    GROUP BY word
    """,
)
def explode_name_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY explode → re-aggregate (the genres-explode pattern the
    reference dropped at parse time, SURVEY.md §1.2)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select("p_partkey", "p_brand", F.explode(F.split("p_name", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.countDistinct("p_brand").alias("n_brands"),
        )
    )


@query(
    "higher_order_array_math",
    oracle="""
    SELECT p_partkey,
           CAST(list_aggregate(list_transform(range(1, p_size + 1), x -> x * x),
                               'sum') AS BIGINT)  AS sum_squares,
           CAST(len(list_filter(range(1, p_size + 1), x -> x % 3 = 0)) AS BIGINT)
                                                  AS n_div3,
           CAST(list_aggregate(list_transform(range(1, p_size + 1), x -> x), 'max')
                AS BIGINT)                        AS max_elem
    FROM part
    WHERE p_size >= 1
    """,
)
def higher_order_array_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order functions: sequence/transform/filter/aggregate stay
    inside codegen — the engine's no-UDF vector-math substrate."""
    part = load_table(spark, sf_dir, "part")
    seq = F.sequence(F.lit(1), F.col("p_size"))
    return part.filter(F.col("p_size") >= 1).select(
        "p_partkey",
        F.aggregate(
            F.transform(seq, lambda x: x * x),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("sum_squares"),
        F.size(F.filter(seq, lambda x: x % 3 == 0)).cast("long").alias("n_div3"),
        F.array_max(seq).cast("long").alias("max_elem"),
    )


@query(
    "struct_map_access",
    oracle="""
    SELECT doc_id,
           struct_extract({'lang': lang, 'src': source}, 'lang') AS meta_lang,
           map(['lang', 'source'], [lang, source])['source'][1]  AS m_source,
           CAST(length(source) AS INT)                           AS src_len
    FROM documents
    """,
)
def struct_map_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCT construction/field access + MAP build/lookup as columns."""
    docs = load_table(spark, sf_dir, "documents")
    meta = F.struct(F.col("lang"), F.col("source").alias("src"))
    m = F.map_from_arrays(
        F.array(F.lit("lang"), F.lit("source")), F.array("lang", "source")
    )
    return docs.select(
        "doc_id",
        meta.getField("lang").alias("meta_lang"),
        F.element_at(m, "source").alias("m_source"),
        F.length("source").cast("int").alias("src_len"),
    )


@query(
    "window_rank_suite",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(DENSE_RANK() OVER w AS BIGINT)   AS drnk,
           CAST(NTILE(4) OVER w AS BIGINT)       AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6)       AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6)          AS cume,
           FIRST_VALUE(c_custkey) OVER w         AS richest,
           LAST_VALUE(c_custkey) OVER (
               PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS poorest,
           NTH_VALUE(c_custkey, 2) OVER (
               PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family completion: dense_rank/ntile/percent_rank/cume_dist/
    first/last/nth_value, one shuffle on the segment key."""
    from pyspark.sql.window import Window as W

    customer = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return customer.select(
        "c_custkey",
        "c_mktsegment",
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("c_custkey").over(w).alias("richest"),
        F.last("c_custkey").over(wfull).alias("poorest"),
        F.nth_value("c_custkey", 2).over(wfull).alias("second"),
    )


@query(
    "union_all_bag",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'P'
    """,
)
def union_all_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL bag semantics (reference U1, ``recommender.py:122``):
    urgent orders + pending orders, overlap kept twice, no dedup."""
    from pyspark_movie_recommender_spark.operators.relational import union_all

    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderstatus"
    )
    b = orders.filter(F.col("o_orderstatus") == "P").select(
        "o_orderkey", "o_orderstatus"
    )
    return union_all(a, b)


@query(
    "like_filter_parts",
    oracle="""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_name LIKE '%gear%'
       OR p_name LIKE 'red%'
       OR (p_type LIKE '_CONOMY' AND p_brand NOT LIKE '%#1_')
    """,
)
def like_filter_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE pattern predicates: %, _ wildcards, NOT LIKE — all pushable
    as StringContains/StartsWith filters."""
    part = load_table(spark, sf_dir, "part")
    return part.filter(
        F.col("p_name").like("%gear%")
        | F.col("p_name").like("red%")
        | (F.col("p_type").like("_CONOMY") & ~F.col("p_brand").like("%#1_"))
    ).select("p_partkey", "p_name", "p_type")


@query(
    "tfidf_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '\\s+') END AS t
        FROM documents WHERE doc_id % 20 = 0
    ), tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(t) AS term FROM toks)
        GROUP BY doc_id, term
    ), df AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM tf GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM toks)
    SELECT tf.doc_id, tf.term, tf.tf,
           ROUND(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
    FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    """,
)
def tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF in pure SQL (no HashingTF hash collisions): explode terms,
    per-doc tf, per-term df, smoothed idf ln((N+1)/(df+1)).

    Scale shape: two aggregations on naturally-partitionable keys; the
    tiny df relation broadcasts back onto tf. Deterministic (unlike
    HashingTF buckets) and oracle-checkable.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    toks = docs.select("doc_id", F.explode(ws_tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # corpus size as a 1-row broadcast, not a driver-side .count() action —
    # the whole query stays one lazy plan
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )


@query(
    "token_heavy_hitters",
    oracle="""
    WITH toks AS (
        SELECT CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
        FROM documents
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(t) AS token FROM toks)
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
    bench=True,
)
def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 most frequent tokens (exact heavy hitters).

    Scale shape: explode → hash-agg with map-side partial combine (the
    token key space is small relative to occurrences, so partial agg
    collapses most of the volume before the shuffle) → TakeOrdered for
    the top-k. The exact twin of a count-min-sketch heavy-hitters pass;
    ties break on token so the limit is engine-stable.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@query("approx_quantiles_prices")
def approx_quantiles_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (GK sketch) per returnflag — with HLL
    distinct, the approximate-aggregation scale toolkit (rows-only:
    sketch results are engine-specific)."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", [0.25, 0.5, 0.75, 0.99], 10000).alias(
            "q"
        ),
        F.approx_count_distinct("l_partkey").alias("n_parts_approx"),
    )
    # project the sketch's array to scalar columns: the driver's rows-only
    # canonicalizer hashes values and cannot hash list cells (the r1
    # multimodal failure mode)
    return agg.select(
        "l_returnflag",
        F.element_at("q", 1).alias("q25"),
        F.element_at("q", 2).alias("q50"),
        F.element_at("q", 3).alias("q75"),
        F.element_at("q", 4).alias("q99"),
        "n_parts_approx",
    )


# ---------------------------------------------------------------------------
# time-series resampling + distribution analytics
# ---------------------------------------------------------------------------


@query(
    "resample_user_daily",
    oracle="""
    WITH daily AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               ROUND(SUM(value), 6) AS day_value,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ), span AS (
        SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
    ), grid AS (
        SELECT user_id,
               unnest(generate_series(d0, d1, INTERVAL '1 day')) AS day
        FROM span
    )
    SELECT g.user_id, g.day,
           COALESCE(d.day_value, 0) AS day_value,
           COALESCE(d.n_events, 0) AS n_events
    FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
    """,
)
def resample_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily resampling per user: aggregate to a daily grain,
    then regenerate the full min..max day grid per key (`sequence` +
    `explode`) and left-join actuals back, zero-filling silent days.

    The canonical time-series densification op the reference lacks
    (its events are batch rows only — SURVEY §2.B streaming row).
    Scale shape: one shuffle on user_id for the daily agg; span and
    grid reuse that partitioning, so the left join is co-partitioned.
    Grid explosion is bounded by days-in-range, not event count —
    at 100 TB the grid is tiny next to the raw events.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.round(F.sum("value"), 6).alias("day_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    return grid.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.coalesce("day_value", F.lit(0.0)).alias("day_value"),
        F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
    )


@query(
    "exact_percentiles_by_flag",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def exact_percentiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group — the checkable twin of
    `approx_quantiles_prices` (GK sketch, rows-only). Spark `percentile`
    and DuckDB `quantile_cont` share the p*(n-1) linear-interpolation
    definition, so values hash-match.

    Scale note: exact percentile sorts each group's values in memory —
    right for bounded group cardinality; at 100 TB per-group value
    counts in the billions, switch to percentile_approx (same query
    shape, sketch mergeable map-side).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(F.expr(f"percentile(l_extendedprice, {p})"), 4).alias(a)
            for p, a in [(0.25, "p25"), (0.50, "p50"), (0.75, "p75"), (0.99, "p99")]
        ]
    )


@query(
    "histogram_order_totals",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi,
           ROUND(AVG(o_totalprice), 4) AS avg_price
    FROM orders GROUP BY 1
    """,
)
def histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram by arithmetic binning — distribution
    profiling without a sort (contrast K2's global orderBy). FLOOR of
    an IEEE double division is bit-identical across engines, so the
    bucketing is deterministic.

    Scale shape: single hash-agg on a derived low-cardinality key;
    partial aggregation collapses each partition to ≤ n_buckets rows
    before the shuffle — the histogram of 100 TB moves KBs.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / F.lit(25000.0)).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# training-data curation: decontamination, edit-distance dedup, boilerplate
# ---------------------------------------------------------------------------


@query(
    "decontaminate_ngram_overlap",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents WHERE trim(text) <> ''
    ), grams AS (
        SELECT doc_id, array_to_string(t[i : i + 9], ' ') AS gram
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 9)) AS i
              FROM toks WHERE len(t) >= 10)
    ), ev AS (
        SELECT DISTINCT gram FROM grams WHERE doc_id % 25 = 0
    ), tr AS (
        SELECT doc_id, gram FROM grams WHERE doc_id % 25 <> 0
    )
    SELECT tr.doc_id,
           CAST(COUNT(DISTINCT tr.gram) AS BIGINT) AS n_shared_grams,
           MAX(tr.gram) AS sample_gram
    FROM tr JOIN ev ON tr.gram = ev.gram
    GROUP BY tr.doc_id
    """,
    bench=True,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    10-gram with a held-out eval set (doc_id % 25 = 0 stands in for the
    benchmark corpus). The standard pretraining hygiene pass (e.g.
    GPT-3 appendix C / PaLM-style 13-gram overlap), absent from the
    reference, which has no text surface at all.

    Scale shape: eval-set distinct grams are tiny next to the training
    corpus, so the overlap join broadcasts; the training side streams
    through without a shuffle until the final per-doc aggregate. Gram
    explosion is linear in corpus tokens.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    toks = docs.select("doc_id", ws_tokens("text").alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 10 THEN "
                "transform(sequence(1, size(t) - 9),"
                " i -> array_join(slice(t, i, 10), ' ')) "
                "ELSE array() END"
            )
        ).alias("gram"),
    )
    ev = grams.filter(F.col("doc_id") % 25 == 0).select("gram").distinct()
    tr = grams.filter(F.col("doc_id") % 25 != 0)
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.max("gram").alias("sample_gram"),
        )
    )


@query(
    "levenshtein_neardup",
    oracle="""
    SELECT a.doc_id AS left_id, b.doc_id AS right_id,
           CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS BIGINT)
               AS edit_distance
    FROM documents a JOIN documents b
      ON a.lang = b.lang
     AND b.n_chars // 50 BETWEEN a.n_chars // 50 - 1 AND a.n_chars // 50 + 1
     AND a.doc_id < b.doc_id
    WHERE levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 8
    """,
    bench=True,
)
def levenshtein_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup mining with bucket±1 blocking: candidate
    pairs are restricted to the same lang and adjacent length buckets
    before the O(n²) levenshtein runs on 40-char prefixes — the ±1
    expansion recovers pairs straddling a bucket boundary (len 49 vs 51)
    that plain blocking silently drops. Complements the set-based
    near-dup family (MinHash/SimHash/Jaccard) with an order-sensitive
    measure.

    Round 5: routed through ``adaptive_levenshtein_pairs`` — a tiny
    (lang, bucket) census sends each join key to the block join while
    its bucket±1 population stays under the measured crossover
    (a_pop <= 40k) and to the lossless PassJoin segment join beyond it,
    so the block join's within-block quadratic term is BOUNDED by the
    cap instead of growing with the corpus (the former watch item). At
    driver scales every key routes to the block join; the oracle is
    unchanged because routing is an exact partition of the pair set.

    Round 6: the routing decision is sized from parquet FOOTER row
    counts (``table_row_hint``) — corpus <= cap proves no key can be
    oversized, so plan construction runs zero Spark jobs at bench
    scales (the census action only fires on corpora big enough for
    routing to matter).
    """
    from pyspark_movie_recommender_spark.operators.dedup import (
        adaptive_levenshtein_pairs,
    )
    from pyspark_movie_recommender_spark.sources.tables import table_row_hint

    docs = load_table(spark, sf_dir, "documents")
    return adaptive_levenshtein_pairs(
        docs, row_hint=table_row_hint(sf_dir, "documents")
    )


@query(
    "boilerplate_ngram_ratio",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents WHERE trim(text) <> ''
    ), grams AS (
        SELECT doc_id, array_to_string(t[i : i + 2], ' ') AS gram
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
              FROM toks WHERE len(t) >= 3)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct,
           ROUND(1.0 - COUNT(DISTINCT gram) * 1.0 / COUNT(*), 6) AS rep_ratio
    FROM grams GROUP BY doc_id
    """,
)
def boilerplate_ngram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: fraction of repeated 3-grams per document
    (high ratio → templated/spammy text). A standard quality-filter
    signal alongside `doc_profile`'s length/diversity heuristics.

    Scale shape: explode + one hash-agg keyed by doc_id — partial
    aggregation collapses each doc's grams map-side; no join at all.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    toks = docs.select("doc_id", ws_tokens("text").alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 3 THEN "
                "transform(sequence(1, size(t) - 2),"
                " i -> array_join(slice(t, i, 3), ' ')) "
                "ELSE array() END"
            )
        ).alias("gram"),
    )
    return grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("gram").alias("n_distinct"),
        F.round(
            1.0 - F.countDistinct("gram") * 1.0 / F.count(F.lit(1)), 6
        ).alias("rep_ratio"),
    )


# ---------------------------------------------------------------------------
# Python-UDF surface (operators/udf_surface.py) — every sanctioned
# Arrow-batched form registered with a DuckDB oracle: the UDF result must
# equal the declarative SQL it generalizes.
# ---------------------------------------------------------------------------


@query(
    "udaf_gini_per_segment",
    oracle="""
    WITH s AS (
        SELECT c_mktsegment, c_acctbal,
               SUM(c_acctbal) OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY c_acctbal, c_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(c_acctbal) OVER (PARTITION BY c_mktsegment) AS tot,
               COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM customer
    )
    SELECT c_mktsegment,
           ROUND((n + 1 - 2 * SUM(cum / tot)) / n, 6) AS acctbal_gini,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM s GROUP BY c_mktsegment, n
    """,
)
def udaf_gini_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (UDAF): Gini coefficient of account
    balances per market segment — no built-in SQL aggregate computes it,
    the vectorized UDAF does, and the oracle re-derives the same value
    declaratively from a sorted cumulative sum (G = (n+1-2·Σcumᵢ/tot)/n).
    """
    from pyspark_movie_recommender_spark.operators.udf_surface import (
        spend_gini_per_segment,
    )

    customer = load_table(spark, sf_dir, "customer")
    out = spend_gini_per_segment(customer)
    return out.select(
        "c_mktsegment",
        F.round("acctbal_gini", 6).alias("acctbal_gini"),
        F.col("n_customers").cast("long").alias("n_customers"),
    )


@query(
    "udf_zscore_orders",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ROUND(CASE WHEN STDDEV_POP(o_totalprice)
                           OVER (PARTITION BY o_orderpriority) = 0
                      THEN 0.0
                      ELSE (o_totalprice - AVG(o_totalprice)
                                OVER (PARTITION BY o_orderpriority))
                           / STDDEV_POP(o_totalprice)
                                OVER (PARTITION BY o_orderpriority)
                 END, 6) AS zscore
    FROM orders
    """,
)
def udf_zscore_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas per-group standardization (group → pandas frame →
    group): z-score of order totalprice within each order priority. The
    oracle computes the identical population z-score with window
    aggregates — UDF path and declarative path must agree to 6 decimals.
    """
    from pyspark_movie_recommender_spark.operators.udf_surface import zscore_per_group

    orders = load_table(spark, sf_dir, "orders")
    out = zscore_per_group(orders, "o_orderpriority", "o_totalprice")
    return out.select(
        "o_orderkey", "o_orderpriority", F.round("zscore", 6).alias("zscore")
    )


@query(
    "udtf_word_ngrams",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents WHERE doc_id % 5 = 0 AND trim(text) <> ''
    )
    SELECT doc_id, CAST(i - 1 AS INT) AS pos,
           array_to_string(t[i : i + 2], ' ') AS ngram
    FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
          FROM toks WHERE len(t) >= 3)
    """,
)
def udtf_word_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): one document row in → one row per
    word 3-gram out, lateral-joined against the documents scan. The
    oracle derives the same rows with a per-row generate_series."""
    from pyspark_movie_recommender_spark.operators.udf_surface import (
        make_explode_ngrams_udtf,
    )

    udtf_cls = make_explode_ngrams_udtf()
    spark.udtf.register("explode_ngrams", udtf_cls)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    docs.createOrReplaceTempView("udtf_docs_subset")
    return spark.sql(
        """
        SELECT g.doc_id, g.pos, g.ngram
        FROM udtf_docs_subset d,
             LATERAL explode_ngrams(d.doc_id, d.text, 3) g
        """
    )


@query(
    "udf_sigmoid_part_price",
    oracle="""
    SELECT p_partkey,
           ROUND(1.0 / (1.0 + exp(-(p_retailprice - 1500.0) / 250.0)), 6)
               AS price_sigmoid
    FROM part
    """,
)
def udf_sigmoid_part_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF: logistic squash of centred part price — the
    Arrow-batched Series→Series form, checked against the closed-form
    SQL it implements."""
    from pyspark_movie_recommender_spark.operators.udf_surface import sigmoid_scale

    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.round(
            sigmoid_scale((F.col("p_retailprice") - 1500.0) / 250.0), 6
        ).alias("price_sigmoid"),
    )


# ---------------------------------------------------------------------------
# round 2 additions: mergeable sketches, forward-fill densification,
# scalar-subquery + anti-join analytics
# ---------------------------------------------------------------------------


@query(
    "forward_fill_user_value",
    oracle="""
    WITH daily AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               ROUND(AVG(value), 6) AS day_avg
        FROM events GROUP BY 1, 2
    ), span AS (
        SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
    ), grid AS (
        SELECT user_id,
               unnest(generate_series(d0, d1, INTERVAL '1 day')) AS day
        FROM span
    )
    SELECT g.user_id, g.day,
           last_value(d.day_avg IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_avg,
           d.day_avg IS NOT NULL AS observed
    FROM grid g LEFT JOIN daily d
      ON g.user_id = d.user_id AND g.day = d.day
    """,
)
def forward_fill_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill densification: regenerate the per-user daily grid
    (as in ``resample_user_daily``) and carry the LAST OBSERVED daily
    average into silent days — ``last(col, ignorenulls=True)`` over a
    running row frame, the gap-fill semantics zero-fill can't express
    (sensor/price panels, not counters).

    Scale shape: one shuffle on user_id for the daily agg; the span,
    grid join and the fill window all reuse that partitioning, so the
    whole densify+fill pipeline is a single exchange. Grid size is
    bounded by |users|·days, independent of raw event count.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.round(F.avg("value"), 6).alias("day_avg"))
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day"),
    )
    joined = grid.join(daily, ["user_id", "day"], "left")
    fill_w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        F.last("day_avg", ignorenulls=True).over(fill_w).alias("filled_avg"),
        F.col("day_avg").isNotNull().alias("observed"),
    )


@query(
    "global_sales_opportunity",
    oracle="""
    WITH seg AS (
        SELECT * FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
    ), avg_bal AS (
        SELECT AVG(c_acctbal) AS a FROM seg WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM seg c
    WHERE c.c_acctbal > (SELECT a FROM avg_bal)
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderpriority = '1-URGENT'
      )
    GROUP BY c_mktsegment
    """,
)
def global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (ref has no subquery surface at all): customers
    in target segments with above-average positive balance and NO urgent
    order — a global-scalar subquery plus a NOT EXISTS anti-join feeding
    an aggregate.

    Scale shape: the scalar average is one partial-agg job broadcast as
    a literal-like 1-row cross join (no shuffle of the fact side); the
    anti join shuffles only (custkey) pairs; the final agg is a 3-group
    hash agg. Catalyst plans the NOT EXISTS as LeftAnti directly.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    seg = customer.filter(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY")
    )
    avg_bal = seg.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("a")
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        seg.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(urgent, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@query("hll_sketch_rollup")
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — the 100 TB cardinality
    pattern: build one Apache-DataSketches HLL per order priority
    (``hll_sketch_agg``, map-side partial agg), report per-group
    estimates, then UNION THE SKETCHES (``hll_union_agg``) for the
    global estimate instead of rescanning the fact table.

    Mergeability is the point: per-partition/per-day sketches can be
    stored and rolled up later at any grain for free. Rows-only for the
    driver (estimates are sketch-parameter-dependent);
    tests/test_operators.py pins estimates to exact counts within HLL
    error and checks union(sketches) == sketch(union).
    """
    orders = load_table(spark, sf_dir, "orders")
    sketches = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey", 12).alias("sk")
    )
    per_group = sketches.select(
        F.col("o_orderpriority").alias("grain"),
        F.hll_sketch_estimate("sk").alias("approx_customers"),
    )
    merged = sketches.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("ALL").alias("grain"),
        F.hll_sketch_estimate("sk").alias("approx_customers"),
    )
    return per_group.unionByName(merged)


@query(
    "variant_shred_events",
    bench=True,
    oracle="""
    WITH shred AS (
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, value
        FROM events
    )
    SELECT k % 7                      AS k_mod,
           CAST(COUNT(*) AS BIGINT)  AS n_events,
           ROUND(SUM(value), 2)      AS total_value,
           MIN(k)                    AS min_k,
           MAX(k)                    AS max_k
    FROM shred GROUP BY 1
    """,
)
def variant_shred_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics over the VARIANT type (Spark 4,
    SPARK-45827): ``parse_json`` shreds props into the binary variant
    encoding ONCE, then typed ``variant_get`` paths feed grouping and
    aggregation — the open-format answer to JSON-string re-parsing per
    expression (``json_extract_events`` is the string-path twin).

    Scale shape: parse + typed get are map-side scalar expressions in
    whole-stage codegen; the only shuffle is the 7-group hash agg, with
    map-side partial aggregation.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select(k.alias("k"), "value")
        .groupBy((F.col("k") % 7).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "pysource_synthetic_docs",
    oracle="""
    SELECT i                     AS id,
           'doc-' || i           AS title,
           rtrim(repeat(
               ['alpha','beta','gamma','delta','epsilon','zeta','eta','theta']
                   [i % 8 + 1] || ' ',
               i % 5 + 1))       AS body,
           CAST(length(rtrim(repeat(
               ['alpha','beta','gamma','delta','epsilon','zeta','eta','theta']
                   [i % 8 + 1] || ' ',
               i % 5 + 1))) AS INTEGER) AS body_len
    FROM (SELECT unnest(generate_series(0, 1999)) AS i)
    WHERE i % 3 = 0
    """,
)
def pysource_synthetic_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Spark 4 Python DataSource API
    (sources/pydatasource.py): an 8-way partitioned deterministic
    generator scanned like any table; the filter-and-project runs on the
    source's own splits. The oracle replays the generator row function
    in pure SQL, so the connector sits under the same correctness gate
    as the builtin sources."""
    from pyspark_movie_recommender_spark.sources import pydatasource

    pydatasource.register(spark)
    docs = spark.read.format("synthetic_docs").option("numRows", 2000).load()
    return docs.filter(F.col("id") % 3 == 0)


@query(
    "cohort_retention_weekly",
    bench=True,
    oracle="""
    WITH firsts AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY 1
    ), activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
        FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) // 7 AS BIGINT)
               AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week, counted
    in each subsequent activity week — the canonical product-analytics
    rollup (cohort × offset triangle).

    Scale shape: both the first-seen agg and the distinct-activity agg
    shuffle once on user_id; the cohort join is then co-partitioned on
    user_id, and only the final (cohort, offset) agg re-keys — three
    hash aggs, two on the same key. At 100 TB the distinct-activity
    dedup is the volume reducer (events → user-weeks) before any join.
    """
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("active_week")
    ).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.floor(
                    F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
                ).cast("bigint")
            ).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


@query(
    "event_funnel_ordered",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MIN(ts) FILTER (WHERE event_type = 'signup')   AS t_signup,
               MIN(ts) FILTER (WHERE event_type = 'view')     AS t_view,
               MIN(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) FILTER (WHERE t_signup IS NOT NULL) AS BIGINT)
               AS n_signup,
           CAST(COUNT(*) FILTER (WHERE t_signup IS NOT NULL
                                   AND t_view > t_signup) AS BIGINT)
               AS n_signup_view,
           CAST(COUNT(*) FILTER (WHERE t_signup IS NOT NULL
                                   AND t_view > t_signup
                                   AND t_purchase > t_view) AS BIGINT)
               AS n_signup_view_purchase
    FROM per_user
    """,
)
def event_funnel_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users whose FIRST signup precedes their first
    view precedes their first purchase — order-sensitive conversion, not
    mere event presence. One conditional-min aggregation per step, then
    a single global rollup.

    Scale shape: conditional aggregates fold the funnel into one
    user_id-keyed hash agg (map-side partial) — no self-joins, no
    per-step passes over the events table; the classic N-way funnel
    self-join collapses into FILTERed MINs.
    """
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    step1 = F.col("t_signup").isNotNull()
    step2 = step1 & (F.col("t_view") > F.col("t_signup"))
    step3 = step2 & (F.col("t_purchase") > F.col("t_view"))
    return per_user.agg(
        F.count(F.when(step1, 1)).cast("bigint").alias("n_signup"),
        F.count(F.when(step2, 1)).cast("bigint").alias("n_signup_view"),
        F.count(F.when(step3, 1)).cast("bigint").alias("n_signup_view_purchase"),
    )


@query(
    "ordered_status_concat",
    oracle="""
    SELECT o_custkey,
           string_agg(o_orderstatus, ','
                      ORDER BY o_orderdate, o_orderkey) AS status_seq,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
)
def ordered_status_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ordered list aggregation: per-customer order-status
    sequence in (date, key) order. ``collect_list`` alone is
    partition-order-nondeterministic — the engine form collects
    (date, key, status) structs and ``array_sort``s them, making the
    concat reproducible on any partitioning (the property that matters
    for audit/export pipelines).
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("o_orderdate", "o_orderkey", "o_orderstatus")
                    )
                ),
                lambda x: x.o_orderstatus,
            ),
            ",",
        ).alias("status_seq"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )


@query(
    "robust_try_casts",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) FILTER (WHERE TRY_CAST(event_type AS BIGINT) IS NULL)
                AS BIGINT) AS n_uncastable,
           CAST(COUNT(*) FILTER (
                WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0)
                AS BIGINT) AS n_zero_div,
           ROUND(SUM(value / NULLIF(
                CAST(json_extract_string(props, '$.k') AS BIGINT) % 3, 0)), 2)
               AS safe_div_sum
    FROM events GROUP BY event_type
    """,
)
def robust_try_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe ingestion expressions (ANSI mode without the blast
    radius): ``try_cast`` turns malformed casts into NULLs instead of
    failing the job, ``try_divide`` absorbs divide-by-zero — the
    row-level robustness a 100 TB ingest needs, where one bad record
    must not kill a 6-hour job. Failure counts are surfaced as metrics
    rather than exceptions.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.when(F.col("event_type").try_cast("bigint").isNull(), 1))
        .cast("bigint")
        .alias("n_uncastable"),
        F.count(F.when(k % 3 == 0, 1)).cast("bigint").alias("n_zero_div"),
        F.round(F.sum(F.try_divide(F.col("value"), k % 3)), 2).alias(
            "safe_div_sum"
        ),
    )


@query("als_item_neighbors")
def als_item_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item related-parts from ALS item factors: cosine top-k over
    the trained factor matrix via the similarity operator library
    (rows-only: factor values are initialization-dependent; neighbor
    sanity is pinned in tests/test_recommend.py)."""
    from pyspark_movie_recommender_spark.recommend import item_neighbors_from_factors

    return item_neighbors_from_factors(spark, sf_dir)


@query(
    "rolling_median_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(quantile_cont(o_totalprice, 0.5) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 3) AS roll_median
    FROM orders
    """,
)
def rolling_median_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 5-order median spend per customer: an order-statistic
    (not sum/avg) over a moving row frame — robust-trend analytics that
    mean-based frames can't express. ``percentile`` runs as a true
    window aggregate (linear interpolation, matching ``quantile_cont``; rounded to 3
    decimals — even-count frames interpolate to exact .xx5 midpoints,
    where 2-decimal rounding is float-boundary-unstable across engines).

    Scale shape: one exchange on o_custkey; the frame is 5 rows so
    per-row cost is O(frame log frame) with no second shuffle.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-4, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.expr("percentile(o_totalprice, 0.5)").over(w), 3).alias(
            "roll_median"
        ),
    )


# shared-dialect recursive CTE: the SAME string runs on spark.sql and the
# DuckDB oracle (like sql_shipping_priority) — integer division spelled
# CAST(floor(x/10)) so both dialects parse it
_RECURSIVE_CHAIN_SQL = """
    WITH RECURSIVE chain AS (
        SELECT c_custkey AS node,
               CAST(c_custkey AS BIGINT) AS anchor,
               0 AS depth
        FROM customer WHERE c_custkey < 50
        UNION ALL
        SELECT CAST(floor(node / 10) AS BIGINT), anchor, depth + 1
        FROM chain WHERE node > 0
    )
    SELECT anchor,
           CAST(MAX(depth) AS BIGINT) AS chain_len,
           CAST(SUM(node) AS BIGINT)  AS chain_sum
    FROM chain GROUP BY anchor
"""


@query("sql_recursive_chain", oracle=_RECURSIVE_CHAIN_SQL)
def sql_recursive_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4, SPARK-24497): walk each seed customer key
    up its digit-truncation hierarchy (node → node div 10) to the root —
    the BOM-explosion / org-chart traversal shape, expressed in the
    shared ANSI dialect and executed verbatim by BOTH engines.

    Scale shape: Spark plans each recursive step as a UnionLoop over the
    previous iteration's output; depth is bounded by log₁₀(maxkey), and
    each step is a narrow projection — no joins, no widening state.
    """
    for t in ("customer",):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_RECURSIVE_CHAIN_SQL)


@query(
    "pipeline_decl_top_nations",
    oracle="""
    WITH big AS (
        SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 150000
    ), cust AS (
        SELECT c_custkey, c_nationkey FROM customer
    )
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT)      AS n_big_orders,
           ROUND(SUM(b.o_totalprice), 2) AS revenue
    FROM big b
    JOIN cust c ON b.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    LIMIT 10
    """,
)
def pipeline_decl_top_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The declarative pipeline front door (pipeline.py): this exact
    JSON-able spec — two joins, an aggregate, a top-k — interprets into
    ONE lazy Catalyst plan, so pushdown/pruning/broadcast behave as if
    the DataFrame code were hand-written. A spec cannot express a
    collect, a Python UDF, or a driver loop: the whole surface stays on
    the optimizer's side."""
    from pyspark_movie_recommender_spark.pipeline import run_pipeline

    spec = {
        "source": {"table": "orders"},
        "steps": [
            {"op": "filter", "expr": "o_totalprice > 150000"},
            {"op": "select", "cols": ["o_custkey", "o_totalprice"]},
            {
                "op": "join",
                "right": {
                    "source": {"table": "customer"},
                    "steps": [
                        {"op": "select", "cols": ["c_custkey", "c_nationkey"]},
                        {"op": "with_column", "name": "o_custkey",
                         "expr": "c_custkey"},
                        {"op": "select", "cols": ["o_custkey", "c_nationkey"]},
                    ],
                },
                "on": ["o_custkey"],
            },
            {
                "op": "join",
                "right": {
                    "source": {"table": "nation"},
                    "steps": [
                        {"op": "with_column", "name": "c_nationkey",
                         "expr": "n_nationkey"},
                        {"op": "select", "cols": ["c_nationkey", "n_name"]},
                    ],
                },
                "on": ["c_nationkey"],
                "broadcast": True,
            },
            {
                "op": "groupby_agg",
                "keys": ["n_name"],
                "aggs": {
                    "n_big_orders": "cast(count(1) as bigint)",
                    "revenue": "round(sum(o_totalprice), 2)",
                },
            },
            {"op": "orderby", "cols": ["revenue DESC", "n_name"], "limit": 10},
        ],
    }
    return run_pipeline(spark, sf_dir, spec)


@query(
    "custdist_order_counts",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def custdist_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts —
    an aggregate OF an aggregate, with the left join keeping zero-order
    customers in the histogram.

    Scale shape: first agg shuffles on c_custkey (left join is
    co-partitioned with it); second agg is tiny (|distinct counts|).
    COUNT(o_orderkey) — not COUNT(*) — so unmatched customers count 0.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


@query(
    "large_volume_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(l_quantity) > 150
    )
    SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           ROUND(SUM(l.l_quantity), 2) AS total_qty
    FROM orders o
    JOIN big b ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity clears a threshold
    (HAVING over a groupBy), rejoined to customers and line detail for
    the top-100 report.

    Scale shape: the HAVING pre-aggregate runs on l_orderkey FIRST and
    is a semi-join-style reducer — only qualifying orderkeys flow into
    the 3-way join; final TakeOrdered caps the report without a global
    sort.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 150)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        orders.join(big, orders.o_orderkey == big.big_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "regional_supplier_revenue",
    bench=True,
    oracle="""
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    """,
)
def regional_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join with the LOCAL-supplier condition
    (customer and supplier share a nation) and a region filter —
    the join-ordering stress test of the classic suite.

    Scale shape: nation/region/supplier broadcast (small dims); the
    fact-side chain shuffles customer⋈orders on custkey then ⋈lineitem
    on orderkey; the c_nationkey = s_nationkey equality rides the
    supplier join as a second key, never a post-join filter over a
    wider product. Region filter prunes before any fact joins via the
    broadcast dim.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    dims = F.broadcast(
        n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(dims, s.s_nationkey == dims.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "promo_revenue_ratio",
    oracle="""
    SELECT CAST(date_trunc('year', l.l_shipdate) AS DATE) AS ship_year,
           ROUND(100.0 *
               SUM(CASE WHEN p.p_type = 'PROMO'
                        THEN l.l_extendedprice * (1 - l.l_discount)
                        ELSE 0 END)
               / SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
               AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share per ship-year — a
    conditional-aggregate ratio over a fact⋈dim join (CASE inside SUM,
    one pass, no self-join).

    Scale shape: part is the broadcast side; the ratio needs a single
    hash agg on the year key with both sums accumulated together.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.to_date(F.date_trunc("year", F.col("l_shipdate"))).alias("ship_year")
        )
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0))
                / F.sum(rev),
                4,
            ).alias("promo_pct")
        )
    )


@query(
    "map_hof_roundtrip",
    oracle="""
    SELECT user_id, event_type,
           CAST(2 * COUNT(*) AS BIGINT) AS doubled
    FROM events
    GROUP BY user_id, event_type
    """,
)
def map_hof_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column round trip: per-user counts collected into a
    MAP<event_type, n> (``map_from_entries``), transformed value-wise
    with the ``transform_values`` higher-order function, then exploded
    back to rows — construction, HOF update, and flattening of map
    columns, with the declarative groupBy as the oracle.

    Scale shape: one shuffle for the (user, type) agg; the map is built
    per-user from its own rows (collect_list feeds map_from_entries
    within the user_id agg) and never leaves the JVM.
    """
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    maps = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    doubled = maps.select(
        "user_id",
        F.transform_values("m", lambda _, v: v * 2).alias("m2"),
    )
    return doubled.select(
        "user_id", F.explode("m2").alias("event_type", "doubled")
    ).select("user_id", "event_type", F.col("doubled").cast("bigint"))


@query(
    "right_join_nation_suppliers",
    oracle="""
    SELECT n.n_name,
           s.s_suppkey,
           COALESCE(s.s_acctbal, 0.0) AS acctbal
    FROM supplier s RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
    """,
)
def right_join_nation_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: every nation row survives even with no
    suppliers (NULL-filled left side) — the mirror of
    ``left_join_order_fill`` completing the outer-join family.

    Scale shape: Catalyst rewrites right joins as left joins with sides
    swapped, so the small preserved side (nation) broadcasts and the
    fact side never shuffles.
    """
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return s.join(n, s.s_nationkey == n.n_nationkey, "right").select(
        "n_name",
        "s_suppkey",
        F.coalesce(F.col("s_acctbal"), F.lit(0.0)).alias("acctbal"),
    )


@query(
    "profile_orders_columns",
    oracle="""
    SELECT 'o_custkey' AS col,
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT)   AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR)             AS min_v,
           CAST(MAX(o_custkey) AS VARCHAR)             AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           CAST(MIN(o_orderstatus) AS VARCHAR),
           CAST(MAX(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           CAST(MIN(o_totalprice) AS VARCHAR),
           CAST(MAX(o_totalprice) AS VARCHAR)
    FROM orders
    """,
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (deequ-style data quality pass): null count,
    distinct count, min/max per column, computed in ONE scan — all
    per-column aggregates live in the same hash agg, then unpivot to a
    (col, metrics) report. The oracle recomputes column-by-column;
    equality proves the single-pass fusion loses nothing.

    Scale shape: one pass over the fact table, no shuffle beyond the
    global agg (a single reduce row), then a constant-size explode.
    """
    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_totalprice"]
    aggs = []
    for c in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).cast("bigint").alias(f"{c}__null"),
            F.countDistinct(c).cast("bigint").alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = load_table(spark, sf_dir, "orders").agg(*aggs)
    profile = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(f"{c}__null").alias("n_null"),
                        F.col(f"{c}__distinct").alias("n_distinct"),
                        F.col(f"{c}__min").alias("min_v"),
                        F.col(f"{c}__max").alias("max_v"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    )
    return profile.select("p.col", "p.n_null", "p.n_distinct", "p.min_v", "p.max_v")


@query("multimodal_audio_rms")
def multimodal_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality feature extraction: windowed RMS energy over PCM16
    payloads through the Arrow mapInPandas fan-out (rows-only: the
    byte→int16 decode is not SQL-expressible; exactness vs a NumPy
    reference is pinned in tests/test_operators.py)."""
    from pyspark_movie_recommender_spark.operators.multimodal import (
        attach_fake_audio_payload,
        audio_window_rms,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return audio_window_rms(attach_fake_audio_payload(docs))


@query(
    "cross_nation_volume",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS ship_year,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                    * CAST(ROUND((1 - l.l_discount) * 100) AS BIGINT))
                AS BIGINT) AS volume_e4
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    WHERE cn.n_name < sn.n_name
      AND cn.n_regionkey = sn.n_regionkey
    GROUP BY 1, 2, 3
    """,
)
def cross_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: trade volume between DISTINCT nation pairs within
    a region, by ship year — the same dimension table joined twice under
    different roles (customer nation vs supplier nation) with a pair
    ordering predicate to dedup the matrix.

    Scale shape: both nation roles broadcast; the fact chain shuffles
    once per fact join key; the pair predicate rides the broadcast joins
    as a post-condition on tiny dims, never a fact-fact theta join.

    Revenue is fixed-point EXACT: cents x discount-basis-points summed
    as BIGINT (volume_e4 = dollars x 10^4) — float-sum rounding cannot
    diverge across engines/summation orders at any scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cn = F.broadcast(
        n.select(
            F.col("n_nationkey").alias("cnk"),
            F.col("n_name").alias("cust_nation"),
            F.col("n_regionkey").alias("crk"),
        )
    )
    sn = F.broadcast(
        n.select(
            F.col("n_nationkey").alias("snk"),
            F.col("n_name").alias("supp_nation"),
            F.col("n_regionkey").alias("srk"),
        )
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(cn, c.c_nationkey == F.col("cnk"))
        .join(sn, s.s_nationkey == F.col("snk"))
        .filter(
            (F.col("cust_nation") < F.col("supp_nation"))
            & (F.col("crk") == F.col("srk"))
        )
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * F.round((1 - F.col("l_discount")) * 100).cast("long")
            )
            .cast("bigint")
            .alias("volume_e4")
        )
    )


@query(
    "from_json_typed_events",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.missing') AS BIGINT) AS absent
    FROM events WHERE event_type = 'error'
    """,
)
def from_json_typed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing: ``from_json`` with an explicit schema shreds
    props into a struct ONCE (missing fields become typed NULLs), versus
    the per-path ``get_json_object`` twin (``json_extract_events``)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.filter(F.col("event_type") == "error").select(
        "event_id",
        F.from_json("props", "k bigint, missing bigint").alias("p"),
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        F.col("p.missing").alias("absent"),
    )


@query(
    "null_semantics_suite",
    oracle="""
    WITH t AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0 THEN NULL
                    ELSE o_orderpriority END AS p1,
               CASE WHEN o_orderkey % 5 = 0 THEN NULL
                    ELSE o_orderpriority END AS p2
        FROM orders
    )
    SELECT CAST(COUNT(*) FILTER (WHERE p1 = p2) AS BIGINT)
               AS eq_matches,
           CAST(COUNT(*) FILTER (WHERE p1 IS NOT DISTINCT FROM p2) AS BIGINT)
               AS nullsafe_matches,
           CAST(COUNT(*) FILTER (WHERE NULLIF(p1, p2) IS NULL) AS BIGINT)
               AS nullif_nulls,
           CAST(COUNT(COALESCE(p1, p2)) AS BIGINT)
               AS coalesce_nonnull
    FROM t
    """,
)
def null_semantics_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic corner cases, pinned: plain ``=`` drops
    NULL-vs-NULL rows, the null-safe operator (``<=>`` /
    IS NOT DISTINCT FROM) keeps them, NULLIF/COALESCE compose with both.
    Matching counts across engines proves the engine's NULL semantics
    are ANSI, not ad hoc — the class of bug that silently corrupts
    dedup and join results at scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    t = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, None)
        .otherwise(F.col("o_orderpriority"))
        .alias("p1"),
        F.when(F.col("o_orderkey") % 5 == 0, None)
        .otherwise(F.col("o_orderpriority"))
        .alias("p2"),
    )
    return t.agg(
        F.count(F.when(F.col("p1") == F.col("p2"), 1))
        .cast("bigint")
        .alias("eq_matches"),
        F.count(F.when(F.col("p1").eqNullSafe(F.col("p2")), 1))
        .cast("bigint")
        .alias("nullsafe_matches"),
        F.count(F.when(F.nullif(F.col("p1"), F.col("p2")).isNull(), 1))
        .cast("bigint")
        .alias("nullif_nulls"),
        F.count(F.coalesce("p1", "p2")).cast("bigint").alias("coalesce_nonnull"),
    )


@query(
    "collation_lcase_match",
    oracle="""
    SELECT p_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM part
    WHERE lower(p_type) = 'promo'
    GROUP BY p_type
    """,
)
def collation_lcase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware comparison (Spark 4, SPARK-46830): equality under
    the UTF8_LCASE collation matches case-insensitively WITHOUT
    rewriting both sides through lower() — the predicate stays sargable
    and collation becomes a property of the comparison, not the data.
    Oracle expresses the same semantics with lower()."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(
            F.collate(F.col("p_type"), "UTF8_LCASE") == F.lit("PROMO")
        )
        .groupBy("p_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@query(
    "stats_moments_lineitem",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6)       AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           ROUND(stddev_samp(l_extendedprice), 4)            AS price_stddev,
           ROUND(var_samp(l_quantity), 6)                    AS qty_var,
           ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS price_per_qty,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6)    AS fit_r2
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_moments_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family: correlation, sample covariance/
    variance/stddev, and the regr_* least-squares fits — the numeric
    profiling layer over the fact table, one hash agg, all JVM.

    Scale shape: every moment is a streaming aggregate with map-side
    partial state (sums of x, y, x², xy …) — no second pass, no sort.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias(
            "price_per_qty"
        ),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("fit_r2"),
    )


@query(
    "cheapest_supplier_per_part",
    oracle="""
    WITH m AS (
        SELECT l_partkey,
               MIN(struct_pack(
                   unit_price_e4 := CAST(FLOOR(l_extendedprice * 10000
                                               / l_quantity) AS BIGINT),
                   suppkey := l_suppkey)) AS s
        FROM lineitem WHERE l_quantity > 0
        GROUP BY l_partkey
    )
    SELECT l_partkey, s.unit_price_e4 AS unit_price_e4, s.suppkey AS suppkey
    FROM m
    """,
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin-per-group WITHOUT a window sort: the supplier offering the
    lowest observed unit price per part, as ``min(struct(price, supp))``
    — lexicographic struct minimum makes the argmin a plain streaming
    aggregate with a total tie-break, where the naive form (window +
    row_number + filter) would sort every group. Unit price is
    fixed-point (×10⁴, floored) — float division rounds at .xxxx5
    boundaries differently across engines; floor only cliffs at exact
    integers, where binary division is exact.

    Scale shape: one hash agg on l_partkey with map-side partials;
    struct comparison is codegen'd. This is the TPC-H Q2 shape on the
    available schema.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    pair = F.struct(
        F.floor(F.col("l_extendedprice") * 10000 / F.col("l_quantity"))
        .cast("bigint")
        .alias("unit_price_e4"),
        F.col("l_suppkey").alias("suppkey"),
    )
    return (
        li.groupBy("l_partkey")
        .agg(F.min(pair).alias("m"))
        .select(
            "l_partkey",
            F.col("m.unit_price_e4").alias("unit_price_e4"),
            F.col("m.suppkey").alias("suppkey"),
        )
    )


@query(
    "asof_forward_next_purchase",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts,
           p.value AS next_purchase_value,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS secs_to_purchase
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
)
def asof_forward_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each click, the user's EARLIEST purchase
    at-or-after it (time-to-convert) — the mirror of
    ``asof_join_purchases``, via the same union + one-window operator
    with ``direction='forward'`` (first ignorenulls over the following
    frame). Still a single shuffle on user_id, no range explosion;
    oracle is DuckDB's native forward ASOF (``c.ts <= p.ts``).
    """
    from pyspark_movie_recommender_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", F.col("ts").alias("pts")
    )
    joined = asof_join(
        clicks,
        purchases,
        on="ts",
        key="user_id",
        value_cols=["value", "pts"],
        direction="forward",
    )
    return joined.filter(F.col("asof_pts").isNotNull()).select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_value").alias("next_purchase_value"),
        (
            F.col("asof_pts").cast("timestamp_ltz").cast("long")
            - F.col("ts").cast("timestamp_ltz").cast("long")
        ).alias("secs_to_purchase"),
    )


@query("multimodal_image_resize")
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-modality resize: nearest-neighbour 8×8 thumbnails over
    binary payloads through Arrow mapInPandas (rows-only: pixel gather
    is not SQL-expressible; exactness vs a NumPy reference is pinned in
    tests/test_operators.py). Thumb bytes surfaced as a hex digest so
    the projection stays canonicalizer-friendly."""
    from pyspark_movie_recommender_spark.operators.multimodal import (
        attach_fake_payload,
        image_resize_thumbnail,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    thumbs = image_resize_thumbnail(attach_fake_payload(docs))
    return thumbs.select(
        "doc_id",
        "src_w",
        "src_h",
        F.lower(F.hex(F.sha2("thumb", 256))).alias("thumb_sha"),
        "thumb_mean",
    )


@query(
    "decimal_exact_revenue",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS VARCHAR)
               AS exact_revenue,
           CAST(AVG(CAST(o_totalprice AS DECIMAL(18, 2))) AS DECIMAL(18, 4))
               AS avg_revenue
    FROM orders GROUP BY o_orderstatus
    """,
)
def decimal_exact_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact money arithmetic on the DECIMAL type: summing DECIMAL(18,2)
    is integer-exact and summation-order-independent — the engine answer
    to the float-rounding divergences double money math invites (the sum
    is surfaced as VARCHAR so the comparison is digit-exact, no float
    hop anywhere).

    Scale shape: decimal aggregation uses the same partial/final hash
    agg as doubles (Tungsten fixed-size 128-bit representation for
    precision ≤ 38) — exactness costs no extra pass.
    """
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_totalprice").cast("decimal(18,2)")
    return orders.groupBy("o_orderstatus").agg(
        F.sum(d).cast("string").alias("exact_revenue"),
        F.avg(d).cast("decimal(18,4)").alias("avg_revenue"),
    )


@query(
    "timezone_local_rollup",
    oracle="""
    SELECT CAST(timezone('America/New_York', timezone('UTC', ts)) AS DATE)
               AS ny_date,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def timezone_local_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone-aware rollup: UTC event timestamps converted to the
    America/New_York civil clock (``convert_timezone`` → TIMESTAMP_NTZ)
    and grouped by LOCAL date — the daily-report grain users actually
    mean, which UTC-date grouping silently misassigns for evening
    events (UTC-5/-4 with DST handled by the tz database on both
    engines).
    """
    ev = load_table(spark, sf_dir, "events")
    local = F.convert_timezone(
        F.lit("UTC"), F.lit("America/New_York"), F.col("ts")
    )
    return (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date(local).alias("ny_date"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )


@query(
    "explode_outer_pos_semantics",
    oracle="""
    WITH src AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE string_split(c_name, '#') END AS toks
        FROM customer WHERE c_custkey < 200
    )
    SELECT s.c_custkey,
           CAST(u.pos - 1 AS INT) AS pos,
           u.tok
    FROM src s
    LEFT JOIN LATERAL (
        SELECT t.tok, t.pos
        FROM (SELECT unnest(s.toks) AS tok,
                     generate_subscripts(s.toks, 1) AS pos) t
    ) u ON TRUE
    """,
)
def explode_outer_pos_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-preserving positional explode: ``posexplode_outer`` keeps
    rows whose array is NULL (as a (NULL, NULL) element) where plain
    ``explode`` silently drops them — the semantics difference that
    loses records in flatten pipelines. The oracle spells the same
    thing as LEFT JOIN LATERAL unnest WITH ORDINALITY.
    """
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    src = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, None)
        .otherwise(F.split(F.col("c_name"), "#"))
        .alias("toks"),
    )
    return src.select(
        "c_custkey",
        F.posexplode_outer("toks").alias("pos", "tok"),
    )


@query("ml_pipeline_text_classifier")
def ml_pipeline_text_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml.Pipeline estimator/transformer composition: TF-IDF + logistic
    regression recovering each document's dominant token group, reported
    as per-class held-out hit counts (rows-only: model fits are seed/
    initialization dependent; an accuracy floor is pinned in
    tests/test_recommend.py)."""
    from pyspark_movie_recommender_spark.recommend import (
        text_topic_classifier_pipeline,
    )

    return text_topic_classifier_pipeline(spark, sf_dir)


@query(
    "scd2_customer_balances",
    oracle="""
    WITH current AS (
        SELECT c_custkey, c_acctbal, CAST('2024-01-01' AS DATE) AS valid_from
        FROM customer
    ), updates AS (
        SELECT c_custkey, ROUND(c_acctbal * 1.1, 2) AS c_acctbal,
               CAST('2024-06-01' AS DATE) AS valid_from
        FROM customer WHERE c_custkey % 10 = 0
    ), unioned AS (
        SELECT * FROM current UNION ALL SELECT * FROM updates
    )
    SELECT c_custkey, c_acctbal, valid_from,
           COALESCE(LEAD(valid_from) OVER (
               PARTITION BY c_custkey ORDER BY valid_from),
               CAST('9999-12-31' AS DATE)) AS valid_to
    FROM unioned
    """,
)
def scd2_customer_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 fold-in (operators/scd.py): a June balance revision
    for every 10th customer closes the January version (valid_to =
    successor's valid_from) and opens an open-ended new one — the
    dimension-history MERGE expressed as union + one lead() window pass,
    no row-level mutation primitive needed."""
    from pyspark_movie_recommender_spark.operators.scd import scd2_apply

    customer = load_table(spark, sf_dir, "customer")
    current = customer.select(
        "c_custkey",
        "c_acctbal",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit("9999-12-31").cast("date").alias("valid_to"),
    )
    updates = customer.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 1.1, 2).alias("c_acctbal"),
        F.lit("2024-06-01").cast("date").alias("valid_from"),
    )
    return scd2_apply(current, updates, key="c_custkey")


@query(
    "snapshot_diff_customers",
    oracle="""
    WITH old AS (
        SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
        WHERE c_custkey % 13 <> 0
    ), new AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0
                    THEN ROUND(c_acctbal + 100, 2) ELSE c_acctbal END
                   AS c_acctbal,
               c_mktsegment
        FROM customer WHERE c_custkey % 11 <> 0
    )
    SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'added'
                WHEN n.c_custkey IS NULL THEN 'removed'
                WHEN o.c_acctbal = n.c_acctbal
                 AND o.c_mktsegment = n.c_mktsegment THEN 'unchanged'
                ELSE 'changed' END AS diff_status
    FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
    """,
)
def snapshot_diff_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (operators/scd.py): every key classified
    added/removed/changed/unchanged across two table versions via one
    full outer join + null-safe struct compare — the audit pass that
    catches silent drift between pipeline runs."""
    from pyspark_movie_recommender_spark.operators.scd import snapshot_diff

    customer = load_table(spark, sf_dir, "customer")
    old = customer.filter(F.col("c_custkey") % 13 != 0).select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    new = customer.filter(F.col("c_custkey") % 11 != 0).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 7 == 0, F.round(F.col("c_acctbal") + 100, 2)
        )
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        "c_mktsegment",
    )
    return snapshot_diff(old, new, key="c_custkey")


# ---------------------------------------------------------------------------
# corpus quality filtering, inverted index, multi-dim layout, robust stats
# ---------------------------------------------------------------------------


@query(
    "quality_filter_gopher",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents WHERE trim(text) <> ''
    ), tc AS (
        SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY doc_id, tok
    ), per_tok AS (
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_tokens,
               CAST(MAX(cnt) AS BIGINT) AS top_cnt,
               CAST(COALESCE(SUM(cnt) FILTER (WHERE tok IN ('the', 'a')), 0)
                    AS BIGINT) AS stop_cnt
        FROM tc GROUP BY doc_id
    ), bg AS (
        SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              FROM documents WHERE trim(text) <> ''),
             (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
    ), per_bg AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bg,
               CAST(COUNT(DISTINCT bigram) AS BIGINT) AS n_bg_d
        FROM bg GROUP BY doc_id
    )
    SELECT p.doc_id,
           p.n_tokens,
           (1000000 * p.top_cnt) // p.n_tokens AS top_tok_ppm,
           CASE WHEN COALESCE(b.n_bg, 0) = 0 THEN 0
                ELSE (1000000 * (b.n_bg - b.n_bg_d)) // b.n_bg
           END AS dup_bigram_ppm,
           (1000000 * p.stop_cnt) // p.n_tokens AS stop_ppm,
           (p.n_tokens >= 20
            AND (1000000 * p.top_cnt) // p.n_tokens < 150000
            AND CASE WHEN COALESCE(b.n_bg, 0) = 0 THEN 0
                     ELSE (1000000 * (b.n_bg - b.n_bg_d)) // b.n_bg
                END < 600000
            AND (1000000 * p.stop_cnt) // p.n_tokens > 0) AS keep
    FROM per_tok p LEFT JOIN per_bg b ON p.doc_id = b.doc_id
    """,
)
def quality_filter_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality filter (Rae et al. 2021 rules
    adapted to this corpus): per-document token count, most-frequent-token
    ratio, duplicate-bigram ratio, stopword presence, and the resulting
    keep/drop decision.

    All ratios are fixed-point parts-per-million computed with integer
    DIV on BIGINT counts, so the oracle compare never touches a float
    (summation order and round-half behavior can't diverge).

    Scale shape: one tokens explode feeding a two-level hash aggregate
    (map-side partial collapse on (doc_id, token)), one bigram explode
    built JVM-side from the token array (zip_with of two slices — no
    Python), each branch aggregating to one row per doc before the
    final doc-keyed join. Nothing is ever wider than (doc_id, gram);
    at 100 TB both branches are linear scans + hash aggs on the doc_id
    key, and the join is co-partitioned on doc_id by AQE.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    from pyspark_movie_recommender_spark.functions import ws_tokens

    toks = docs.select("doc_id", F.explode(ws_tokens("text")).alias("tok"))
    tc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    per_tok = tc.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.max("cnt").cast("long").alias("top_cnt"),
        F.coalesce(
            F.sum(F.when(F.col("tok").isin("the", "a"), F.col("cnt"))), F.lit(0)
        )
        .cast("long")
        .alias("stop_cnt"),
    )
    with_arr = docs.select("doc_id", ws_tokens("text").alias("t"))
    bg = with_arr.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                F.slice(F.col("t"), 2, F.size("t") - 1),
                lambda x, y: F.concat_ws(" ", x, y),
            )
        ).alias("bigram"),
    )
    per_bg = bg.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bg"),
        F.countDistinct("bigram").cast("long").alias("n_bg_d"),
    )
    j = per_tok.join(per_bg, "doc_id", "left")
    dup_ppm = F.expr(
        "CASE WHEN COALESCE(n_bg, 0) = 0 THEN 0L"
        " ELSE (1000000 * (n_bg - n_bg_d)) DIV n_bg END"
    )
    top_ppm = F.expr("(1000000 * top_cnt) DIV n_tokens")
    stop_ppm = F.expr("(1000000 * stop_cnt) DIV n_tokens")
    return j.select(
        "doc_id",
        "n_tokens",
        top_ppm.alias("top_tok_ppm"),
        dup_ppm.alias("dup_bigram_ppm"),
        stop_ppm.alias("stop_ppm"),
        (
            (F.col("n_tokens") >= 20)
            & (top_ppm < 150000)
            & (dup_ppm < 600000)
            & (stop_ppm > 0)
        ).alias("keep"),
    )


@query(
    "inverted_index_postings",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents WHERE trim(text) <> ''
    ), tc AS (
        SELECT tok, doc_id, COUNT(*) AS cnt FROM toks GROUP BY tok, doc_id
    ), r AS (
        SELECT tok, doc_id, cnt,
               ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
        FROM tc
    )
    SELECT tok AS token,
           CAST(COUNT(*) AS BIGINT) AS doc_freq,
           CAST(SUM(cnt) AS BIGINT) AS total_tf,
           array_to_string(list_sort(list(doc_id) FILTER (WHERE rn <= 20)), ',')
               AS postings
    FROM r GROUP BY tok
    """,
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: token -> document frequency, total
    term frequency, and a capped sorted posting list (first 20 doc_ids,
    serialized as CSV text so the driver's canonicalizer never sees a
    raw array column).

    Scale shape: the explode is map-side; (token, doc_id) tf collapses
    with map-side partial aggregation BEFORE the token shuffle, so the
    shuffle carries one row per distinct (token, doc) — not one per
    occurrence. The posting cap is applied with a row_number window on
    the already-aggregated relation (same token-keyed exchange the final
    agg needs; Catalyst reuses the partitioning), and collect_list only
    ever sees <= 20 ids per token, so no reducer materializes an
    unbounded posting array. Hot tokens (stopword-class df) are the skew
    risk at 100 TB — real engines shard postings positionally; here the
    cap bounds the reducer state instead.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    from pyspark_movie_recommender_spark.functions import ws_tokens

    toks = docs.select("doc_id", F.explode(ws_tokens("text")).alias("tok"))
    tc = toks.groupBy("tok", "doc_id").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("tok").orderBy("doc_id")
    r = tc.withColumn("rn", F.row_number().over(w))
    return r.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("doc_freq"),
        F.sum("cnt").cast("long").alias("total_tf"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("rn") <= 20, F.col("doc_id")))
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    ).withColumnRenamed("tok", "token")


# z-order bit-interleave: same arithmetic generated once for both engines
# (Spark spells shifts as shiftleft/shiftright functions, DuckDB as << >>)
_Z_SPARK = " + ".join(
    f"shiftleft(shiftright(zx, {i}) & 1, {2 * i})"
    f" + shiftleft(shiftright(zy, {i}) & 1, {2 * i + 1})"
    for i in range(8)
)
_Z_DUCK = " + ".join(
    f"(((zx >> {i}) & 1) << {2 * i}) + (((zy >> {i}) & 1) << {2 * i + 1})"
    for i in range(8)
)


@query(
    "zorder_layout_orders",
    oracle=f"""
    WITH keyed AS (
        SELECT o_orderkey,
               o_custkey % 256 AS zx,
               CAST(FLOOR(o_totalprice / 2000) AS BIGINT) % 256 AS zy
        FROM orders WHERE o_orderkey % 37 = 0
    )
    SELECT o_orderkey,
           CAST({_Z_DUCK} AS BIGINT) AS zval,
           CAST(({_Z_DUCK}) // 4096 AS BIGINT) AS ztile
    FROM keyed
    """,
)
def zorder_layout_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over two dimensions — the layout
    primitive behind multi-dimensional data skipping: write the table
    ``repartitionByRange('zval').sortWithinPartitions('zval')`` and
    point-range predicates on EITHER custkey or price bucket prune most
    files, because bit-interleaving keeps both dimensions locally dense
    (each 4096-wide ztile covers a 16x16 (custkey, price) square).

    The interleave is pure integer bit arithmetic generated once and
    shared verbatim with the oracle — map-side, codegen'd, no shuffle at
    all in this projection; at 100 TB the only cost of z-ordering a
    write is the range repartition you were already paying for layout.
    """
    orders = load_table(spark, sf_dir, "orders")
    keyed = orders.filter(F.col("o_orderkey") % 37 == 0).select(
        "o_orderkey",
        (F.col("o_custkey") % 256).alias("zx"),
        (F.floor(F.col("o_totalprice") / 2000).cast("long") % 256).alias("zy"),
    )
    return keyed.select(
        "o_orderkey",
        F.expr(f"CAST({_Z_SPARK} AS BIGINT)").alias("zval"),
        F.expr(f"CAST(({_Z_SPARK}) DIV 4096 AS BIGINT)").alias("ztile"),
    )


@query(
    "winsorized_stats_orders",
    oracle="""
    WITH stats AS (
        SELECT o_orderpriority,
               quantile_cont(o_totalprice, 0.01) AS p01,
               quantile_cont(o_totalprice, 0.99) AS p99
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           ROUND(MAX(s.p01), 2) AS p01,
           ROUND(MAX(s.p99), 2) AS p99,
           ROUND(AVG(LEAST(GREATEST(o.o_totalprice, s.p01), s.p99)), 2)
               AS wins_mean,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o JOIN stats s USING (o_orderpriority)
    GROUP BY o.o_orderpriority
    """,
)
def winsorized_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p01/p99-clipped) mean order value per priority — the
    outlier-robust aggregate a curation pipeline uses where a plain AVG
    is one fat-finger order away from garbage.

    Two-pass shape: pass 1 computes exact interpolated percentiles per
    group (5 groups — the aggregate is a few rows), which broadcast-join
    back onto the fact scan for the clipped second aggregate. At 100 TB
    this is two linear scans with map-side partial aggs and zero
    fact-table shuffles beyond the 5-group hash agg; the exact
    percentile state is per-group-bounded, and for wider group
    cardinalities the GK-sketch twin (approx_quantiles_prices) is the
    drop-in.
    """
    orders = load_table(spark, sf_dir, "orders")
    stats = orders.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.01).alias("p01"),
        F.percentile("o_totalprice", 0.99).alias("p99"),
    )
    j = orders.join(F.broadcast(stats), "o_orderpriority")
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("p01")), F.col("p99"))
    return j.groupBy("o_orderpriority").agg(
        F.round(F.max("p01"), 2).alias("p01"),
        F.round(F.max("p99"), 2).alias("p99"),
        F.round(F.avg(clipped), 2).alias("wins_mean"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )


@query(
    "deterministic_hash_split",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, lang,
               ((doc_id * 2654435761) % 4294967296) % 100 AS bucket
        FROM documents
    )
    SELECT lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM assigned GROUP BY lang, split
    """,
)
def deterministic_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment via multiplicative
    (Knuth) hashing on the stable document id — the splitter a training
    pipeline needs: reproducible across runs/engines (no rand()), stable
    under corpus growth (a doc never changes split), and exactly
    oracle-checkable because the hash is plain BIGINT arithmetic shared
    with the SQL form.

    Scale shape: the assignment is a map-side projection (no shuffle);
    the summary agg is a tiny hash aggregate. Splitting a 100 TB corpus
    is therefore a pure scan — and since the split is a deterministic
    function of doc_id, downstream stages recompute it for free instead
    of joining a split-assignment table.
    """
    docs = load_table(spark, sf_dir, "documents")
    assigned = docs.select(
        "doc_id",
        "lang",
        (((F.col("doc_id") * 2654435761) % 4294967296) % 100).alias("bucket"),
    )
    return (
        assigned.select(
            "lang",
            F.when(F.col("bucket") < 80, "train")
            .when(F.col("bucket") < 90, "val")
            .otherwise("test")
            .alias("split"),
            "doc_id",
        )
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
        )
    )


@query(
    "pit_join_orders_scd2",
    oracle="""
    WITH current AS (
        SELECT c_custkey, c_acctbal,
               CAST('1995-01-01' AS DATE) AS valid_from
        FROM customer
    ), updates AS (
        SELECT c_custkey, ROUND(c_acctbal * 1.05, 2) AS c_acctbal,
               CAST('1998-01-01' AS DATE) AS valid_from
        FROM customer WHERE c_custkey % 3 = 0
    ), unioned AS (
        SELECT * FROM current UNION ALL SELECT * FROM updates
    ), dim AS (
        SELECT c_custkey, c_acctbal, valid_from,
               COALESCE(LEAD(valid_from) OVER (
                   PARTITION BY c_custkey ORDER BY valid_from),
                   CAST('9999-12-31' AS DATE)) AS valid_to
        FROM unioned
    )
    SELECT o.o_orderkey, o.o_custkey, d.c_acctbal AS acctbal_at_order,
           d.valid_from
    FROM orders o JOIN dim d
      ON o.o_custkey = d.c_custkey
     AND o.o_orderdate >= CAST(d.valid_from AS TIMESTAMP)
     AND o.o_orderdate <  CAST(d.valid_to   AS TIMESTAMP)
    """,
)
def pit_join_orders_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: every order picks the SCD2 dimension version
    that was valid on its order date (operators/scd.py builds the
    versioned dim; a 1998 balance revision for every third customer
    means their pre-1998 orders see the old balance, later orders the
    new one).

    Scale shape: the join is equi on c_custkey with a residual range
    predicate on the validity interval — Catalyst plans the equi part
    as the join key (broadcast here; sort-merge on a big dim) and
    evaluates the interval check as a post-join filter, so there is no
    pair explosion: each order meets only its customer's few versions.
    This is the warehouse-correct alternative to joining 'current'
    attributes onto historical facts.
    """
    from pyspark_movie_recommender_spark.operators.scd import scd2_apply

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    current = customer.select(
        "c_custkey",
        "c_acctbal",
        F.lit("1995-01-01").cast("date").alias("valid_from"),
        F.lit("9999-12-31").cast("date").alias("valid_to"),
    )
    updates = customer.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 1.05, 2).alias("c_acctbal"),
        F.lit("1998-01-01").cast("date").alias("valid_from"),
    )
    dim = scd2_apply(current, updates, key="c_custkey")
    return orders.join(
        F.broadcast(dim),
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("o_orderdate") >= F.col("valid_from").cast("timestamp"))
        & (F.col("o_orderdate") < F.col("valid_to").cast("timestamp")),
    ).select(
        "o_orderkey",
        "o_custkey",
        F.col("c_acctbal").alias("acctbal_at_order"),
        "valid_from",
    )


@query(
    "join_key_skew_report",
    oracle="""
    WITH kc AS (
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY o_custkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(MAX(cnt) AS BIGINT) AS max_per_key,
           ROUND(quantile_cont(cnt, 0.50), 4) AS p50_per_key,
           ROUND(quantile_cont(cnt, 0.99), 4) AS p99_per_key,
           (1000000 * MAX(cnt) * COUNT(*)) // SUM(cnt) AS skew_ppm
    FROM kc
    """,
)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the pre-flight report you run before
    shuffling 100 TB on a key — distinct-key count, rows per key at
    p50/p99/max, and a fixed-point skew factor (max over mean, ppm).
    skew_ppm >> 1e6 says the hottest key owns many partitions' worth of
    rows: salt it (salted_join operator) or let AQE split it.

    Scale shape: one map-side-combined count per key, then a single
    global aggregate over the (small) key-count relation; integer
    arithmetic end-to-end except the exact interpolated percentiles,
    which follow the engine-shared interpolation rule.
    """
    orders = load_table(spark, sf_dir, "orders")
    kc = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    return kc.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_per_key"),
        F.round(F.percentile("cnt", 0.50), 4).alias("p50_per_key"),
        F.round(F.percentile("cnt", 0.99), 4).alias("p99_per_key"),
        F.expr("(1000000 * MAX(cnt) * COUNT(*)) DIV SUM(cnt)").alias("skew_ppm"),
    )


@query(
    "incremental_agg_merge",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders GROUP BY 1
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation via mergeable partial state: daily
    (count, sum) partials roll up to monthly totals WITHOUT rescanning
    the facts — the Spark side computes day partials then merges them,
    while the oracle aggregates the raw table directly; equality proves
    the merge is exact. Money is fixed-point BIGINT cents
    (floor(x*100+0.5)) so partial-order never perturbs a float.

    Scale shape: this is the nightly-pipeline pattern — store day-grain
    partials (365 rows/yr per group instead of billions of facts) and
    answer any coarser grain by summing them. Both aggs are map-side
    partial hash aggregates; the second one runs on day-cardinality
    input, i.e. effectively free.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(cents).cast("long").alias("sum_cents"),
    )
    return daily.groupBy(
        F.date_trunc("month", "day").cast("date").alias("month")
    ).agg(
        F.sum("cnt").cast("long").alias("n_orders"),
        F.sum("sum_cents").cast("long").alias("revenue_cents"),
    )


@query(
    "zscore_window_orders",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ROUND((o_totalprice - AVG(o_totalprice) OVER w)
                 / stddev_samp(o_totalprice) OVER w, 4) AS z
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority)
    """,
)
def zscore_window_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization in pure SQL — the
    oracle-checkable twin of the applyInPandas z-score in
    operators/udf_surface.py (same math, zero Python): every order's
    total price standardized against its priority class.

    Scale shape: one exchange on the group key; both window aggregates
    (mean, sample stddev) share the same unbounded frame so Spark
    computes them in a single window pass. No Python worker — compare
    the UDF twin, which pays Arrow serde for identical output.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(
            (F.col("o_totalprice") - F.avg("o_totalprice").over(w))
            / F.stddev_samp("o_totalprice").over(w),
            4,
        ).alias("z"),
    )


@query(
    "sparse_count_cosine_pairs",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents WHERE trim(text) <> ''
    ), tc AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks GROUP BY doc_id, tok
    ), norms AS (
        SELECT doc_id, CAST(SUM(cnt * cnt) AS BIGINT) AS nrm
        FROM tc GROUP BY doc_id
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS num
        FROM tc a JOIN tc b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b, p.num,
           (1000000 * p.num * p.num) // (na.nrm * nb.nrm) AS cos2_ppm
    FROM pairs p
    JOIN norms na ON na.doc_id = p.doc_a
    JOIN norms nb ON nb.doc_id = p.doc_b
    WHERE 1000000 * p.num * p.num >= 980100 * na.nrm * nb.nrm
    """,
)
def sparse_count_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse cosine similarity through the inverted index: documents as
    term-count vectors, pair numerators accumulated by joining postings
    on the shared token, threshold cos >= 0.99 applied as the integer
    inequality 1e6*num^2 >= 980100*|a|^2*|b|^2 — every quantity is a
    BIGINT, so the pair set and the reported cos^2 (ppm) are bit-exact
    across engines with no float rounding anywhere.

    Scale shape: the classic sparse all-pairs problem. The token join
    runs on the aggregated (doc, token, tf) relation — one row per
    distinct term per doc, not per occurrence — and hot tokens are THE
    quadratic risk exactly as in ngram_jaccard_pairs; at corpus scale
    apply the same document-frequency cap / prefix-filtering (Bayardo
    et al.) before the self-join. Norms broadcast back onto the
    surviving pairs only.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    from pyspark_movie_recommender_spark.functions import ws_tokens

    toks = docs.select("doc_id", F.explode(ws_tokens("text")).alias("tok"))
    tc = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tc = _ckpt(tc)  # shared fan-out relation
    norms = tc.groupBy("doc_id").agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("nrm")
    )
    norms = _ckpt(norms)  # shared fan-out relation
    a = tc.alias("a")
    b = tc.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).cast("long").alias("num"))
    )
    na = norms.select(
        F.col("doc_id").alias("doc_a"), F.col("nrm").alias("nrm_a")
    )
    nb = norms.select(
        F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nrm_b")
    )
    return (
        pairs.join(F.broadcast(na), "doc_a")
        .join(F.broadcast(nb), "doc_b")
        .filter(
            F.lit(1000000) * F.col("num") * F.col("num")
            >= F.lit(980100) * F.col("nrm_a") * F.col("nrm_b")
        )
        .select(
            "doc_a",
            "doc_b",
            "num",
            F.expr("(1000000 * num * num) DIV (nrm_a * nrm_b)").alias(
                "cos2_ppm"
            ),
        )
    )


_LATERAL_TOPK_SQL = """
    SELECT n.n_name, c.c_name, c.c_acctbal
    FROM nation n, LATERAL (
        SELECT c_name, c_acctbal FROM customer
        WHERE c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_name LIMIT 2
    ) c
"""


@query("lateral_topk_per_nation", oracle=_LATERAL_TOPK_SQL)
def lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the
    SQL-standard spelling of per-group top-k, dialect-shared: the SAME
    string runs on spark.sql and the DuckDB oracle.

    Catalyst decorrelates the lateral into the equivalent
    window/group-limit plan rather than re-executing the subquery per
    outer row — so at scale this costs one customer shuffle exactly
    like the flagship row_number() form, while staying the most
    readable spelling for analysts. Exercises DecorrelateInnerQuery
    with LIMIT, a distinct planner path from the scalar-subquery and
    EXISTS shapes already covered.
    """
    from pyspark_movie_recommender_spark.sources import register_views

    register_views(spark, sf_dir, "nation", "customer")
    return spark.sql(_LATERAL_TOPK_SQL)


@query(
    "per_group_hash_sample",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
               ) AS rn
        FROM documents
    )
    SELECT doc_id, lang, n_chars, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3
    """,
)
def per_group_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group k-sampling: rank documents inside each
    language by a multiplicative hash of their stable id and keep the
    first k — a pseudo-random but reproducible, engine-exact sample
    (stratified_sample_documents is the rand()-based rows-only twin;
    this one hash-checks).

    Scale shape: one exchange on the group key; WindowGroupLimit prunes
    to k rows per group per partition BEFORE the shuffle, so sampling a
    100 TB corpus moves k rows per language per input partition, not
    the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        (F.col("doc_id") * 2654435761) % 4294967296, "doc_id"
    )
    return (
        docs.select(
            "doc_id", "lang", "n_chars", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 3)
        .select("doc_id", "lang", "n_chars", F.col("rn").cast("long").alias("rn"))
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over per-user event
    sequences (lag window, total tie-break on event_id) — the
    session-flow / next-action matrix behind funnel diagnostics and
    sequence-model training data.

    Scale shape: one exchange on user_id for the lag, then a tiny
    (|event_type|^2 upper-bounded) hash aggregate with map-side
    partials. The transition relation never materializes wider than
    (prev, next) per event row.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )


@query(
    "table_checksum_orders",
    oracle="""
    WITH h AS (
        SELECT o_orderpriority,
               CAST(concat('0x', substr(md5(
                   CAST(o_orderkey AS VARCHAR) || '|' ||
                   CAST(o_custkey AS VARCHAR) || '|' ||
                   o_orderstatus || '|' ||
                   CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                        AS VARCHAR)
               ), 1, 15)) AS BIGINT) % 1000000007 AS hmod
        FROM orders
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(hmod) % 1000000007 AS BIGINT) AS content_checksum
    FROM h GROUP BY o_orderpriority
    """,
)
def table_checksum_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-group content checksum — the reconciliation
    primitive for verifying a copy/migration/pipeline re-run produced
    byte-identical data without sorting or moving it: md5 each row's
    canonical serialization (floats pre-quantized to BIGINT cents so
    formatting can't diverge), fold a 60-bit prefix into a modular sum.
    Engine-exact: Spark's conv(substr(md5..)) and DuckDB's 0x-cast
    produce the same BIGINT, verified here by the oracle gate itself.

    Scale shape: embarrassingly parallel — map-side hash + modular
    partial sums, one tiny final agg; checksumming 100 TB is a pure
    scan with ~zero shuffle. The modular fold keeps SUM inside BIGINT
    for any row count (each term < 1e9; overflow needs >9e9 rows per
    partial — repartition finer or sum as DECIMAL if a single group
    exceeds that).
    """
    orders = load_table(spark, sf_dir, "orders")
    hmod = (
        F.expr(
            f"CAST(conv(substr(md5(concat_ws('|', CAST(o_orderkey AS STRING),"
            f" CAST(o_custkey AS STRING), o_orderstatus,"
            f" CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS STRING))),"
            f" 1, 15), 16, 10) AS BIGINT) % 1000000007"
        )
    ).alias("hmod")
    return (
        orders.select("o_orderpriority", hmod)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.sum("hmod") % 1000000007).cast("long").alias("content_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# wave 5: classic OLAP suite, part II (Q17/Q19/Q4 shapes)
# ---------------------------------------------------------------------------


@query(
    "small_qty_revenue_brands",
    oracle="""
    WITH pq AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(COUNT(*) AS BIGINT)                        AS n_li
        FROM lineitem GROUP BY l_partkey
    )
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_small,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN pq    ON l.l_partkey = pq.l_partkey
    WHERE p.p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
      AND CAST(l.l_quantity AS BIGINT) * 5 * pq.n_li < pq.sum_qty
    GROUP BY p.p_brand
    """,
)
def small_qty_revenue_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below
    20% of their part's average quantity, per brand — the correlated
    scalar-AVG subquery, written in its decorrelated two-phase form
    (per-part agg, join back, filter).

    Exactness: the fractional-average threshold ``qty < 0.2 * avg`` is
    algebraically rewritten to ``5 * qty * n < sum`` over exact BIGINT
    quantities, so no float average can flip a boundary row between
    engines; money folds to cents BIGINT.

    Scale shape: the per-part pre-agg reduces lineitem to one row per
    part before the join — at 100 TB the brand filter pushes into the
    part scan (broadcast side) and prunes the fact join; the pre-agg
    shuffles (partkey, 2×BIGINT) only. No per-row subquery replay.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    )
    pq = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_li"),
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(pq.withColumnRenamed("l_partkey", "pq_partkey"),
              li.l_partkey == F.col("pq_partkey"))
        .filter(
            F.col("l_quantity").cast("long") * 5 * F.col("n_li")
            < F.col("sum_qty")
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_small"),
            F.sum(cents).cast("long").alias("revenue_cents"),
        )
    )


@query(
    "disjunctive_pushdown_revenue",
    oracle="""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_li,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    GROUP BY p.p_brand
    """,
)
def disjunctive_pushdown_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR of AND-groups mixing part-side and
    lineitem-side predicates — the disjunctive-pushdown stress test.

    Scale shape: Catalyst CNF-converts the disjunction and pushes the
    derivable conjuncts to each scan: part reads only brand IN
    (B1,B2,B3) AND size <= 15 rows; lineitem reads only quantity
    BETWEEN 1 AND 30 rows (PushedFilters on both scans); the residual
    OR evaluates post-join on the pruned product. Part side broadcasts.
    Money in cents BIGINT; quantities exact integers.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5)
         & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10)
           & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
           & q.between(20, 30))
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_li"),
            F.sum(cents).cast("long").alias("revenue_cents"),
        )
    )


@query(
    "late_shipment_priority_counts",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_late_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o.o_orderpriority
    """,
)
def late_shipment_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one lineitem shipped more
    than 60 days after the order date, counted per priority — the
    EXISTS → left-semi-join pattern.

    Scale shape: the semi join on orderkey emits each order at most
    once regardless of how many lineitems qualify (no fan-out, no
    post-join distinct); only (orderkey, shipdate) leaves the lineitem
    scan. One shuffle on orderkey, then a tiny priority agg.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_late_orders"))
    )


# ---------------------------------------------------------------------------
# wave 5: pipeline ops — PII redaction, co-occurrence, data expectations
# ---------------------------------------------------------------------------


@query(
    "pii_redact_documents",
    oracle="""
    WITH seeded AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com now'
                    WHEN doc_id % 11 = 0
                    THEN text || ' call 555-' || CAST(1000 + doc_id % 9000
                         AS VARCHAR) || ' today'
                    ELSE text END AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
               AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '\\b\\d{3}-\\d{4}\\b'))
               AS BIGINT) AS n_phones,
           sha256(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>',
               'g'), '\\b\\d{3}-\\d{4}\\b', '<PHONE>', 'g')) AS redacted_sha
    FROM seeded
    """,
)
def pii_redact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over the corpus: detect + redact email addresses
    and phone-shaped tokens, emitting per-doc match counts and the
    sha256 of the redacted text (so the oracle verifies the EXACT
    redacted bytes, not just counts). Deterministic PII is seeded into
    ~23% of docs first — the synthetic corpus contains none — with the
    seeding expression shared verbatim with the oracle.

    Regexes are written in the RE2 ∩ Java-regex common dialect (char
    classes, \\b, bounded repeats — no lookaround, no backrefs) so one
    pattern string drives both engines.

    Scale shape: pure map-side projection — zero shuffles, zero Python;
    regex eval is JVM codegen. At 100 TB this is scan-bound, exactly
    what a redaction pass should be.
    """
    email_re = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    phone_re = "\\b\\d{3}-\\d{4}\\b"
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"), F.lit(" contact user"),
                F.col("doc_id").cast("string"), F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.col("text"), F.lit(" call 555-"),
                (1000 + F.col("doc_id") % 9000).cast("string"),
                F.lit(" today"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    return seeded.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(email_re), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(phone_re), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.sha2(
            F.regexp_replace(
                F.regexp_replace("t", email_re, "<EMAIL>"),
                phone_re,
                "<PHONE>",
            ),
            256,
        ).alias("redacted_sha"),
    )


@query(
    "market_basket_pairs",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a ASC, part_b ASC
    LIMIT 20
    """,
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top part pairs appearing in the
    same order — the pairwise-support half of frequent-itemset mining
    (enough to seed association rules / complementary-item models).

    Scale shape: the self-join fan-out is bounded by the max basket
    size (≤13 items/order here → ≤78 pairs per order, C(k,2) in
    general), NOT by corpus size — dedup to DISTINCT (order, part)
    first, join on the order key both sides already shuffle on, then a
    map-side-partial count and a global top-20 (TakeOrderedAndProject,
    never a full sort). For pathological mega-baskets add a per-order
    item cap before pairing, same guard as the n-gram DF cap.
    """
    from pyspark_movie_recommender_spark.operators.graph import copurchase_pairs

    li = load_table(spark, sf_dir, "lineitem")
    # round 9: basket census (one fact exchange) replaces the items
    # self-join — see operators/graph.copurchase_pairs
    return (
        copurchase_pairs(li)
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            F.col("c").cast("long").alias("n_orders"),
        )
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


@query(
    "data_expectations_report",
    oracle="""
    SELECT 'orders.rows' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS metric FROM orders
    UNION ALL
    SELECT 'orders.null_custkey',
           CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders.nonpositive_totalprice',
           CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders.dup_orderkey',
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders.orphan_custkey',
           CAST(COUNT(*) AS BIGINT)
    FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem.orphan_orderkey',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    """,
)
def data_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ/Great-Expectations-style constraint audit as ONE query:
    row count, null rate, domain violation, primary-key uniqueness, and
    two referential-integrity orphan checks, emitted as (check_name,
    metric) rows a scheduler can threshold on.

    Scale shape: the four orders-local checks fuse into a single scan's
    aggregates (count/filtered-count/count-distinct share one hash
    agg); each orphan check is a left-anti join that shuffles only the
    key column, with the dimension side broadcast when small. The
    constant-labeled UNION keeps everything in one job — a 100 TB audit
    is two key-projected scans plus one fact scan.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")

    def metric_row(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"),
            F.col("metric").cast("long").alias("metric"),
        )

    local = o.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_ck"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("nonpos"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey"))).alias("dup"),
    )
    local = _ckpt(local)  # shared fan-out relation
    checks = [
        metric_row("orders.rows", local.select(F.col("rows").alias("metric"))),
        metric_row(
            "orders.null_custkey", local.select(F.col("null_ck").alias("metric"))
        ),
        metric_row(
            "orders.nonpositive_totalprice",
            local.select(F.col("nonpos").alias("metric")),
        ),
        metric_row(
            "orders.dup_orderkey", local.select(F.col("dup").alias("metric"))
        ),
        metric_row(
            "orders.orphan_custkey",
            o.join(
                F.broadcast(c.select("c_custkey")),
                o.o_custkey == F.col("c_custkey"),
                "left_anti",
            ).agg(F.count(F.lit(1)).alias("metric")),
        ),
        metric_row(
            "lineitem.orphan_orderkey",
            li.select("l_orderkey")
            .join(
                o.select("o_orderkey"),
                F.col("l_orderkey") == F.col("o_orderkey"),
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("metric")),
        ),
    ]
    out = checks[0]
    for nxt in checks[1:]:
        out = out.unionByName(nxt)
    return out


# ---------------------------------------------------------------------------
# wave 5: robust statistics & smoothing
# ---------------------------------------------------------------------------


@query(
    "mad_outliers_orders",
    oracle="""
    WITH c AS (
        SELECT o_orderpriority,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ), med AS (
        SELECT o_orderpriority, quantile_cont(cents, 0.5) AS med_c
        FROM c GROUP BY o_orderpriority
    ), dev AS (
        SELECT c.o_orderpriority, c.cents, m.med_c,
               abs(c.cents - m.med_c) AS d
        FROM c JOIN med m USING (o_orderpriority)
    ), mad AS (
        SELECT o_orderpriority, quantile_cont(d, 0.5) AS mad_c
        FROM dev GROUP BY o_orderpriority
    )
    SELECT d.o_orderpriority,
           ANY_VALUE(d.med_c)  AS median_cents,
           ANY_VALUE(m.mad_c)  AS mad_cents,
           CAST(COUNT(*) FILTER (WHERE d.d > 3 * m.mad_c) AS BIGINT)
               AS n_outliers
    FROM dev d JOIN mad m USING (o_orderpriority)
    GROUP BY d.o_orderpriority
    """,
)
def mad_outliers_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per group: median + MAD (median absolute
    deviation), flagging rows with |x − med| > 3·MAD — the
    resistant-to-contamination twin of the z-score queries (one wild
    price can't move the threshold the way it moves a stddev).

    Exactness: prices fold to cents BIGINT first; interpolated medians
    land on integers or exact .5 halves (both exactly representable),
    so |x − med| and the 3·MAD comparison are identical IEEE ops on
    both engines — no rounding needed anywhere.

    Scale shape: two grouped exact percentiles (sort-based within each
    priority group) + one re-scan with the 5-row med/mad table
    broadcast back. Exact percentile is the honest expensive part; at
    100 TB swap stage one for approx_percentile with the same query
    body, or keep exact and accept the per-group sort — the threshold
    join stays broadcast either way.
    """
    o = load_table(spark, sf_dir, "orders")
    # materialize the 2-column cents projection once: med, dev, and the
    # final pass all branch from it — unmaterialized, the orders scan
    # executes 4x (med, dev via c, mad via dev, final via dev)
    c = _ckpt(
        o.select(
            "o_orderpriority",
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
        )
    )
    med = c.groupBy("o_orderpriority").agg(
        F.percentile("cents", F.lit(0.5)).alias("med_c")
    )
    dev = c.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        "med_c",
        F.abs(F.col("cents") - F.col("med_c")).alias("d"),
    )
    mad = dev.groupBy("o_orderpriority").agg(
        F.percentile("d", F.lit(0.5)).alias("mad_c")
    )
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.any_value("med_c").alias("median_cents"),
            F.any_value("mad_c").alias("mad_cents"),
            F.count(F.when(F.col("d") > 3 * F.col("mad_c"), 1))
            .cast("long")
            .alias("n_outliers"),
        )
    )


@query(
    "weighted_median_quantity",
    oracle="""
    WITH w AS (
        SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) AS qty,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS wt
        FROM lineitem GROUP BY 1, 2
    ), cum AS (
        SELECT l_returnflag, qty, wt,
               SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY qty
                             ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(wt) OVER (PARTITION BY l_returnflag) AS tot
        FROM w
    )
    SELECT l_returnflag,
           CAST(MIN(qty) AS BIGINT) AS weighted_median_qty,
           CAST(ANY_VALUE(tot) AS BIGINT) AS total_weight_cents
    FROM cum WHERE 2 * cw >= tot
    GROUP BY l_returnflag
    """,
)
def weighted_median_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the smallest quantity at which the running
    revenue weight crosses half the group total — the
    revenue-weighted 'typical order size' (each quantity votes with
    its dollars, not its row count).

    Exactness: weights are cents BIGINT, the crossing test is the
    integer inequality 2·cumw ≥ tot — zero float ops end to end.

    Scale shape: pre-aggregating to (flag, qty) first collapses the
    fact table to ≤ |flags|·|qty| ≈ 150 rows BEFORE the window, so the
    cumulative sort is over a tiny relation — the 100 TB cost is one
    map-side-partial hash agg, not a windowed fact sort.
    """
    li = load_table(spark, sf_dir, "lineitem")
    w = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("wt")
    )
    win = Window.partitionBy("l_returnflag").orderBy("qty")
    cum = w.select(
        "l_returnflag",
        "qty",
        F.sum("wt").over(win.rowsBetween(Window.unboundedPreceding, 0)).alias("cw"),
        F.sum("wt")
        .over(Window.partitionBy("l_returnflag"))
        .alias("tot"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min("qty").cast("long").alias("weighted_median_qty"),
            F.any_value("tot").cast("long").alias("total_weight_cents"),
        )
    )


@query(
    "ewma_user_value",
    oracle="""
    WITH s AS (
        SELECT event_id, user_id, ts, value,
               lag(value, 1) OVER w AS v1,
               lag(value, 2) OVER w AS v2,
               lag(value, 3) OVER w AS v3,
               lag(value, 4) OVER w AS v4,
               lag(value, 5) OVER w AS v5,
               lag(value, 6) OVER w AS v6,
               lag(value, 7) OVER w AS v7
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts,
           value + 0.5 * COALESCE(v1, 0) + 0.25 * COALESCE(v2, 0)
                 + 0.125 * COALESCE(v3, 0) + 0.0625 * COALESCE(v4, 0)
                 + 0.03125 * COALESCE(v5, 0) + 0.015625 * COALESCE(v6, 0)
                 + 0.0078125 * COALESCE(v7, 0) AS ewma8
    FROM s
    """,
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted smoothing of each user's event values —
    the finite-window EWMA (decay ½, depth 8) used for trend features
    and anomaly baselines, as one window pass of explicit lags.

    Exactness: every weight is a power of two, so each multiply is an
    exact IEEE scale and the left-associated addition chain is written
    identically in both dialects — bit-identical doubles with NO
    rounding. (An unbounded recursive EWMA is order-exact too but
    needs a recursive form; depth-8 keeps it a pure window query —
    weight below 2⁻⁸ is under 0.4%.)

    Scale shape: one exchange on user_id, eight lags sharing the same
    sorted frame, map-side everything else — the classic 'feature
    column over a keyed sequence' plan.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.lag("value", k).over(w) for k in range(1, 8)]
    ew = F.col("value")
    for k, lg in enumerate(lags, start=1):
        ew = ew + F.lit(0.5**k) * F.coalesce(lg, F.lit(0.0))
    return e.select("event_id", "user_id", "ts", ew.alias("ewma8"))


# ---------------------------------------------------------------------------
# wave 5: cross-engine-checked UDF + stream-stream join (and batch twin)
# ---------------------------------------------------------------------------


@query(
    "jaro_winkler_name_pairs",
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand
     AND split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
     AND a.p_partkey < b.p_partkey
    WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.84
    """,
)
def jaro_winkler_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy name matching with a VALUE-checked Python UDF:
    Jaro-Winkler similarity over candidate part-name pairs, verified
    against DuckDB's native ``jaro_winkler_similarity`` — the oracle
    gate proves the UDF's doubles match a second independent
    implementation bit-for-bit (pre-round max |Δ| = 0.0 on 80k real
    pairs), which is the strongest check a Python UDF gets anywhere in
    this engine.

    Scale shape: blocking on (brand, name-noun) equality turns the
    quadratic all-pairs into an equi-join whose fan-out is bounded by
    block size — the same guard as the levenshtein and LSH dedups; the
    Arrow-batched UDF runs only on surviving candidates. Entity
    resolution at 100 TB is exactly this: cheap blocking join, then an
    expensive scorer on the shortlist.
    """
    from pyspark_movie_recommender_spark.operators.udf_surface import jaro_winkler

    # evaluate the scorer ONCE per candidate: Catalyst inlines a
    # deterministic UDF into both the filter and the projection that
    # reference it (two ArrowEvalPython stages, the O(len^2) DP run
    # twice per surviving row); the nondeterministic marking only
    # suppresses that duplication — the function itself is pure
    jaro_once = jaro_winkler.asNondeterministic()

    part = load_table(spark, sf_dir, "part")
    a = part.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.col("p_brand").alias("brand"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"),
    )
    b = part.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_brand").alias("brand"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"),
    )
    return (
        a.join(b, ["brand", "noun"])
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("jw_raw", jaro_once(F.col("name_a"), F.col("name_b")))
        .filter(F.col("jw_raw") >= 0.84)
        .select(
            "key_a", "key_b", F.round("jw_raw", 6).alias("jw")
        )
    )


@query(
    "interval_join_view_purchase",
    oracle="""
    SELECT v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.user_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def interval_join_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join: views matched to
    the same user's purchases within the next 30 minutes (conversion
    attribution). Oracle-checkable, so the streaming variant
    (streaming_interval_join) inherits a value-verified plan shape —
    same equality key, same time-range predicate.

    Scale shape: equi-join on user_id with the range condition as a
    residual predicate — one co-partitioned shuffle, no pair explosion
    beyond each user's view×purchase product inside the window.
    """
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")
            ),
        )
        .select(
            "view_id", "purchase_id", "user_id", "view_ts", "purchase_ts",
            "purchase_value",
        )
    )


@query("streaming_interval_join")
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join with dual watermarks (bounded join
    state) — see streaming/jobs.py stream_stream_interval_join. The
    batch twin interval_join_view_purchase carries the DuckDB oracle;
    the stream≡batch equivalence test pins this variant to it."""
    from pyspark_movie_recommender_spark.streaming.jobs import (
        stream_stream_interval_join,
    )

    return stream_stream_interval_join(
        spark, sf_dir, query_name="q_stream_interval_join"
    ).select(
        "view_id", "purchase_id", "user_id", "view_ts", "purchase_ts",
        "purchase_value",
    )


# ---------------------------------------------------------------------------
# wave 6: iterative graph ranking, LM scoring, incremental distinct, shares
# ---------------------------------------------------------------------------


@query(
    "pagerank_trade_graph",
    oracle="""
    WITH fwd AS (
        SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                        's' || CAST(l.l_suppkey AS VARCHAR) AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), edges AS (
        SELECT src, dst FROM fwd
        UNION
        SELECT dst AS src, src AS dst FROM fwd
    ), deg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
    ), n AS (
        SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS cnt FROM edges
    ), it0 AS (
        SELECT src AS node, 1.0 / cnt AS pr FROM deg, n
    ), it1 AS (
        SELECT e.dst AS node,
               0.15 / ANY_VALUE(n.cnt) + 0.85 * SUM(i.pr / d.outdeg) AS pr
        FROM edges e JOIN it0 i ON e.src = i.node
                     JOIN deg d ON d.src = e.src, n
        GROUP BY e.dst
    ), it2 AS (
        SELECT e.dst AS node,
               0.15 / ANY_VALUE(n.cnt) + 0.85 * SUM(i.pr / d.outdeg) AS pr
        FROM edges e JOIN it1 i ON e.src = i.node
                     JOIN deg d ON d.src = e.src, n
        GROUP BY e.dst
    ), it3 AS (
        SELECT e.dst AS node,
               0.15 / ANY_VALUE(n.cnt) + 0.85 * SUM(i.pr / d.outdeg) AS pr
        FROM edges e JOIN it2 i ON e.src = i.node
                     JOIN deg d ON d.src = e.src, n
        GROUP BY e.dst
    ), it4 AS (
        SELECT e.dst AS node,
               0.15 / ANY_VALUE(n.cnt) + 0.85 * SUM(i.pr / d.outdeg) AS pr
        FROM edges e JOIN it3 i ON e.src = i.node
                     JOIN deg d ON d.src = e.src, n
        GROUP BY e.dst
    ), it5 AS (
        SELECT e.dst AS node,
               0.15 / ANY_VALUE(n.cnt) + 0.85 * SUM(i.pr / d.outdeg) AS pr
        FROM edges e JOIN it4 i ON e.src = i.node
                     JOIN deg d ON d.src = e.src, n
        GROUP BY e.dst
    )
    SELECT node, ROUND(pr, 6) AS pr FROM it5
    """,
)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 5 synchronous iterations) over the
    bidirected customer↔supplier trade graph — iterative graph ranking
    as a driver-side DataFrame loop, oracle-checked against the same
    five iterations unrolled as chained CTEs in DuckDB.

    Bidirecting the bipartite edge set removes dangling nodes, so no
    global dangling-mass redistribution term is needed and each
    iteration is exactly: pr' = 0.15/N + 0.85·Σ_in pr/outdeg. Engines
    sum incoming mass in different orders, so ranks are rounded to 6
    decimals (drift after 5 iterations ≪ 1e-12).

    Scale shape: each iteration is one join on src (ranks are a narrow
    (node, pr) relation against the persisted contribution table) + one
    hash agg on dst — the standard Pregel-as-joins form. Dedup happens
    on INTEGER key pairs before any string node-id exists (longs
    shuffle ~3× cheaper than strings), and bidirecting after the dedup
    needs no second distinct (the two directions are disjoint by
    construction). Each round ends in a ckpt lineage truncation, so round k+1's
    plan starts from materialized ranks instead of re-optimizing k
    chained shuffles (26 s → ~13 s at sf0.1); swap for reliable
    checkpoint(dir) on a real cluster, as in connected_components.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    fwd = pairs.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    # c→s and s→c namespaces are disjoint: union IS the distinct edge set
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    from pyspark_movie_recommender_spark.operators.cache import track

    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("outdeg"))
    # the (src, dst, outdeg) contribution relation feeds EVERY round:
    # tracked-persist it so the fact join + dedup + degree agg run
    # once, not 5× (cache.release_all() drains the blocks).
    contrib_src = track(edges.join(deg, "src"))
    n_nodes = deg.count()  # driver-side scalar (like ALS's RMSE), one tiny job
    ranks = deg.select("src", F.lit(1.0 / n_nodes).alias("pr"))
    for _ in range(5):
        ranks = (
            contrib_src.join(ranks, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    F.lit(0.15 / n_nodes)
                    + 0.85 * F.sum(F.col("pr") / F.col("outdeg"))
                ).alias("pr")
            )
            .withColumnRenamed("node", "src")
            .transform(_ckpt)
        )
    return ranks.select(F.col("src").alias("node"), F.round("pr", 6).alias("pr"))


@query(
    "unigram_logprob_quality",
    bench=True,
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents WHERE trim(text) <> ''
    ), lm AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY w
    ), tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM lm
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(-ln(CAST(lm.cnt AS DOUBLE) / CAST(tot.n AS DOUBLE))), 6)
               AS avg_neg_logprob
    FROM tok t JOIN lm ON t.w = lm.w, tot
    GROUP BY t.doc_id
    """,
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring with the corpus's own unigram LM:
    each document's mean token surprisal −ln p(w) — the (cheap,
    self-supervised) stand-in for perplexity-based corpus filtering;
    low-surprisal docs are boilerplate-ish, high-surprisal docs are
    noise. Extends the rule-based quality family (gopher filter,
    doc_profile) with a statistical scorer.

    Scale shape: the LM is a token→count table built by one explode +
    hash agg (vocab-sized, broadcast back onto the token stream); the
    per-doc score is a second hash agg on doc_id. Two shuffles total,
    both over narrow rows; every expression is JVM-side. Both branches
    re-derive the token stream map-side from the pruned parquet scan —
    deliberately NOT materialized (see the in-body policy note).
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    # Round 9: REVERTED the round-8 token-array ckpt back to recompute.
    # Measured at both scales in flat windows: the ckpt wins only in an
    # ISOLATED sf0.1 run (0.69x); in-suite at sf0.1 (the driver's shape)
    # it reads ~1.1x — the materialized uncompressed arrays compete with
    # every other query's storage blocks — and at sf1 recompute wins
    # (0.93x). Policy (guide §5, applied engine-wide): materialize only
    # cardinality-REDUCED relations or fact-sized streams with >=3
    # consumers; a 2-consumer token stream re-derives map-side from the
    # pruned, compressed parquet scan, which only gets cheaper at scale.
    toks = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), "\\s+").alias("t")
    )
    tok = toks.select("doc_id", F.explode("t").alias("w"))
    lm = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    total = lm.agg(F.sum("cnt").cast("long").alias("n"))
    return (
        tok.join(F.broadcast(lm), "w")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(
                F.avg(
                    -F.log(
                        F.col("cnt").cast("double") / F.col("n").cast("double")
                    )
                ),
                6,
            ).alias("avg_neg_logprob"),
        )
    )


@query(
    "cumulative_distinct_event_types",
    oracle="""
    WITH flagged AS (
        SELECT event_id, user_id, ts,
               CASE WHEN row_number() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) = 1
                    THEN 1 ELSE 0 END AS first_seen
        FROM events
    )
    SELECT event_id, user_id, ts,
           CAST(SUM(first_seen) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_types_seen
    FROM flagged
    """,
)
def cumulative_distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) — not directly expressible as a window
    aggregate in either engine — via the first-occurrence trick: flag
    each (user, type)'s first event with row_number, then a running sum
    of flags gives the number of distinct types seen so far.

    Scale shape: both windows hash-partition by user_id, so the second
    window reuses the first's exchange (one shuffle total); state per
    row is one bit. The same trick computes any 'distinct-so-far'
    feature (new-item rate, vocabulary growth) at 100 TB without a
    quadratic distinct-per-prefix recompute.
    """
    e = load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = e.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("first_seen"),
    )
    return flagged.select(
        "event_id",
        "user_id",
        "ts",
        F.sum("first_seen").over(w_cum).cast("long").alias("n_types_seen"),
    )


@query(
    "revenue_share_ppm",
    oracle="""
    WITH nrev AS (
        SELECT n.n_regionkey, n.n_name,
               CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                    * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    )
    SELECT n_name,
           cents AS revenue_cents,
           CAST((cents * 1000000) // SUM(cents) OVER (PARTITION BY n_regionkey)
                AS BIGINT) AS share_ppm
    FROM nrev
    """,
)
def revenue_share_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-group analytics (ratio_to_report): each nation's
    revenue as parts-per-million of its region's total — exact to the
    last ppm because the share is BIGINT arithmetic (cents·10⁶ integer-
    divided by the region window total), never a float ratio.

    Scale shape: the fact chain reduces to a 25-row nation aggregate
    before the window, so the share pass is driver-trivial; the only
    real work is the fact join-agg, with nation/customer dims broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    nrev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_regionkey", "n_name")
        .agg(F.sum(cents).cast("long").alias("cents"))
    )
    w = Window.partitionBy("n_regionkey")
    return nrev.select(
        "n_name",
        F.col("cents").alias("revenue_cents"),
        F.expr("CAST((cents * 1000000) DIV SUM(cents) OVER (PARTITION BY n_regionkey) AS BIGINT)").alias("share_ppm"),
    )


@query("countmin_token_estimates")
def countmin_token_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over corpus tokens (d=4 hash rows × w=1024
    buckets), probed for the exact top-20 tokens — the mergeable
    point-frequency sketch completing the sketch family (HLL for
    cardinality, CMS for counts, exact twin = token_heavy_hitters).

    The sketch IS a DataFrame: (row, bucket, cnt) built by one explode
    + hash agg, so it merges across shards/days by summing matching
    cells (the same store-and-merge contract as hll_sketch_rollup).
    Estimate(t) = min over rows of cell(row, hash_row(t) mod w) —
    upper-bounds the true count, overcounting only on bucket
    collisions (ε ≈ e/w per row).

    No oracle: xxhash64 is Spark-side only; the accuracy contract
    (exact ≤ est, with bounded overcount) is pinned by
    tests/test_operators.py::test_countmin_upper_bounds_exact.

    Scale shape: sketch build is map-side explode + 4096-cell hash agg
    (constant-size state — the point of a sketch at 100 TB); the probe
    set is tiny and both probe joins are broadcasts.
    """
    D, W_CELLS = 4, 1024
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    tok = docs.select(
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("w")
    )
    cells = tok.select(
        "w",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        F.pmod(F.xxhash64("w", F.lit(r)), F.lit(W_CELLS)).alias(
                            "bucket"
                        ),
                    )
                    for r in range(D)
                ]
            )
        ).alias("c"),
    ).select(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
    sketch = cells.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    top = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("w"))
        .limit(20)
    )
    probes = top.select(
        "w",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        F.pmod(F.xxhash64("w", F.lit(r)), F.lit(W_CELLS)).alias(
                            "bucket"
                        ),
                    )
                    for r in range(D)
                ]
            )
        ).alias("c"),
    ).select("w", "exact_cnt", F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
    return (
        probes.join(sketch, ["row", "bucket"])
        .groupBy("w", "exact_cnt")
        .agg(F.min("cnt").cast("long").alias("est_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("w"))
    )


# ---------------------------------------------------------------------------
# wave 7: skyline, period-over-period, binning, vector quantization
# ---------------------------------------------------------------------------


@query(
    "skyline_parts_pareto",
    oracle="""
    SELECT p.p_brand, p.p_partkey,
           CAST(FLOOR(p.p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
           CAST(p.p_size AS INT) AS p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_brand = p.p_brand
          AND q.p_retailprice <= p.p_retailprice
          AND q.p_size <= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)
    )
    """,
)
def skyline_parts_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier query: per brand, the parts not
    dominated on (price, size) by any other part of the same brand —
    the multi-criteria shortlist shape (cheapest-for-its-size), which
    no single ORDER BY can express.

    Scale shape: dominance is a THETA anti-join, blocked on the brand
    equality key so the quadratic check runs only within each brand's
    partition (same blocking discipline as the levenshtein/JW dedups).
    At 100 TB you'd pre-reduce each block to its 2-D staircase with a
    window (sort by price, keep rows whose size beats the running min
    — the classic skyline sweep) before any pairwise check; block
    sizes here (≲100 parts/brand) don't need it.
    """
    p = load_table(spark, sf_dir, "part")
    q = p.select(
        F.col("p_brand").alias("q_brand"),
        F.col("p_retailprice").alias("q_price"),
        F.col("p_size").alias("q_size"),
    )
    dominated = (
        (F.col("q_brand") == F.col("p_brand"))
        & (F.col("q_price") <= F.col("p_retailprice"))
        & (F.col("q_size") <= F.col("p_size"))
        & (
            (F.col("q_price") < F.col("p_retailprice"))
            | (F.col("q_size") < F.col("p_size"))
        )
    )
    return p.join(q, dominated, "left_anti").select(
        "p_brand",
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long").alias("price_cents"),
        F.col("p_size").cast("int").alias("p_size"),
    )


@query(
    "mom_revenue_growth",
    oracle="""
    WITH m AS (
        SELECT n.n_name,
               CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    )
    SELECT n_name, month, cents AS revenue_cents,
           CAST((cents * 1000000) //
                lag(cents) OVER (PARTITION BY n_name ORDER BY month)
                AS BIGINT) AS growth_ppm
    FROM m
    """,
)
def mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period analytics: month-over-month revenue per
    nation with the growth ratio as exact BIGINT ppm ((cur·10⁶) DIV
    prev — integer division, so no float ratio can drift; NULL for
    each nation's first month).

    Scale shape: the fact table reduces to (nation × month) before the
    lag window, so the sequential pass runs over a few hundred rows
    regardless of fact size; dims broadcast.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name",
            F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("month"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("n_name").orderBy("month")
    return m.select(
        "n_name",
        "month",
        F.col("cents").alias("revenue_cents"),
        F.expr(
            "CAST((cents * 1000000) DIV lag(cents) OVER "
            "(PARTITION BY n_name ORDER BY month) AS BIGINT)"
        ).alias("growth_ppm"),
    )


@query(
    "ntile_price_quartiles",
    oracle="""
    WITH q AS (
        SELECT o_orderpriority,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               ntile(4) OVER (PARTITION BY o_orderpriority
                              ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5)
                                            AS BIGINT), o_orderkey) AS quartile
        FROM orders
    )
    SELECT o_orderpriority, CAST(quartile AS INT) AS quartile,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents
    FROM q GROUP BY 1, 2
    """,
)
def ntile_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth feature binning: each order assigned to its
    priority's price quartile via ntile over a TOTAL order (cents,
    orderkey tie-break — ntile on a partial order is nondeterministic
    in any engine), then per-bucket count + value ranges — the
    quantile-bucketizer every feature pipeline needs.

    Scale shape: one window exchange on priority, then a tiny
    (priority × 4) agg reusing the same partitioning. For 100 TB,
    swap ntile for precomputed approx-percentile cut points (the
    winsorized/percentile queries) to avoid the per-group sort.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    w = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    q = o.select(
        "o_orderpriority", cents.alias("cents"), F.col("o_orderkey")
    ).withColumn("quartile", F.ntile(4).over(w).cast("int"))
    return q.groupBy("o_orderpriority", "quartile").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("cents").cast("long").alias("min_cents"),
        F.max("cents").cast("long").alias("max_cents"),
    )


@query(
    "embedding_int8_quantize",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS n_dims,
           CAST(list_sum(list_transform(embedding, x ->
                GREATEST(-128, LEAST(127,
                    CAST(FLOOR(CAST(x AS DOUBLE) * 64 + 0.5) AS BIGINT)))))
                AS BIGINT) AS q_checksum,
           CAST(list_min(list_transform(embedding, x ->
                GREATEST(-128, LEAST(127,
                    CAST(FLOOR(CAST(x AS DOUBLE) * 64 + 0.5) AS BIGINT)))))
                AS BIGINT) AS q_min,
           CAST(list_max(list_transform(embedding, x ->
                GREATEST(-128, LEAST(127,
                    CAST(FLOOR(CAST(x AS DOUBLE) * 64 + 0.5) AS BIGINT)))))
                AS BIGINT) AS q_max
    FROM embeddings
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-scale int8 vector quantization (q = clip(round(x·64)) —
    the storage/bandwidth lever for ANN at scale: 4× smaller vectors,
    SIMD-able integer dot products), verified by per-vector integer
    checksum + range. A FIXED scale (not per-vector min/max) keeps the
    quantizer exact and engine-portable: floor(x·64 + 0.5) is the same
    IEEE op in both dialects, so the oracle checks every element via
    the checksum.

    Scale shape: pure map-side HOF projection (transform/aggregate) —
    zero shuffles, zero Python. The SQL HOF form is the SPEC; a
    100 TB pass would swap in the Arrow/NumPy kernel (see
    operators/similarity.py cosine_arrow) for the ~10× interpreter
    cliff on nested lambdas, identical results.
    """
    e = load_table(spark, sf_dir, "embeddings")
    qexpr = (
        "transform(embedding, x -> GREATEST(-128L, LEAST(127L, "
        "CAST(FLOOR(CAST(x AS DOUBLE) * 64 + 0.5) AS BIGINT))))"
    )
    return e.select(
        "vec_id",
        F.size("embedding").cast("int").alias("n_dims"),
        F.expr(f"aggregate({qexpr}, 0L, (a, b) -> a + b)")
        .cast("long")
        .alias("q_checksum"),
        F.expr(f"array_min({qexpr})").cast("long").alias("q_min"),
        F.expr(f"array_max({qexpr})").cast("long").alias("q_max"),
    )


@query(
    "prefix_filter_jaccard_pairs",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id AS id,
               unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents WHERE trim(text) <> ''
    ), tok2 AS (
        SELECT id, w FROM tok WHERE w <> ''
    ), sz AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM tok2 GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS inter
        FROM tok2 a JOIN tok2 b ON a.w = b.w AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b, i.inter,
           sa.n AS n_a, sb.n AS n_b,
           CAST((i.inter * 1000000) // (sa.n + sb.n - i.inter) AS BIGINT)
               AS jaccard_ppm
    FROM inter i
    JOIN sz sa ON i.id_a = sa.id
    JOIN sz sb ON i.id_b = sb.id
    WHERE 170 * i.inter >= 70 * (sa.n + sb.n)
    """,
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact set-similarity join (word-set Jaccard ≥
    0.70) — see operators/dedup.py prefix_filtered_jaccard_pairs. The
    oracle is the NAIVE all-pairs shared-token join: hash-equality of
    the two result sets proves the prefix filter is lossless pruning,
    not an approximation (contrast minhash_lsh_pairs, which trades
    recall for speed and gets rows-only checks).

    Scale shape: candidates come only from rare-token prefixes (the
    corpus-wide stop tokens that make the naive join quadratic never
    enter any prefix), plus an integer size-ratio prune — the
    sub-quadratic EXACT leg of the dedup family, between the df-capped
    jaccard sampler and LSH.
    """
    from pyspark_movie_recommender_spark.operators.dedup import (
        prefix_filtered_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return prefix_filtered_jaccard_pairs(docs)


# ---------------------------------------------------------------------------
# wave 9: classic OLAP suite, part III (Q8/Q9/Q10/Q15 shapes)
# ---------------------------------------------------------------------------


@query(
    "national_market_share",
    oracle="""
    WITH mkt AS (
        SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
               CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                    AS BIGINT) AS cents,
               sn.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o    ON l.l_orderkey = o.o_orderkey
        JOIN customer c  ON o.o_custkey = c.c_custkey
        JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
        JOIN region r    ON cn.n_regionkey = r.r_regionkey
        JOIN supplier s  ON l.l_suppkey = s.s_suppkey
        JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
        WHERE r.r_name = 'ASIA'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN cents ELSE 0 END)
                AS BIGINT) AS nation_cents,
           CAST(SUM(cents) AS BIGINT) AS market_cents,
           CAST((SUM(CASE WHEN supp_nation = 'NATION_2' THEN cents ELSE 0 END)
                 * 1000000) // SUM(cents) AS BIGINT) AS share_ppm
    FROM mkt GROUP BY o_year
    """,
)
def national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_2's share of supplier revenue in the ASIA
    customer market per order year — the two-level conditional ratio
    (numerator = CASE inside SUM, one pass, no self-join), share exact
    in BIGINT ppm.

    Scale shape: all five dims broadcast; the fact chain shuffles
    lineitem⋈orders on orderkey then orders⋈customer on custkey; both
    sums accumulate in ONE hash agg keyed by year (≈7 groups).
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    s = load_table(spark, sf_dir, "supplier")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    cust_nat = F.broadcast(
        n.join(r, n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    supp_nat = F.broadcast(
        s.join(n, s.s_nationkey == n.n_nationkey).select(
            "s_suppkey", F.col("n_name").alias("supp_nation")
        )
    )
    mkt = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(cust_nat, c.c_nationkey == F.col("cn_key"))
        .join(supp_nat, li.l_suppkey == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            cents.alias("cents"),
            "supp_nation",
        )
    )
    nat = F.sum(F.when(F.col("supp_nation") == "NATION_2", F.col("cents")).otherwise(0))
    return mkt.groupBy("o_year").agg(
        nat.cast("long").alias("nation_cents"),
        F.sum("cents").cast("long").alias("market_cents"),
        F.expr(
            "CAST((SUM(CASE WHEN supp_nation = 'NATION_2' THEN cents ELSE 0 END)"
            " * 1000000) DIV SUM(cents) AS BIGINT)"
        ).alias("share_ppm"),
    )


@query(
    "product_type_profit",
    oracle="""
    SELECT sn.n_name AS supp_nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT) AS profit_cents
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit from one product family (name LIKE
    '%widget%') by supplier nation × order year — the many-dim star
    join with a mid-string LIKE that can't prune at the scan but CAN
    shrink the broadcast part dim before the fact join.

    Scale shape: part filters to the widget subset then broadcasts
    (so the fact side is pre-pruned by the join itself), supplier and
    nation broadcast; one orderkey shuffle for the orders join; final
    agg is (25 nations × years).
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    supp_nat = F.broadcast(
        s.join(n, s.s_nationkey == n.n_nationkey).select(
            "s_suppkey", F.col("n_name").alias("supp_nation")
        )
    )
    return (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(supp_nat, li.l_suppkey == F.col("s_suppkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("supp_nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.sum(cents).cast("long").alias("profit_cents"))
    )


@query(
    "returned_revenue_top_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT) AS returned_cents
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY returned_cents DESC, c_custkey ASC
    LIMIT 20
    """,
)
def returned_revenue_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: the 20 customers with the most returned-item
    revenue (returnflag R) — the 'who is hurting us' ranking behind
    churn/fraud triage, with a deterministic custkey tie-break.

    Scale shape: the returnflag filter pushes to the lineitem scan;
    custkey/orderkey shuffles carry only keys + cents; nation
    broadcasts; the final ranking is TakeOrderedAndProject (top-20
    heap per partition), never a global sort.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(cents).cast("long").alias("returned_cents"))
        .orderBy(F.desc("returned_cents"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "top_supplier_per_quarter",
    oracle="""
    WITH q AS (
        SELECT l.l_suppkey,
               CAST(date_trunc('quarter', l.l_shipdate) AS DATE) AS qtr,
               CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                    * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem l GROUP BY 1, 2
    )
    SELECT qtr, s.s_name,
           cents AS revenue_cents
    FROM (SELECT *, rank() OVER (PARTITION BY qtr ORDER BY cents DESC) AS rk
          FROM q) r
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE rk = 1
    """,
)
def top_supplier_per_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the top-revenue supplier of each ship quarter —
    the classic 'MAX of an aggregate' view, done with rank() so exact
    ties all surface (deterministic without an arbitrary pick; the
    original's revenue = MAX(revenue) subquery keeps ties too).

    Scale shape: lineitem pre-aggregates to (supplier × quarter)
    before any window — the rank runs over ~400 rows; WindowGroupLimit
    prunes rank=1 per partition pre-shuffle; supplier broadcasts onto
    the winners only.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    q = li.groupBy(
        "l_suppkey",
        F.to_date(F.date_trunc("quarter", F.col("l_shipdate"))).alias("qtr"),
    ).agg(F.sum(cents).cast("long").alias("cents"))
    w = Window.partitionBy("qtr").orderBy(F.desc("cents"))
    return (
        q.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") == 1)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("qtr", "s_name", F.col("cents").alias("revenue_cents"))
    )


# ---------------------------------------------------------------------------
# wave 10: association rules, privacy erasure
# ---------------------------------------------------------------------------


@query(
    "association_rules_parts",
    bench=True,
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n_orders AS (
        SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM items
    ), item_n AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM items GROUP BY 1
    ), pair_n AS (
        SELECT a.l_partkey AS ante, b.l_partkey AS cons,
               CAST(COUNT(*) AS BIGINT) AS both_cnt
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    )
    SELECT p.ante, p.cons, p.both_cnt,
           ia.cnt AS ante_cnt,
           CAST((p.both_cnt * 1000000) // ia.cnt AS BIGINT)
               AS confidence_ppm,
           CAST((p.both_cnt * n.n * 1000000) // (ia.cnt * ic.cnt) AS BIGINT)
               AS lift_ppm
    FROM pair_n p
    JOIN item_n ia ON p.ante = ia.l_partkey
    JOIN item_n ic ON p.cons = ic.l_partkey, n_orders n
    WHERE p.both_cnt >= 3
    ORDER BY confidence_ppm DESC, ante ASC, cons ASC
    LIMIT 50
    """,
)
def association_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: for each directed part
    pair A→B with support ≥ 3 orders, confidence P(B|A) and lift
    P(B|A)/P(B) — the full rule-mining step on top of
    market_basket_pairs' raw co-occurrence, with every ratio exact in
    BIGINT ppm (integer division; no float probabilities).

    Scale shape: one fact exchange builds the per-order basket census
    (in-row dedup via collect_set with map-side partials); directed
    pairs are enumerated in-row with C(basket,2)-bounded fan-out, so
    the self-join the pre-round-9 form paid never exists. Item counts
    and the global order count are linear in the basket relation; the
    ratio sides broadcast; the top-50 is TakeOrderedAndProject. The
    support≥3 filter runs on the aggregated pair relation BEFORE the
    ratio joins, pruning the long tail early. (An undirected a<b
    mirror-union variant that halves the pair exchange but keeps the
    self-join was measured in rounds 8-9 and rejected.)
    """
    from pyspark_movie_recommender_spark.operators.cache import track

    li = load_table(spark, sf_dir, "lineitem")
    # Round 9: basket CENSUS replaces both the (order, part)-distinct
    # exchange and the items self-join's two orderkey exchanges: ONE fact
    # shuffle (groupBy l_orderkey, in-row dedup via collect_set with
    # map-side partials), then directed pairs are enumerated in-row
    # (k <= lines-per-order = 7, so <= k(k-1) array elements) exactly like
    # the kept source_shingle_overlap census — the shape the round-8
    # "not yet optimized" list pointed at. Unlike the reverted
    # undirected+mirror form this removes fact exchanges (3 -> 1) instead
    # of halving one. Interleaved A/B: 0.955x sf0.1 (n=5), 0.99/1.03x sf1
    # (n=5/n=3, host-noisy) — a local wash; kept for the exchange
    # elimination, pinned by tests/test_plans.py::
    # test_association_basket_census_single_fact_exchange. Item counts
    # and the order-count scalar are linear in the basket relation,
    # which is tracked (cardinality-reduced, 3 consumers — within the
    # round-9 materialization policy).
    baskets = track(
        li.groupBy("l_orderkey").agg(
            F.collect_set("l_partkey").alias("parts")
        )
    )
    n_orders = baskets.count()  # driver scalar
    item_n = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    pair_n = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, x ->"
                    " transform(filter(parts, y -> y != x),"
                    " y -> struct(x AS ante, y AS cons))))"
                )
            ).alias("pr")
        )
        .groupBy(F.col("pr.ante").alias("ante"), F.col("pr.cons").alias("cons"))
        .agg(F.count(F.lit(1)).cast("long").alias("both_cnt"))
        .filter(F.col("both_cnt") >= 3)
    )
    ia = F.broadcast(item_n.select(F.col("l_partkey").alias("ante"),
                                   F.col("cnt").alias("ante_cnt")))
    ic = F.broadcast(item_n.select(F.col("l_partkey").alias("cons"),
                                   F.col("cnt").alias("cons_cnt")))
    return (
        pair_n.join(ia, "ante")
        .join(ic, "cons")
        .select(
            "ante",
            "cons",
            "both_cnt",
            "ante_cnt",
            F.expr("CAST((both_cnt * 1000000) DIV ante_cnt AS BIGINT)").alias(
                "confidence_ppm"
            ),
            F.expr(
                f"CAST((both_cnt * {n_orders}L * 1000000) DIV "
                "(ante_cnt * cons_cnt) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.desc("confidence_ppm"), F.asc("ante"), F.asc("cons"))
        .limit(50)
    )


@query(
    "privacy_erasure_audit",
    oracle="""
    WITH erase AS (
        SELECT DISTINCT user_id FROM events
        WHERE user_id % 37 = 0
    ), kept AS (
        SELECT e.* FROM events e
        WHERE NOT EXISTS (SELECT 1 FROM erase x WHERE x.user_id = e.user_id)
    )
    SELECT 'events.before' AS metric, CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    UNION ALL
    SELECT 'events.after', CAST(COUNT(*) AS BIGINT) FROM kept
    UNION ALL
    SELECT 'events.erased_users',
           CAST(COUNT(*) AS BIGINT) FROM erase
    UNION ALL
    SELECT 'events.residual_rows',
           CAST(COUNT(*) AS BIGINT)
    FROM kept k WHERE EXISTS (SELECT 1 FROM erase x
                              WHERE x.user_id = k.user_id)
    """,
)
def privacy_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten pass with its audit: drop every event of
    the erasure set (here: deterministic user_id % 37 = 0 stand-in for
    a DSAR list), then PROVE completeness in the same job — before /
    after counts, erased-user count, and a residual check that MUST be
    zero (the auditor's query, not the deleter's claim).

    Scale shape: the erasure list is a broadcast anti-join (key-only
    dim side); the residual check is the mirror semi-join over the
    kept rows — both shuffle-free on the fact side. At 100 TB this is
    the standard GDPR repave: scan, anti-join, rewrite partitions,
    then run exactly this audit before swapping them in.
    """
    e = load_table(spark, sf_dir, "events")
    erase = e.filter(F.col("user_id") % 37 == 0).select("user_id").distinct()
    erase = _ckpt(erase)  # shared fan-out relation
    kept = e.join(F.broadcast(erase), "user_id", "left_anti")
    residual = kept.join(F.broadcast(erase), "user_id", "left_semi")

    def one(metric: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
            F.lit(metric).alias("metric"), "n"
        )

    return (
        one("events.before", e)
        .unionByName(one("events.after", kept))
        .unionByName(one("events.erased_users", erase))
        .unionByName(one("events.residual_rows", residual))
    )


@query(
    "cogroup_user_reconciliation",
    oracle="""
    WITH ev AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS event_cents
        FROM events GROUP BY user_id
    ), od AS (
        SELECT o_custkey AS user_id,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS order_cents
        FROM orders GROUP BY o_custkey
    )
    SELECT COALESCE(ev.user_id, od.user_id) AS user_id,
           CAST(COALESCE(ev.n_events, 0) AS BIGINT)    AS n_events,
           CAST(COALESCE(od.n_orders, 0) AS BIGINT)    AS n_orders,
           CAST(COALESCE(ev.event_cents, 0) AS BIGINT) AS event_cents,
           CAST(COALESCE(od.order_cents, 0) AS BIGINT) AS order_cents
    FROM ev FULL OUTER JOIN od ON ev.user_id = od.user_id
    """,
)
def cogroup_user_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-grouped applyInPandas (operators/udf_surface.py): per-user
    two-sided reconciliation of event activity vs order history —
    the cogroup UDF form, VALUE-checked against a full-outer-join of
    two aggregates in DuckDB (integer cents, so the Arrow plumbing is
    verified exactly, not just row counts)."""
    from pyspark_movie_recommender_spark.operators.udf_surface import (
        cogrouped_user_reconciliation,
    )

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    return cogrouped_user_reconciliation(events, orders)


# ---------------------------------------------------------------------------
# wave 11: completing the classic TPC-H shape suite (Q6, Q11, Q12, Q16,
# Q20, Q21 — adapted to the available columns: no partsupp/shipmode/
# commitdate in the testdata, so each keeps the REFERENCE PLAN SHAPE with
# substitute predicates)
# ---------------------------------------------------------------------------


@query(
    "forecast_revenue_q6",
    oracle="""
    SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def forecast_revenue_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure scan-filter-aggregate forecast query —
    no joins, one global agg, every predicate pushable to the parquet
    scan (shipdate range, discount band, quantity cap all reach
    PushedFilters; ReadSchema is 4 columns).

    Scale shape: this is the query whose 100-TB cost IS the scan; the
    plan must be map-side partial agg -> single-row final with zero
    shuffled data beyond one partial row per task. Revenue kept in
    BIGINT cents (per-row floor is engine-identical; summation order
    can't drift integers).
    """
    li = load_table(spark, sf_dir, "lineitem")
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-01-01").cast("timestamp_ntz")
    return (
        li.filter(
            (F.col("l_shipdate") >= lo)
            & (F.col("l_shipdate") < hi)
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * F.col("l_discount") * 100 + 0.5)
                .cast("long")
            )
            .cast("long")
            .alias("revenue_cents"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


@query(
    "important_part_revenue_share",
    oracle="""
    WITH v AS (
        SELECT l_partkey,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS value_cents
        FROM lineitem GROUP BY l_partkey
    ), t AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS tot FROM v)
    SELECT v.l_partkey, v.value_cents
    FROM v, t
    WHERE 2000 * v.value_cents > t.tot
    """,
)
def important_part_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (partsupp replaced by lineitem revenue): parts
    whose total revenue exceeds 1/2000 of the global total — the
    group-agg + global-scalar-subquery HAVING filter.

    Scale shape: one fact shuffle for the per-part agg; the global
    total is an agg-of-agg over the already-reduced relation and comes
    back as a BROADCAST scalar (no second fact scan, no driver
    round-trip). Threshold as exact integer inequality
    ``2000*val > tot`` — no float share.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    v = li.groupBy("l_partkey").agg(F.sum(cents).cast("long").alias("value_cents"))
    tot = v.agg(F.sum("value_cents").cast("long").alias("tot"))
    return (
        v.crossJoin(F.broadcast(tot))
        .filter(2000 * F.col("value_cents") > F.col("tot"))
        .select("l_partkey", "value_cents")
    )


@query(
    "priority_class_by_linestatus",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    GROUP BY l.l_linestatus
    """,
)
def priority_class_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode replaced by linestatus): slow-shipped
    lines (shipped >30 days after order date) counted by line status,
    split urgent-vs-other via CASE-in-SUM conditional aggregation.

    Scale shape: the one big-big join in the suite — lineitem x orders
    shuffles on orderkey (AQE handles skew); the date-lag predicate is
    a residual on the join (it references both sides so it can't push
    below it); the final agg is 2 groups wide, so partial agg collapses
    everything map-side after the join.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(is_high, 0).otherwise(1)).cast("long").alias(
                "low_line_count"
            ),
        )
    )


@query(
    "supplier_count_by_part_attrs",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#45'
      AND p.p_type NOT LIKE 'S%'
      AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l.l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def supplier_count_by_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type,
    size) for a filtered part subset, excluding a NOT-IN supplier
    denylist (negative balance stands in for the complaint-comment
    filter).

    Scale shape: part filters then BROADCASTS (the fact side is pruned
    by the join itself); the denylist is a tiny broadcast ANTI join —
    NOT IN is safe to decorrelate here because s_suppkey is non-null;
    COUNT(DISTINCT) expands to the standard two-phase distinct-expand
    agg on the grouped keys.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & ~F.col("p_type").like("S%")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(
            F.broadcast(p.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@query(
    "promotable_suppliers_q20",
    oracle="""
    WITH sq AS (
        SELECT l.l_partkey, l.l_suppkey,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE '%red%'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_partkey, l.l_suppkey
    ), tot AS (
        SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS total_qty
        FROM sq GROUP BY l_partkey
    )
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM sq
    JOIN tot ON sq.l_partkey = tot.l_partkey
    JOIN supplier s ON sq.l_suppkey = s.s_suppkey
    WHERE 4 * sq.qty > tot.total_qty
    """,
)
def promotable_suppliers_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (availqty replaced by shipped quantity):
    suppliers who moved >25% of a red part's 1996 volume — the
    nested correlated-threshold semi-join, decorrelated into
    agg -> agg-of-agg -> integer-inequality join.

    Scale shape: red-part keys broadcast to prune the fact scan; one
    shuffle to (partkey, suppkey); the per-part total is an agg over
    the ALREADY-REDUCED relation (tiny second shuffle); supplier dim
    broadcasts onto the surviving pairs. Threshold is exact BIGINT
    ``4*qty > total`` — no float share.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-01-01").cast("timestamp_ntz")
    sq = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"))
    )
    tot = sq.groupBy("l_partkey").agg(
        F.sum("qty").cast("long").alias("total_qty")
    )
    return (
        sq.join(tot, "l_partkey")
        .filter(4 * F.col("qty") > F.col("total_qty"))
        .join(F.broadcast(s), sq.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name")
        .distinct()
    )


@query(
    "sole_late_supplier_orders",
    oracle="""
    WITH late AS (
        SELECT l.l_orderkey, l.l_suppkey
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    SELECT s.s_suppkey, s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
            SELECT 1 FROM late l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s.s_suppkey, s.s_name
    """,
    bench=True,
)
def sole_late_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: per-supplier count of late lines in
    multi-supplier orders where that supplier was the ONLY late one
    (late := shipped >60 days after order date, standing in for
    receipt>commit).

    Scale shape: the oracle's EXISTS / NOT EXISTS pair would be two
    more fact-sized joins; here both decorrelate into per-order
    aggregates over ONE (orderkey, suppkey) reduction of the fact:
    ``n_supp``/``n_late_supp`` are unbounded-frame WINDOW counts over
    that pair relation, not COUNT(DISTINCT) over raw lines (which
    would plan a 2x expand shuffle) and not an agg + self-join back
    (which would scan the fact twice — exchange reuse is not
    guaranteed across branches). The fact is scanned and shuffled
    exactly once; the window and final agg run over the pair-sized
    relation.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    j = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).cast(
            "int"
        ),
    )
    # one fact reduction to (order, supplier) pairs; per-order stats are
    # window counts over this pair relation — no second fact pass
    pair = j.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum("is_late").alias("late_lines"),
    )
    ow = Window.partitionBy("l_orderkey")
    qual = (
        pair.withColumn("n_supp", F.count(F.lit(1)).over(ow))
        .withColumn(
            "n_late_supp",
            F.sum((F.col("late_lines") > 0).cast("int")).over(ow),
        )
        .filter(
            (F.col("late_lines") > 0)
            & (F.col("n_supp") > 1)
            & (F.col("n_late_supp") == 1)
        )
    )
    return (
        qual.groupBy("l_suppkey")
        .agg(F.sum("late_lines").cast("long").alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "numwait")
    )


# ---------------------------------------------------------------------------
# wave 12: LLM-data-pipeline additions — k-means routing over embeddings,
# BPE-style merge-pair statistics, cross-source contamination audit
# ---------------------------------------------------------------------------


@query(
    "kmeans_embedding_assign",
    oracle="""
    WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    c AS (
        SELECT e AS ce,
               CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
        FROM s WHERE vec_id IN (3, 66, 129, 192, 255, 318, 381, 444)
    ), scored AS (
        SELECT s.vec_id, c.cell,
               CAST(ROUND(list_cosine_similarity(s.e, c.ce) * 1e6) AS BIGINT)
                   AS sim_ppm
        FROM s CROSS JOIN c
    ), best AS (
        SELECT vec_id, cell, sim_ppm,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim_ppm DESC, cell) AS rn
        FROM scored
    )
    SELECT cell,
           CAST(COUNT(*) AS BIGINT)    AS n_vectors,
           CAST(SUM(sim_ppm) AS BIGINT) AS sum_sim_ppm,
           CAST(MIN(sim_ppm) AS BIGINT) AS min_sim_ppm
    FROM best WHERE rn = 1
    GROUP BY cell
    """,
)
def kmeans_embedding_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means Lloyd ASSIGNMENT step (k=8, centroids pinned to named
    corpus vectors so both engines compute the identical step) with
    per-cell population stats in exact ppm integers.

    The clustering layer of a curation pipeline: cells feed IVF
    routing, diversity sampling, and per-cluster quota selection.
    Iterating = recompute means per cell, re-call; each round is one
    corpus scan + an 8-row agg.

    Scale shape (operators/similarity.py `kmeans_assign`): centroids
    are a collected 8-row closure constant; assignment is one NumPy
    matmul per Arrow batch, MAP-SIDE — the only shuffle is the final
    8-group agg of (cell, ppm) pairs. The oracle's CROSS JOIN + window
    argmax is the spec; the engine never materializes corpus x k rows.
    """
    from pyspark_movie_recommender_spark.operators.similarity import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, [3, 66, 129, 192, 255, 318, 381, 444])
    return assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum("sim_ppm").cast("long").alias("sum_sim_ppm"),
        F.min("sim_ppm").cast("long").alias("min_sim_ppm"),
    )


@query(
    "bpe_pair_merge_counts",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), pairs AS (
        SELECT unnest(list_transform(
                   range(1, greatest(length(tok) - 1, 0) + 1),
                   i -> substring(tok, CAST(i AS INT), 2))) AS pair
        FROM toks WHERE length(tok) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair LIMIT 20
    """,
)
def bpe_pair_merge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge iteration's statistics: corpus-wide counts
    of adjacent symbol pairs inside whitespace tokens, top-20 — what a
    tokenizer trainer computes before each merge (the merge itself is
    'pick row 1, rewrite, repeat').

    Scale shape: pure map-side double explode (tokens, then in-token
    positions) into a hash agg over a TINY key space (|alphabet|^2
    pairs), so partial aggregation collapses everything before the
    shuffle; top-20 is TakeOrderedAndProject, never a global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(tok) - 1, 0)),"
                " i -> substring(tok, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(20)
    )


@query(
    "source_shingle_overlap",
    bench=True,
    oracle="""
    WITH toks AS (
        SELECT source, string_split(text, ' ') AS t FROM documents
    ), grams AS (
        SELECT DISTINCT source,
               unnest(list_transform(
                   range(1, greatest(len(t) - 2, 0) + 1),
                   i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]
                        || ' ' || t[CAST(i AS INT) + 2])) AS gram
        FROM toks
    ), sz AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM grams GROUP BY source
    ), shared AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM grams a JOIN grams b
          ON a.gram = b.gram AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT s.src_a, s.src_b, s.n_shared,
           za.n_grams AS grams_a, zb.n_grams AS grams_b,
           CAST(s.n_shared * 1000000 // LEAST(za.n_grams, zb.n_grams)
                AS BIGINT) AS overlap_ppm
    FROM shared s
    JOIN sz za ON za.source = s.src_a
    JOIN sz zb ON zb.source = s.src_b
    """,
)
def source_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination audit: for every source pair, how
    many distinct word 3-grams they share, plus the overlap
    coefficient ``shared / min(|A|, |B|)`` in exact ppm — the
    matrix a curation run reads before deciding which sources are
    near-copies of each other.

    Scale shape: ONE gram-keyed exchange total — collect_set(source)
    per gram (map-side partial sets dedup before the shuffle, so the
    exchange carries ≈ the distinct (gram, source) relation) collapses
    straight into the ≤2^|sources|-row source-set census, and BOTH the
    per-source sizes and every pair count are linear sums over that
    tiny ckpt'd relation (a gram present in source set S contributes
    to each of the C(|S|,2) pairs — enumerated in-row over a sorted
    ≤|sources|-element array). The previous shape paid a (source,
    gram) DISTINCT exchange, then re-shuffled the persisted relation
    into a gram-keyed self-join; per-key fan-out stays bounded by
    |sources| in both shapes, but the census form never runs the join
    at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    # tokenize ONCE per row into a column; the gram lambda then reads the
    # materialized array (element_at inside the lambda over split(text)
    # would re-split per element — ~3x gram count splits per doc)
    toks = docs.select("source", F.split("text", " ").alias("t"))
    grams = toks.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(t) - 2, 0)),"
                " i -> concat_ws(' ', element_at(t, i),"
                " element_at(t, i + 1), element_at(t, i + 2)))"
            )
        ).alias("gram"),
    )
    # Round-9 A/B receipt (flat windows, interleaved vs the round-7
    # self-join form): census 0.94x at sf0.1, 0.76x at sf1 — kept.
    census = (
        grams.groupBy("gram")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .groupBy("srcs")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # ckpt the tiny census: sizes and pair counts both read it —
        # without materialization each branch re-ran the gram pass
        .transform(_ckpt)
    )
    sz = (
        census.select(F.explode("srcs").alias("source"), "n")
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("n_grams"))
    )
    shared = (
        census.select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (x, i) ->"
                    " transform(slice(srcs, i + 2, size(srcs)),"
                    " y -> struct(x AS src_a, y AS src_b))))"
                )
            ).alias("p"),
            "n",
        )
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.sum("n").cast("long").alias("n_shared"))
    )
    za = sz.select(F.col("source").alias("src_a"), F.col("n_grams").alias("grams_a"))
    zb = sz.select(F.col("source").alias("src_b"), F.col("n_grams").alias("grams_b"))
    return (
        shared.join(F.broadcast(za), "src_a")
        .join(F.broadcast(zb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "grams_a",
            "grams_b",
            F.expr("(n_shared * 1000000L) div least(grams_a, grams_b)")
            .cast("long")
            .alias("overlap_ppm"),
        )
    )


@query(
    "triangle_count_copurchase",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(DISTINCT x) FROM (
                 SELECT u AS x FROM e UNION ALL SELECT v FROM e)) AS BIGINT)
               AS n_nodes,
           CAST((SELECT COUNT(*)
                 FROM e e1
                 JOIN e e2 ON e1.v = e2.u
                 JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS BIGINT)
               AS n_triangles
    """,
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph (parts linked
    when ≥2 orders contain both): the classic distributed graph metric
    behind clustering coefficients and community strength.

    Algorithm: orient each edge low-id→high-id, join e1(u,v)⋈e2(v,w)
    to enumerate oriented wedges, then verify the closing edge (u,w) —
    each triangle is counted exactly once. (At corpus scale, orient by
    DEGREE instead of id — the wedge count is then bounded by
    Σ min(deg)² which is the optimal join-based form; id-orientation
    keeps the oracle dialect-shared here.)

    Scale shape: the support-≥2 threshold caps edge degree before any
    wedge forms (same role as the stop-shingle cap in n-gram dedup);
    the edge relation is persisted once and re-read by all three join
    roles instead of re-running the basket self-join; wedges shuffle on
    the shared vertex only.
    """
    from pyspark_movie_recommender_spark.operators.cache import track
    from pyspark_movie_recommender_spark.operators.graph import copurchase_pairs

    li = load_table(spark, sf_dir, "lineitem")
    # round 9: basket census (one fact exchange) replaces the items
    # self-join — see operators/graph.copurchase_pairs
    edges = track(copurchase_pairs(li, min_support=2).select("u", "v"))
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    wedges = e1.join(e2, F.col("e1.v") == F.col("e2.u"))
    tris = wedges.join(
        e3,
        (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_nodes = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .agg(F.count_distinct("x").cast("long").alias("n_nodes"))
    )
    n_tris = tris.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    return n_edges.crossJoin(n_nodes).crossJoin(n_tris)


@query(
    "union_by_name_evolution",
    oracle="""
    WITH old_feed AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 2 = 0
    ), new_feed AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus, o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1
    ), unioned AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus,
               NULL AS o_orderpriority FROM old_feed
        UNION ALL
        SELECT * FROM new_feed
    )
    SELECT o_orderstatus,
           COALESCE(o_orderpriority, '<pre-schema>') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM unioned GROUP BY 1, 2
    """,
)
def union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: an old feed missing a column unions with
    the new feed by NAME (`unionByName(allowMissingColumns=True)`), the
    missing column null-filled — the append-only ingestion pattern when
    producers add fields over time. (Positional UNION would silently
    misalign; the bag-semantics positional form is `union_all_bag`.)

    Scale shape: both branches scan+filter map-side; the union is a
    plan-level concat (no shuffle); one hash agg on the tiny
    (status, priority) key space.
    """
    o = load_table(spark, sf_dir, "orders")
    old_feed = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new_feed = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority"
    )
    unioned = old_feed.unionByName(new_feed, allowMissingColumns=True)
    return unioned.groupBy(
        "o_orderstatus",
        F.coalesce("o_orderpriority", F.lit("<pre-schema>")).alias("priority"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("total_cents"),
    )


@query(
    "array_setops_suite",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_sort(list_distinct(string_split(text, ' '))) AS w,
               list_sort(list_distinct(string_split(upper(text), ' '))) AS wu
        FROM documents WHERE doc_id % 50 = 0
    )
    SELECT doc_id,
           CAST(len(list_intersect(w, wu)) AS BIGINT)  AS n_common,
           CAST(len(w) + len(list_filter(wu, x -> NOT list_contains(w, x)))
                AS BIGINT)                              AS n_union,
           CAST(len(list_filter(w, x -> NOT list_contains(wu, x)))
                AS BIGINT)                              AS n_only_lower,
           list_sort(list_intersect(w, wu))[1]          AS first_common
    FROM t
    """,
)
def array_setops_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra (`array_intersect`/`array_union`/
    `array_except`) over per-doc token sets vs their uppercased twins —
    counts and an order-stable witness element, all computed INSIDE the
    row (no explode, no shuffle beyond the scan).

    Cross-engine note: Spark and DuckDB order set-op results
    differently, so the query compares SIZES plus a `sort->first`
    witness — the dialect-stable projection of an unordered result.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    t = docs.select(
        "doc_id",
        F.array_sort(F.array_distinct(F.split("text", " "))).alias("w"),
        F.array_sort(F.array_distinct(F.split(F.upper("text"), " "))).alias("wu"),
    )
    return t.select(
        "doc_id",
        F.size(F.array_intersect("w", "wu")).cast("long").alias("n_common"),
        F.size(F.array_union("w", "wu")).cast("long").alias("n_union"),
        F.size(F.array_except("w", "wu")).cast("long").alias("n_only_lower"),
        F.try_element_at(F.array_sort(F.array_intersect("w", "wu")), F.lit(1)).alias(
            "first_common"
        ),
    )


@query(
    "session_window_batch",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000
                    OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts)                            AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE       AS session_end,
           CAST(COUNT(*) AS BIGINT)           AS n_events
    FROM sessions
    GROUP BY user_id, sid
    """,
)
def session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILT-IN ``session_window`` aggregation run in batch mode,
    oracle-checked against the classic gaps-and-islands SQL — proving
    the native operator's session semantics (events merge when the gap
    is <= 30 min, strictly-greater gaps split; window end = last event
    + gap) coincide exactly with the lag+cumsum form
    (`sessionize_events`). The same expression runs under
    `streaming_session_window`; this twin is what makes that stream
    job's semantics oracle-checkable.

    Scale shape: one shuffle on user_id; session merging is the native
    operator's sort-based pass, no window-function chain.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "token_containment_pairs",
    oracle="""
    WITH t AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS w
        FROM documents WHERE doc_id % 20 = 0
    )
    SELECT a.doc_id AS id_small, b.doc_id AS id_big,
           CAST(len(a.w) AS BIGINT) AS n_small,
           CAST(len(b.w) AS BIGINT) AS n_big
    FROM t a JOIN t b
      ON a.doc_id <> b.doc_id AND len(a.w) < len(b.w)
    WHERE len(list_filter(a.w, x -> NOT list_contains(b.w, x))) = 0
    """,
)
def token_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subdocument detection: pairs where the smaller doc's token SET is
    fully contained in the larger doc's — the quote/excerpt/boilerplate
    relation exact Jaccard misses (containment can be 100% while
    Jaccard is tiny).

    The oracle is the NAIVE all-pairs containment join; the engine side
    prunes with the rarest-token block: if A ⊆ B then B must contain
    A's globally rarest token, so candidate pairs come from an
    equi-join on that ONE token instead of a cross join — hash equality
    against the naive oracle proves the pruning LOSSLESS. Per-key
    fan-out is bounded by the rarest token's document frequency (by
    construction the smallest available), the standard prefix-filter
    argument specialized to containment.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    # t fans out to the tokenizer, the small side, and the big side;
    # tok to df-counts, rarest, and the candidate side — materialize
    # both so the documents scan + split executes once, not 5x
    t = _ckpt(
        docs.select(
            "doc_id", F.array_distinct(F.split("text", " ")).alias("w")
        ).withColumn("sz", F.size("w"))
    )
    tok = _ckpt(t.select("doc_id", F.explode("w").alias("token")))
    df_counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # per doc: the token with the smallest (df, token) — its rarest
    rarest = (
        tok.join(F.broadcast(df_counts), "token")
        .groupBy("doc_id")
        .agg(F.min(F.struct("df", "token")).alias("m"))
        .select("doc_id", F.col("m.token").alias("rare_token"))
    )
    a = (
        t.join(rarest, "doc_id")
        .select(
            F.col("doc_id").alias("id_small"),
            F.col("w").alias("wa"),
            F.col("sz").alias("n_small"),
            "rare_token",
        )
    )
    b = tok.select(F.col("doc_id").alias("id_big"), F.col("token").alias("rare_token"))
    cand = a.join(b, "rare_token").filter(F.col("id_small") != F.col("id_big"))
    bw = t.select(
        F.col("doc_id").alias("id_big"), F.col("w").alias("wb"), F.col("sz").alias("n_big")
    )
    return (
        cand.join(bw, "id_big")
        .filter(
            (F.col("n_small") < F.col("n_big"))
            & (F.size(F.array_except("wa", "wb")) == 0)
        )
        .select(
            "id_small",
            "id_big",
            F.col("n_small").cast("long"),
            F.col("n_big").cast("long"),
        )
    )


@query(
    "cdc_latest_state",
    oracle="""
    WITH ranked AS (
        SELECT user_id, ts, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id,
           ts        AS last_ts,
           event_type AS last_op,
           ROUND(value, 6) AS last_value
    FROM ranked
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog compaction: materialize the latest state per key
    from an append-only change stream — newest record wins on the total
    (ts, event_id) order, and keys whose final record is a tombstone
    ('error' here) drop out of the materialized view. The batch twin of
    what `foreachBatch` upserts maintain incrementally.

    Scale shape: one shuffle on the key; newest-wins is a
    WindowGroupLimit-prunable row_number (per-partition top-1 pruned
    BEFORE the exchange, so the shuffle carries one candidate row per
    key per task, not the full history).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_op"),
            F.round("value", 6).alias("last_value"),
        )
    )


@query(
    "covisit_item_recs",
    oracle="""
    WITH views AS (
        SELECT DISTINCT user_id,
               CAST(json_extract(props, '$.k') AS INT) AS item
        FROM events WHERE event_type = 'view'
    ), pairs AS (
        SELECT a.item AS item_a, b.item AS item_b,
               CAST(COUNT(*) AS BIGINT) AS n_covisits
        FROM views a JOIN views b
          ON a.user_id = b.user_id AND a.item <> b.item
        GROUP BY 1, 2
    ), ranked AS (
        SELECT item_a, item_b, n_covisits,
               CAST(ROW_NUMBER() OVER (PARTITION BY item_a
                        ORDER BY n_covisits DESC, item_b) AS BIGINT) AS rnk
        FROM pairs
    )
    SELECT item_a, item_b, n_covisits, rnk FROM ranked WHERE rnk <= 5
    """,
)
def covisit_item_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-visitation recommender: for every item, the top-5
    items sharing the most viewers — the classic non-model recommender
    that serves next to ALS (and the cold-start fallback for items ALS
    drops). Item ids come out of the JSON props payload, so the query
    also exercises the JSON-extract path inside a join pipeline.

    Scale shape: the per-user distinct bounds pair fan-out by
    C(items_per_user, 2) — never corpus-quadratic; pair counts hash-agg
    map-side; the per-item top-5 is a rank window pruned by
    WindowGroupLimit before its shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.get_json_object("props", "$.k").cast("int").alias("item"),
        )
        .distinct()
    )
    a = views.alias("a")
    b = views.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item") != F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_covisits"))
    )
    w = Window.partitionBy("item_a").orderBy(F.desc("n_covisits"), F.asc("item_b"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
    )


@query("als_implicit_covisits")
def als_implicit_covisits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit-feedback ALS (Hu/Koren/Volinsky confidence weighting)
    trained on per-(user, item) view COUNTS from the events stream —
    the engagement-signal twin of the reference's explicit-rating ALS
    (`recommender.py:61`): no ratings exist, so strength-of-interaction
    becomes the confidence weight. Top-5 recs per user, exploded to
    scalar columns (rows-only: factor initialization is
    engine-internal, so values aren't oracle-comparable; pytest pins
    shape + score monotonicity instead).

    Scale shape: the training input is the pre-aggregated (user, item,
    n) relation — events collapse map-side before ALS ever sees them;
    recommendForAllUsers is the blocked factor cross-product with
    per-user top-k inside each block.
    """
    from pyspark_movie_recommender_spark.recommend import _als

    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").cast("int"),
            F.get_json_object("props", "$.k").cast("int").alias("item_id"),
        )
        .groupBy("user_id", "item_id")
        .agg(F.count(F.lit(1)).cast("float").alias("rating"))
    )
    model = _als(8, implicit=True).fit(views)
    recs = model.recommendForAllUsers(5)
    return recs.select(
        "user_id",
        F.posexplode("recommendations").alias("pos", "rec"),
    ).select(
        "user_id",
        (F.col("pos") + 1).cast("long").alias("rnk"),
        F.col("rec.item_id").cast("long").alias("item_id"),
        F.round(F.col("rec.rating"), 4).alias("score"),
    )


@query(
    "curation_end_to_end",
    bench=True,
    oracle="""
    WITH toks AS (
        SELECT doc_id, text, lang, n_chars,
               string_split(text, ' ') AS t
        FROM documents
    ), quality AS (
        SELECT doc_id, text, lang, n_chars,
               len(t) AS n_tokens,
               len(list_distinct(t)) AS n_distinct
        FROM toks
        WHERE n_chars >= 50
          AND len(t) > 0
          AND len(list_distinct(t)) * 10 >= len(t) * 3
    ), deduped AS (
        SELECT * FROM (
            SELECT q.*,
                   ROW_NUMBER() OVER (PARTITION BY sha256(text)
                                      ORDER BY doc_id) AS rn
            FROM quality q)
        WHERE rn = 1
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)            AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT)       AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT)        AS total_chars,
           CAST(SUM(n_tokens * 1000000) // SUM(n_chars) AS BIGINT)
               AS tokens_per_kchar_ppk
    FROM deduped GROUP BY lang
    """,
)
def curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE lazy plan: rule-based quality
    gate (length floor + type-token-ratio floor, integer arithmetic) →
    exact content dedup (hash groupBy keep-first, no window sort) →
    per-language corpus yield report with exact integer densities.
    This is the query a training-data run executes nightly; each stage
    is the library operator the standalone queries check in isolation,
    composed here to prove they pipeline without materialization
    barriers.

    Scale shape: quality is map-side (no shuffle); dedup shuffles on
    the content hash with map-side partial min; the report is a
    |langs|-row agg. One fact scan end-to-end — Catalyst fuses the
    stages into two exchanges total.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    quality = docs.select(
        "doc_id",
        "text",
        "lang",
        "n_chars",
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct"),
    ).filter(
        (F.col("n_chars") >= 50)
        & (F.col("n_tokens") > 0)
        & (F.col("n_distinct") * 10 >= F.col("n_tokens") * 3)
    )
    # exact dedup, groupBy-min form (same shape as operators/dedup.py
    # exact_dedup_by_hash): cheapest keeper per content hash, no window
    keeper = (
        quality.groupBy(F.sha2("text", 256).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    deduped = quality.join(keeper, "doc_id")
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.expr("(SUM(n_tokens) * 1000000) div SUM(n_chars)")
        .cast("long")
        .alias("tokens_per_kchar_ppk"),
    )


# ---------------------------------------------------------------------------
# wave 22: interval-union coverage, data-mixture allocation, nucleus vocab
# cutoff, cross-doc repeated-window scrub
# ---------------------------------------------------------------------------


@query(
    "interval_coverage_user",
    bench=True,
    oracle="""
    WITH iv AS (
        SELECT user_id, event_id,
               epoch_us(ts)                        AS s_us,
               epoch_us(ts) + 300 * 1000000        AS e_us
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, s_us, e_us,
               CASE WHEN MAX(e_us) OVER (
                        PARTITION BY user_id ORDER BY s_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        IS NULL
                 OR s_us > MAX(e_us) OVER (
                        PARTITION BY user_id ORDER BY s_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS new_island
        FROM iv
    ), islands AS (
        SELECT user_id, s_us, e_us,
               SUM(new_island) OVER (
                   PARTITION BY user_id ORDER BY s_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island_id
        FROM flagged
    ), per_island AS (
        SELECT user_id, island_id,
               MAX(e_us) - MIN(s_us) AS covered_us
        FROM islands GROUP BY user_id, island_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT)                     AS n_islands,
           CAST(SUM(covered_us) // 1000000 AS BIGINT)   AS covered_s
    FROM per_island GROUP BY user_id
    """,
)
def interval_coverage_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage: each event claims [ts, ts+5min); report
    per user how many disjoint coverage islands the union forms and the
    total covered seconds.

    Distinct from sessionization (gap-based grouping of POINTS): this is
    the measure of the union of INTERVALS — the uptime/watch-time/
    presence metric. Classic sweep: an interval starts a new island iff
    its start exceeds the running max end of everything before it.

    Scale shape: one shuffle on user_id; both windows and both
    aggregations reuse the same partitioning, so the whole query is a
    single exchange. All arithmetic in BIGINT microseconds — exact.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    iv = ev.select(
        "user_id",
        "event_id",
        us.alias("s_us"),
        (us + F.lit(300 * 1_000_000)).alias("e_us"),
    )
    w = Window.partitionBy("user_id").orderBy("s_us", "event_id")
    prev_max_end = F.max("e_us").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(
            prev_max_end.isNull() | (F.col("s_us") > prev_max_end), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_island = islands.groupBy("user_id", "island_id").agg(
        (F.max("e_us") - F.min("s_us")).alias("covered_us")
    )
    return per_island.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.expr("SUM(covered_us) div 1000000").cast("long").alias("covered_s"),
    )


@query(
    "source_mixture_allocation",
    oracle="""
    WITH per_src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ), weighted AS (
        -- temperature alpha=0.5 via integer sqrt: deterministic on both
        -- engines (sqrt of one integer is correctly rounded IEEE; floor
        -- of that is exact)
        SELECT source, n_docs,
               CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w
        FROM per_src
    ), shares AS (
        SELECT source, n_docs, w,
               SUM(w) OVER ()                         AS tot_w,
               (1000 * w) // SUM(w) OVER ()           AS base,
               (1000 * w) %  SUM(w) OVER ()           AS rem
        FROM weighted
    ), ranked AS (
        SELECT source, n_docs, w, base,
               ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rnk,
               1000 - SUM(base) OVER ()                      AS deficit
        FROM shares
    )
    SELECT source, n_docs,
           CAST(w AS BIGINT)    AS weight,
           CAST(base + CASE WHEN rnk <= deficit THEN 1 ELSE 0 END AS BIGINT)
               AS alloc_docs
    FROM ranked
    """,
)
def source_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mixture: allocate a 1000-doc sampling budget across
    sources with temperature alpha=0.5 (weight = isqrt of doc count) via
    the largest-remainder method — allocations sum EXACTLY to the
    budget, every step BIGINT-exact, reproducible on any engine.

    This is the data-mixing stage of an LLM corpus build (down-weight
    huge crawls, up-weight small high-quality sources) reduced to
    integer arithmetic so the gate can hash-verify it.

    Scale shape: the fact scan collapses to |sources| rows in one
    map-side-partial agg; everything after runs on that tiny relation
    (single-partition windows over ~dozens of rows — bounded by the
    source catalog, not the corpus).
    """
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    weighted = per_src.withColumn(
        "w", F.floor(F.sqrt(F.col("n_docs").cast("double"))).cast("long")
    )
    wall = Window.partitionBy()
    shares = weighted.select(
        "source",
        "n_docs",
        "w",
        F.expr("(1000 * w) div SUM(w) OVER ()").alias("base"),
        (F.lit(1000) * F.col("w") % F.sum("w").over(wall)).alias("rem"),
    )
    ranked = shares.select(
        "source",
        "n_docs",
        "w",
        "base",
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "source"))
        .alias("rnk"),
        (F.lit(1000) - F.sum("base").over(wall)).alias("deficit"),
    )
    return ranked.select(
        "source",
        "n_docs",
        F.col("w").cast("long").alias("weight"),
        (
            F.col("base")
            + F.when(F.col("rnk") <= F.col("deficit"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_docs"),
    )


@query(
    "vocab_nucleus_cutoff",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), counts AS (
        SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok GROUP BY lang, token
    ), ranked AS (
        SELECT lang, token, cnt,
               SUM(cnt) OVER (PARTITION BY lang
                              ORDER BY cnt DESC, token
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cum,
               SUM(cnt) OVER (PARTITION BY lang)        AS total
        FROM counts
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)                          AS vocab_total,
           CAST(SUM(CASE WHEN (cum - cnt) * 100 < total * 99
                         THEN 1 ELSE 0 END) AS BIGINT)       AS vocab_kept,
           CAST(SUM(CASE WHEN (cum - cnt) * 100 < total * 99
                         THEN cnt ELSE 0 END) * 1000000
                // MAX(total) AS BIGINT)                     AS covered_ppm
    FROM ranked GROUP BY lang
    """,
)
def vocab_nucleus_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p) vocabulary truncation per language: keep the
    most frequent tokens until they cover 99% of the token mass, report
    kept/total vocab size and the exact coverage in ppm.

    The tokenizer-training decision (vocab size vs coverage) as a
    query: a token survives iff the mass BEFORE it is under the 99%
    line — pure BIGINT cumsum, no float thresholds.

    Scale shape: the corpus explode collapses map-side into a
    (lang, token) hash agg; the window runs over the VOCABULARY (not
    the corpus), partitioned by lang, so the sort is bounded by
    per-language vocab size. Final agg reuses the lang partitioning.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wlang = Window.partitionBy("lang")
    worder = wlang.orderBy(F.col("cnt").desc(), "token").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = counts.select(
        "lang",
        "cnt",
        F.sum("cnt").over(worder).alias("cum"),
        F.sum("cnt").over(wlang).alias("total"),
    )
    keep = (F.col("cum") - F.col("cnt")) * 100 < F.col("total") * 99
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("vocab_total"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("vocab_kept"),
        F.expr(
            "SUM(CASE WHEN (cum - cnt) * 100 < total * 99 THEN cnt ELSE 0 END)"
            " * 1000000 div MAX(total)"
        )
        .cast("long")
        .alias("covered_ppm"),
    )


@query(
    "repeated_window_scrub",
    bench=True,
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), chunks AS (
        SELECT doc_id,
               CAST(i AS BIGINT) AS chunk_id,
               array_to_string(t[i * 3 + 1 : i * 3 + 3], ' ') AS chunk
        FROM toks, LATERAL (
            SELECT unnest(generate_series(0, (len(t) - 1) // 3)) AS i)
    ), hot AS (
        SELECT chunk FROM chunks
        GROUP BY chunk HAVING COUNT(DISTINCT doc_id) >= 2
    ), flagged AS (
        SELECT c.doc_id, c.chunk_id, c.chunk,
               (h.chunk IS NOT NULL) AS is_hot
        FROM chunks c LEFT JOIN hot h ON c.chunk = h.chunk
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)                             AS n_chunks,
           CAST(SUM(CASE WHEN is_hot THEN 0 ELSE 1 END) AS BIGINT)
               AS n_kept,
           COALESCE(string_agg(CASE WHEN NOT is_hot THEN chunk END,
                               ' ' ORDER BY chunk_id), '')      AS new_text
    FROM flagged GROUP BY doc_id
    """,
)
def repeated_window_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-window removal (C4-style line dedup for
    a corpus without newlines): split every document into consecutive
    3-token windows, drop any window whose exact text occurs in >= 2
    distinct documents, and reassemble the surviving windows in order.

    This is the boilerplate-LINE scrub (nav bars, license headers,
    cookie banners) that document-level dedup misses — the document
    survives, the shared chunk inside it does not.

    Scale shape: chunking is a map-side ``transform(sequence(...))``
    over the token array (no posexplode of raw tokens — windows are
    built in-row, then exploded once). The hot-window table is the
    output of a hash agg bounded by corpus/cap and joins back on the
    chunk text; reassembly groups by doc_id with an order-restoring
    array_sort — no window-function sort over the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Round 9: bind the token array ONCE in a projection below the
    # generator; the lambda then slices a bound array instead of
    # re-splitting the document per chunk. HOF lambdas are interpreted,
    # so a free `split(text)` in the lambda body re-split the WHOLE
    # document once per chunk — O(tokens^2/3) character work per doc in
    # both consumer branches. CollapseProject keeps the binding because
    # `t` is non-cheap and referenced twice. Interleaved A/B: 0.586x
    # sf0.1 (n=5), 0.876x sf1 (n=3).
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, (size(t) - 1) div 3),"
                " i -> array_join(slice(t, i * 3 + 1, 3), ' '))"
            )
        ).alias("chunk_id", "chunk"),
    ).select(
        "doc_id", F.col("chunk_id").cast("long").alias("chunk_id"), "chunk"
    )
    # df >= 2 distinct docs  <=>  min(doc_id) != max(doc_id): a single
    # hash agg with map-side partials — no count-distinct Expand pass
    hot = (
        chunks.groupBy("chunk")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("chunk", F.lit(True).alias("is_hot"))
    )
    flagged = chunks.join(hot, "chunk", "left").withColumn(
        "is_hot", F.coalesce("is_hot", F.lit(False))
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("is_hot"), 0).otherwise(1))
        .cast("long")
        .alias("n_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "  CASE WHEN NOT is_hot THEN struct(chunk_id, chunk) END)),"
            " s -> s.chunk), ' ')"
        ).alias("new_text"),
    )


@query(
    "arrow_map_doc_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(strlen(text) AS BIGINT)                 AS n_bytes
    FROM documents
    """,
)
def arrow_map_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` surface: per-doc token/byte counts computed with
    pyarrow.compute kernels inside a RecordBatch iterator — the
    zero-copy Arrow-native Python boundary (no pandas conversion). The
    oracle verifies the Arrow kernel VALUES against the SQL spec.

    Scale shape: pure map-side, no shuffle; see
    operators/udf_surface.py arrow_doc_stats.
    """
    from pyspark_movie_recommender_spark.operators.udf_surface import arrow_doc_stats

    return arrow_doc_stats(load_table(spark, sf_dir, "documents"))


@query(
    "arrow_grouped_lang_stats",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)                          AS n_docs,
           CAST(SUM(strlen(text)) AS BIGINT)                 AS total_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents GROUP BY lang
    """,
)
def arrow_grouped_lang_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped ``applyInArrow`` surface: per-language corpus stats as a
    pyarrow Table → Table function — the Arrow-native twin of
    applyInPandas, completing the sanctioned Python-UDF surface
    (scalar/UDAF/applyInPandas/mapInPandas/UDTF/cogroup/mapInArrow/
    applyInArrow). Exact integer outputs → value-checked by the gate.

    Scale shape: one lang exchange, same as a groupBy agg; see
    operators/udf_surface.py arrow_grouped_lang_stats.
    """
    from pyspark_movie_recommender_spark.operators.udf_surface import (
        arrow_grouped_lang_stats,
    )

    return arrow_grouped_lang_stats(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# wave 23: mergeable-sketch tier (bitmap exact / theta / KLL) + positional
# phrase search
# ---------------------------------------------------------------------------
