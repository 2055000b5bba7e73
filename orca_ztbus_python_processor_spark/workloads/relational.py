"""Relational spine: scans, filters, joins, aggregations, sorts, set ops
on the TPC-H-ish corpus.

These exercise the operator families the reference delegates to Postgres
(SURVEY.md §2.1-2.7): parameterized range scans (``processor/main.py:91-144``),
the broadcast equi-join + DISTINCT (``:169-182``), top-1 sorts
(``simulator/main.py:63-71``), point lookups (``processor/main.py:207-234``),
UNION ALL (``:277-288``), and the aggregate library (``:449-598``).

Scale notes are inline per query; the global posture: dimension tables
are broadcast, fact-side filters sit directly on the parquet scan
(pushdown), aggregates are partial-agg friendly (no holistic fns in the
hot path except where parity demands exact percentile).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from orca_ztbus_python_processor_spark.functions.ranks import with_global_ntiles_cuts
from orca_ztbus_python_processor_spark.functions.stats import (
    column_stats,
    f32,
    guarded_div,
    oracle_column_stats,
)
from orca_ztbus_python_processor_spark.sources.parquet import read_table
from orca_ztbus_python_processor_spark.workloads.base import Catalog

CATALOG = Catalog()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# q1_pricing_summary — scan + pushed filter + groupBy + 8-way fused agg.
# TPC-H Q1 shape; covers A2/A3/A4 and the fused-aggregation pattern the
# engine uses for algorithm dispatch (SURVEY.md §3 EP2 rewrite).
# Scale: partial aggregation map-side; 6 groups -> shuffle is trivial.
# --------------------------------------------------------------------------
@CATALOG.query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS REAL)                                    AS sum_qty,
           CAST(sum(l_extendedprice) AS REAL)                               AS sum_base_price,
           CAST(sum(l_extendedprice * (1 - l_discount)) AS REAL)            AS sum_disc_price,
           CAST(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS REAL) AS sum_charge,
           CAST(avg(l_quantity) AS REAL)                                    AS avg_qty,
           CAST(avg(l_extendedprice) AS REAL)                               AS avg_price,
           CAST(avg(l_discount) AS REAL)                                    AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            f32(F.sum("l_quantity")).alias("sum_qty"),
            f32(F.sum("l_extendedprice")).alias("sum_base_price"),
            f32(F.sum(disc_price)).alias("sum_disc_price"),
            f32(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
            f32(F.avg("l_quantity")).alias("avg_qty"),
            f32(F.avg("l_extendedprice")).alias("avg_price"),
            f32(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# top1_latest_order — ORDER BY ... DESC LIMIT 1 (reference sim-log cursor
# read, simulator/main.py:63-74). Catalyst plans TakeOrderedAndProject:
# per-partition top-1 then a single-row merge — no global sort at scale.
# --------------------------------------------------------------------------
@CATALOG.query(
    "top1_latest_order",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate, CAST(o_totalprice AS REAL) AS o_totalprice
    FROM orders
    ORDER BY o_orderdate DESC, o_orderkey DESC
    LIMIT 1
    """,
)
def top1_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
        .limit(1)
        .select("o_orderkey", "o_custkey", "o_orderdate", f32(F.col("o_totalprice")).alias("o_totalprice"))
    )


# --------------------------------------------------------------------------
# point_lookup_customer — keyed point lookup (reference trip lookup,
# processor/main.py:207-234: SELECT ... WHERE id = ? LIMIT 1).
# Scale: with a sorted/bucketed layout this is a row-group skip, not a scan.
# --------------------------------------------------------------------------
@CATALOG.query(
    "point_lookup_customer",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, CAST(c_acctbal AS REAL) AS c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey = 42 LIMIT 1
    """,
)
def point_lookup_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") == 42)
        .limit(1)
        .select("c_custkey", "c_name", "c_nationkey", f32(F.col("c_acctbal")).alias("c_acctbal"), "c_mktsegment")
    )


# --------------------------------------------------------------------------
# q3_top_orders — 3-way join + group + top-k (TPC-H Q3 shape).
# customer is the small side -> broadcast; lineitem filter pushed to scan.
# --------------------------------------------------------------------------
@CATALOG.query(
    "q3_top_orders",
    oracle="""
    SELECT o.o_orderkey,
           CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS REAL) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-06-01'
      AND l.l_shipdate > TIMESTAMP '1997-06-01'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY sum(l.l_extendedprice * (1 - l.l_discount)) DESC, o.o_orderkey
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1997-06-01")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1997-06-01")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"))
        .orderBy(F.col("_rev").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", f32(F.col("_rev")).alias("revenue"), "o_orderdate")
    )


# --------------------------------------------------------------------------
# q5_region_revenue — 6-way star join (TPC-H Q5 shape). All dimensions
# broadcast; only orders><lineitem is a shuffle join, on the fact keys.
# --------------------------------------------------------------------------
@CATALOG.query(
    "q5_region_revenue",
    oracle="""
    SELECT n.n_name,
           CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS REAL) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), (li.l_suppkey == supp.s_suppkey) & (supp.s_nationkey == cust.c_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(f32(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
    )


# --------------------------------------------------------------------------
# semi / anti joins — EXISTS / NOT EXISTS, shuffle-free on the dim side.
# --------------------------------------------------------------------------
@CATALOG.query(
    "customers_with_orders_by_nation",
    oracle="""
    SELECT c.c_nationkey, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    """,
)
def customers_with_orders_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


@CATALOG.query(
    "customers_without_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# rollup_revenue — GROUPING SETS / ROLLUP (SURVEY.md §2.4 note).
# --------------------------------------------------------------------------
@CATALOG.query(
    "rollup_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_extendedprice) AS REAL) AS sum_price,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(f32(F.sum("l_extendedprice")).alias("sum_price"), F.count("*").alias("n_rows"))
    )


# --------------------------------------------------------------------------
# pivot_linestatus — pivot == conditional aggregation (map-side friendly).
# --------------------------------------------------------------------------
@CATALOG.query(
    "pivot_linestatus",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS REAL) AS qty_open,
           CAST(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS REAL) AS qty_filled
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
        .select(
            "l_returnflag",
            f32(F.col("O")).alias("qty_open"),
            f32(F.col("F")).alias("qty_filled"),
        )
    )


# --------------------------------------------------------------------------
# topk_orders_per_segment — top-k per group via ranking window
# (generalizes the reference's top-1 cursor read to keyed top-k).
# --------------------------------------------------------------------------
@CATALOG.query(
    "topk_orders_per_segment",
    oracle="""
    SELECT c_mktsegment, o_orderkey, CAST(o_totalprice AS REAL) AS o_totalprice
    FROM (
        SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
               row_number() OVER (PARTITION BY c.c_mktsegment
                                  ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    WHERE rn <= 3
    """,
)
def topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", f32(F.col("o_totalprice")).alias("o_totalprice"))
    )


# --------------------------------------------------------------------------
# union_price_slices — UNION ALL of two time slices then aggregate
# (reference lookback concat, processor/main.py:277-288).
# --------------------------------------------------------------------------
@CATALOG.query(
    "union_price_slices",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(sum(l_extendedprice) AS REAL) AS sum_price
    FROM (
        SELECT l_returnflag, l_extendedprice FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        UNION ALL
        SELECT l_returnflag, l_extendedprice FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
    )
    GROUP BY l_returnflag
    """,
)
def union_price_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice", "l_shipdate")
    a = li.where((F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1996-01-01"))
    b = li.where((F.col("l_shipdate") >= "1998-01-01") & (F.col("l_shipdate") < "1999-01-01"))
    return (
        a.unionByName(b)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_rows"), f32(F.sum("l_extendedprice")).alias("sum_price"))
    )


# --------------------------------------------------------------------------
# intersect / except — set ops on key domains.
# --------------------------------------------------------------------------
@CATALOG.query(
    "nations_with_customers_and_suppliers",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def nations_with_customers_and_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp)


@CATALOG.query(
    "nations_without_suppliers",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def nations_without_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.subtract(supp)


# --------------------------------------------------------------------------
# part_type_stats — the describe() stat bundle per group (reference
# other_metrics.py:27-38, the 32 commented algorithm surfaces), as ONE
# fused agg. Exact percentiles = correctness path; approx_percentile is
# the documented 100 TB path.
# --------------------------------------------------------------------------
@CATALOG.query(
    "part_type_stats",
    oracle=f"""
    SELECT p_type, {oracle_column_stats("p_retailprice", "price_")}
    FROM part
    GROUP BY p_type
    """,
)
def part_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "part")
        .groupBy("p_type")
        .agg(*column_stats("p_retailprice", "price_"))
    )


# --------------------------------------------------------------------------
# priority_value_share — guarded division + conditional aggregation
# (reference kwh_per_km NULL guards, processor/main.py:506-514).
# --------------------------------------------------------------------------
@CATALOG.query(
    "priority_value_share",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END) AS REAL) AS filled_value,
           CAST(CASE WHEN count(CASE WHEN o_orderstatus = 'F' THEN 1 END) > 0
                THEN sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END)
                     / count(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                END AS REAL) AS avg_filled_value
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def priority_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    is_f = F.col("o_orderstatus") == "F"
    filled_value = F.sum(F.when(is_f, F.col("o_totalprice")).otherwise(F.lit(0.0)))
    filled_count = F.sum(F.when(is_f, 1).otherwise(0))
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            f32(filled_value).alias("filled_value"),
            f32(guarded_div(filled_value, filled_count)).alias("avg_filled_value"),
        )
    )


# --------------------------------------------------------------------------
# parts_intersect_rf — INTERSECT (set semantics): parts that appear both
# in returned lineitems and in finished-status lineitems. (SURVEY.md
# §2.7 — the reference has no set ops beyond UNION ALL; intersect/
# except are built-in coverage.)
#
# Plan (round 7, VERDICT r6 #6): NOT DataFrame.intersect — Spark plans
# that as two distinct aggregates + a left-semi join, i.e. TWO scans of
# lineitem and two row-volume exchanges (measured 5.2x wall at 10x
# data). An INTERSECT of two filters OF THE SAME TABLE is just a
# conditional aggregation: ONE scan, map-side partial max of the two
# membership flags, ONE exchange carrying |distinct partkeys| partials.
# --------------------------------------------------------------------------
@CATALOG.query(
    "parts_intersect_rf",
    oracle="""
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
    INTERSECT
    SELECT l_partkey FROM lineitem WHERE l_linestatus = 'F'
    """,
)
def parts_intersect_rf(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_returnflag") == "R") | (F.col("l_linestatus") == "F"))
        .groupBy("l_partkey")
        .agg(
            F.max((F.col("l_returnflag") == "R").cast("int")).alias("_r"),
            F.max((F.col("l_linestatus") == "F").cast("int")).alias("_f"),
        )
        .where((F.col("_r") == 1) & (F.col("_f") == 1))
        .select("l_partkey")
    )


# --------------------------------------------------------------------------
# custs_without_urgent — EXCEPT (set semantics): customers who ordered
# but never at urgent priority. subtract() = EXCEPT DISTINCT; Catalyst
# plans it as a left-anti aggregate join with both filters pushed.
# --------------------------------------------------------------------------
@CATALOG.query(
    "custs_without_urgent",
    oracle="""
    SELECT o_custkey FROM orders
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def custs_without_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select("o_custkey").subtract(
        o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    )


# --------------------------------------------------------------------------
# cube_revenue — GROUP BY CUBE over (returnflag, linestatus) with
# GROUPING markers distinguishing data NULLs from subtotal rows.
# Scale: cube expands each input row into 2^k grouping sets BEFORE the
# shuffle but partial aggregation still applies; with low-cardinality
# dimensions the shuffled volume stays tiny.
# --------------------------------------------------------------------------
@CATALOG.query(
    "cube_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_returnflag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_linestatus,
           CAST(sum(l_extendedprice * (1 - l_discount)) AS REAL) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("long").alias("g_returnflag"),
        F.grouping("l_linestatus").cast("long").alias("g_linestatus"),
        f32(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
        F.count("*").alias("n_rows"),
    )


# --------------------------------------------------------------------------
# running_order_total — analytic window frame: per-customer running sum
# of order totals in (orderdate, orderkey) order. One shuffle on the
# partition key; the frame is computed in a single sorted pass.
# --------------------------------------------------------------------------
@CATALOG.query(
    "running_order_total",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS REAL) AS running_total,
           CAST(row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS order_seq
    FROM orders
    """,
)
def running_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        f32(F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))).alias(
            "running_total"
        ),
        F.row_number().over(w).cast("long").alias("order_seq"),
    )


# --------------------------------------------------------------------------
# unpivot_returnflag_measures — wide -> long reshape (the inverse of
# pivot_linestatus; the shape melt_results uses for the registry's
# result rows). unpivot is a zero-shuffle map-side explode.
# --------------------------------------------------------------------------
@CATALOG.query(
    "unpivot_returnflag_measures",
    oracle="""
    WITH wide AS (
        SELECT l_returnflag,
               CAST(sum(l_quantity) AS REAL) AS sum_qty,
               CAST(sum(l_extendedprice) AS REAL) AS sum_price,
               CAST(sum(l_discount) AS REAL) AS sum_disc
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, measure, value FROM wide
    UNPIVOT (value FOR measure IN (sum_qty, sum_price, sum_disc))
    """,
)
def unpivot_returnflag_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            f32(F.sum("l_quantity")).alias("sum_qty"),
            f32(F.sum("l_extendedprice")).alias("sum_price"),
            f32(F.sum("l_discount")).alias("sum_disc"),
        )
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "measure", "value"
    )


# --------------------------------------------------------------------------
# salted_mktsegment_rollup — the skew-mitigation join under the oracle
# gate: orders (fact) joined to the customer segment dimension through
# operators/skew.salted_join, which pre-splits every key n_salts ways
# so one hot customer cannot pin a reducer (the case AQE's runtime
# skew split can't fix when the skewed side is the build side). The
# salted result must equal the plain join exactly — that equivalence
# IS what this entry verifies against the unsalted oracle SQL.
# --------------------------------------------------------------------------
@CATALOG.query(
    "salted_mktsegment_rollup",
    oracle="""
    SELECT c.c_mktsegment, o.o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(o.o_totalprice) AS REAL) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
)
def salted_mktsegment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.skew import salted_join  # noqa: PLC0415

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    segments = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = salted_join(orders, segments, on="o_custkey", n_salts=8, how="inner")
    return joined.groupBy("c_mktsegment", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        f32(F.sum("o_totalprice")).alias("total_price"),
    )


# --------------------------------------------------------------------------
# nation_supplier_roster — ordered string aggregation (LISTAGG): the
# denormalized roster column a reporting sink materializes. Spark has
# no ordered listagg aggregate, but array_sort(collect_list(...)) +
# concat_ws is the standard rewrite and stays deterministic regardless
# of shuffle arrival order — collect_list alone is NOT (order varies
# per run), which is the trap this query pins down. One shuffle on
# nationkey; the dimension join broadcasts.
# --------------------------------------------------------------------------
@CATALOG.query(
    "nation_supplier_roster",
    oracle="""
    SELECT n.n_name AS nation,
           count(*) AS n_suppliers,
           CAST(sum(s.s_acctbal) AS REAL) AS total_acctbal,
           string_agg(s.s_name, ',' ORDER BY s.s_name) AS roster
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def nation_supplier_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_suppliers"),
            f32(F.sum("s_acctbal")).alias("total_acctbal"),
            F.concat_ws(",", F.array_sort(F.collect_list("s_name"))).alias("roster"),
        )
    )


# --------------------------------------------------------------------------
# priority_day_grid_fill — DENSE grid materialization: every
# (order-day, priority) cell of the cross product, zero-filled where no
# orders exist. The gap-filling shape dashboards and training-data
# balance reports need (a plain groupBy silently drops empty cells).
# Both axes derive from the data itself (distinct days x distinct
# priorities), cross-joined — each side is tiny after distinct, so the
# cross join is broadcast — then left-joined with the real counts.
# --------------------------------------------------------------------------
@CATALOG.query(
    "priority_day_grid_fill",
    oracle="""
    WITH days AS (SELECT DISTINCT date_trunc('day', o_orderdate) AS d FROM orders),
         prios AS (SELECT DISTINCT o_orderpriority AS p FROM orders),
         actual AS (
             SELECT date_trunc('day', o_orderdate) AS d,
                    o_orderpriority AS p,
                    count(*) AS n,
                    sum(o_totalprice) AS total
             FROM orders GROUP BY 1, 2
         )
    SELECT days.d AS order_day,
           prios.p AS priority,
           CAST(COALESCE(actual.n, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(actual.total, 0.0) AS REAL) AS total_price
    FROM days CROSS JOIN prios
    LEFT JOIN actual ON actual.d = days.d AND actual.p = prios.p
    """,
)
def priority_day_grid_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    days = o.select(F.date_trunc("day", F.col("o_orderdate")).alias("order_day")).distinct()
    prios = o.select(F.col("o_orderpriority").alias("priority")).distinct()
    actual = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("order_day"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("total"))
    return (
        days.crossJoin(F.broadcast(prios))
        .join(actual, ["order_day", "priority"], "left")
        .select(
            "order_day",
            "priority",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"),
            f32(F.coalesce(F.col("total"), F.lit(0.0))).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# nation_balance_full_outer — FULL OUTER join (the one join type the
# catalog's join matrix did not yet exercise: inner/left/semi/anti/
# interval/as-of are covered elsewhere): per-nation customer counts vs
# supplier counts, keeping nations present on EITHER side, zeros
# coalesced. Scale: both inputs pre-aggregate to ~|nations| rows before
# the join — full outer cannot broadcast (both sides preserve unmatched
# rows), but joining two already-reduced aggregates makes the shuffle
# O(keys), never O(fact).
# --------------------------------------------------------------------------
@CATALOG.query(
    "nation_balance_full_outer",
    oracle="""
    WITH c AS (
        SELECT c_nationkey AS nk, count(*) AS n_customers
        FROM customer GROUP BY c_nationkey
    ), s AS (
        SELECT s_nationkey AS nk, count(*) AS n_suppliers
        FROM supplier GROUP BY s_nationkey
    )
    SELECT coalesce(c.nk, s.nk) AS nationkey,
           coalesce(c.n_customers, 0) AS n_customers,
           coalesce(s.n_suppliers, 0) AS n_suppliers,
           coalesce(c.n_customers, 0) - coalesce(s.n_suppliers, 0) AS balance
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def nation_balance_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    joined = c.join(s, c.nk_c == s.nk_s, "full_outer")
    return joined.select(
        F.coalesce("nk_c", "nk_s").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        (
            F.coalesce("n_customers", F.lit(0)) - F.coalesce("n_suppliers", F.lit(0))
        ).alias("balance"),
    )


# --------------------------------------------------------------------------
# grouping_sets_revenue — non-hierarchical GROUPING SETS ((flag),
# (status)): two independent marginal rollups in ONE pass, the shape
# rollup/cube cannot express (rollup_revenue covers the hierarchical
# form). Spark 4's native DataFrame.groupingSets lowers to a single
# Expand + hash-agg — one scan, one shuffle, both marginals. grouping()
# flags disambiguate the NULLs from real group values.
# --------------------------------------------------------------------------
@CATALOG.query(
    "grouping_sets_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(sum(l_extendedprice) AS REAL) AS sum_price,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .groupingSets(
            [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            f32(F.sum("l_extendedprice")).alias("sum_price"),
            F.count("*").alias("n_rows"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "sum_price", "n_rows")
    )


# --------------------------------------------------------------------------
# customer_value_deciles — revenue concentration (Pareto profile): per-
# customer lifetime revenue, NTILE(10) by revenue DESC, then per-decile
# customer count, revenue mass, share, and cumulative share ("top 10%
# of customers hold X% of revenue"). The fact-table aggregation is
# fully distributed (one shuffle on o_custkey); the decile assignment
# uses functions.ranks.with_global_ntiles_cuts (histogram-selected cut
# keys → per-row comparison), so NO stage sorts or shuffles the
# customer dimension — identical NTILE semantics to the oracle,
# billion-customer safe. The share/cum-share pass runs on the
# 10-row decile frame via broadcast self-join (bounded cardinality), so
# the whole plan carries zero unpartitioned WindowExec nodes (pinned:
# test_deciles_no_unpartitioned_window).
# --------------------------------------------------------------------------
@CATALOG.query(
    "customer_value_deciles",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey, sum(o_totalprice) AS revenue
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT revenue,
               ntile(10) OVER (ORDER BY revenue DESC, o_custkey) AS decile
        FROM per_cust
    ), dec AS (
        SELECT decile,
               count(*) AS n_customers,
               sum(revenue) AS revenue_sum
        FROM ranked GROUP BY decile
    )
    SELECT decile, n_customers,
           CAST(revenue_sum AS REAL) AS revenue_sum,
           CAST(revenue_sum / sum(revenue_sum) OVER () AS REAL) AS revenue_share,
           CAST(sum(revenue_sum) OVER (ORDER BY decile)
                / sum(revenue_sum) OVER () AS REAL) AS cum_share
    FROM dec
    """,
)
def customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    dec = (
        # boundary-broadcast deciles (round-13): cut keys via histogram
        # selection, per-row bucket by comparison — no shuffle of the
        # customer frame (functions/ranks.py header).
        with_global_ntiles_cuts(
            per_cust, [(10, [("revenue", True), ("o_custkey", False)], "decile")]
        )
        .groupBy("decile")
        .agg(F.count("*").alias("n_customers"), F.sum("revenue").alias("revenue_sum"))
        .localCheckpoint(eager=False)  # ≤10 rows; reused by both sides below
    )
    # Running + grand totals over the ≤10-row decile frame via broadcast
    # self-join (b.decile <= a.decile) and a 1-row broadcast total — no
    # unpartitioned window anywhere in the plan.
    b = dec.select(F.col("decile").alias("_d"), F.col("revenue_sum").alias("_rs"))
    total = F.broadcast(dec.agg(F.sum("revenue_sum").alias("_total")))
    return (
        dec.join(F.broadcast(b), F.col("_d") <= F.col("decile"))
        .groupBy("decile", "n_customers", "revenue_sum")
        .agg(F.sum("_rs").alias("_cum"))
        .crossJoin(total)
        .select(
            "decile",
            "n_customers",
            f32(F.col("revenue_sum")).alias("revenue_sum"),
            f32(F.col("revenue_sum") / F.col("_total")).alias("revenue_share"),
            f32(F.col("_cum") / F.col("_total")).alias("cum_share"),
        )
    )


# --------------------------------------------------------------------------
# q4_late_shipment_priority — the TPC-H q4 shape (order-priority
# checking): count orders per priority, in a one-quarter window, that
# have AT LEAST ONE lineitem shipped more than 60 days after the order
# date (this corpus carries no commit/receipt dates, so "late" is
# ship-vs-order lag; the round-9 rework also moved the quarter from
# 2024 — OUTSIDE the fixture's 1995-2001 span, a vacuously-empty
# window the 0-row hash-match never caught — to 1996-Q1+, so the
# count is live; the decorrelated-EXISTS semantics are exactly q4's).
# The EXISTS runs as inner-join + partial-combined distinct with the
# quarter-filtered orders on the broadcastable build side — NOT a
# left-semi, which could only build the fact side and forced a
# SortMergeJoin (see the function body and the round-9 rework note).
# --------------------------------------------------------------------------
@CATALOG.query(
    "q4_late_shipment_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-02-01'
      AND o.o_orderdate < TIMESTAMP '1996-05-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q4_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXISTS as inner-join + distinct, NOT left-semi (round-9 rework —
    # the warm probe pinned this at 5.3x): a LeftSemi can only build
    # its RIGHT side, and the right side here is the fact table, so
    # the left-semi form was a forced SortMergeJoin that sorted and
    # shuffled every lineitem row. With the quarter-filtered orders on
    # the RIGHT of an inner join, AQE broadcasts it at runtime
    # (falling back to SMJ only if a 100 TB quarter outgrows the
    # threshold — the declarative form keeps both options open), the
    # fact table never shuffles, and the only exchange is the
    # partial-combined distinct over MATCHED (order, priority) pairs.
    # Warm sf1: 2.75 s -> 1.01 s, slope 5.3x -> 2.35x, per the
    # committed probe artifact (.benchmarks/warm_probes_r8pair.json) —
    # measured on the LIVE 1996 window (the old 2024 window also
    # returned zero rows).
    orders = (
        _t(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1996-02-01")
            & (F.col("o_orderdate") < "1996-05-01")
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("o_orderkey", "o_orderpriority")
        .distinct()
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


# --------------------------------------------------------------------------
# region_nation_revenue_share — percent-of-parent hierarchy rollup:
# per (region, nation) order revenue with the nation's share WITHIN its
# region and the region's share of the total. The standard BI
# drill-down contract (shares must sum to 1 within each parent). One
# fact aggregation (orders joined through the broadcast customer →
# nation → region dimension chain), then two windows over the tiny
# 25-row rollup.
# --------------------------------------------------------------------------
@CATALOG.query(
    "region_nation_revenue_share",
    oracle="""
    WITH rolled AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               sum(o.o_totalprice) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation,
           CAST(revenue AS REAL) AS revenue,
           CAST(revenue / sum(revenue) OVER (PARTITION BY region) AS REAL)
               AS share_in_region,
           CAST(sum(revenue) OVER (PARTITION BY region)
                / sum(revenue) OVER () AS REAL) AS region_share
    FROM rolled
    """,
)
def region_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = (
        _t(spark, sf_dir, "customer")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            _t(spark, sf_dir, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("c_custkey"),
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )
    rolled = (
        _t(spark, sf_dir, "orders")
        .join(F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("region", "nation")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    region_w = W.partitionBy("region")
    total_w = W.partitionBy()
    return rolled.select(
        "region",
        "nation",
        f32(F.col("revenue")).alias("revenue"),
        f32(F.col("revenue") / F.sum("revenue").over(region_w)).alias(
            "share_in_region"
        ),
        f32(
            F.sum("revenue").over(region_w) / F.sum("revenue").over(total_w)
        ).alias("region_share"),
    )


# --------------------------------------------------------------------------
# referential_integrity_audit — the data-quality gate a pipeline runs
# before trusting a snapshot: per FK constraint, how many child rows
# have no parent (anti-join counts), plus child totals. Every check is
# a broadcast/shuffle anti-join that Catalyst plans as LeftAnti with
# the parent side reduced to its key column — no fact fan-out, no
# distinct pass. The fixed 5-row output unions one row per constraint.
# --------------------------------------------------------------------------
@CATALOG.query(
    "referential_integrity_audit",
    oracle="""
    SELECT 'orders.o_custkey -> customer' AS constraint_name,
           (SELECT count(*) FROM orders) AS n_child_rows,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_orderkey -> orders',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'lineitem.l_partkey -> part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'customer.c_nationkey -> nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'events.user_id -> customer',
           (SELECT count(*) FROM events),
           (SELECT count(*) FROM events e
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = e.user_id))
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def check(
        name: str,
        child: DataFrame,
        child_key: str,
        parent: DataFrame,
        parent_key: str,
    ) -> DataFrame:
        # one LAZY row per constraint, ONE child pass (round-12): a
        # left join against the DISTINCT parent keys yields the total
        # (count of all rows — distinct keys cannot fan a child row
        # out) and the orphan count (parent key NULL) from the same
        # scan; the previous total-agg + anti-join shape scanned every
        # child table twice (15 scans at the census, 10 now).
        return (
            child.select(F.col(child_key).alias("_ck"))
            .join(
                parent.select(F.col(parent_key).alias("_pk")).distinct(),
                F.col("_ck") == F.col("_pk"),
                "left",
            )
            .agg(
                F.count("*").alias("n_child_rows"),
                # coalesce: sum over an EMPTY child is NULL, the old
                # anti-join count was 0 — keep the 0
                F.coalesce(
                    F.sum(F.col("_pk").isNull().cast("long")), F.lit(0)
                ).alias("n_orphans"),
            )
            .select(
                F.lit(name).alias("constraint_name"),
                "n_child_rows",
                "n_orphans",
            )
        )

    from orca_ztbus_python_processor_spark.sources.parquet import read_table  # noqa: PLC0415

    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    customer = _t(spark, sf_dir, "customer")
    frames = [
        check("orders.o_custkey -> customer", orders, "o_custkey", customer, "c_custkey"),
        check("lineitem.l_orderkey -> orders", lineitem, "l_orderkey", orders, "o_orderkey"),
        check("lineitem.l_partkey -> part", lineitem, "l_partkey", _t(spark, sf_dir, "part"), "p_partkey"),
        check("customer.c_nationkey -> nation", customer, "c_nationkey", _t(spark, sf_dir, "nation"), "n_nationkey"),
        check("events.user_id -> customer", read_table(spark, sf_dir, "events"), "user_id", customer, "c_custkey"),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# --------------------------------------------------------------------------
# lineitem_column_census — data-profiling staple: per numeric measure
# column, row/null/distinct counts and min/max/mean. Expressed as ONE
# unpivot (stack) pass — the 4× long-form explode is map-side and the
# per-column rollup is a single groupBy on the column name, instead of
# four separate scans or one wide aggregate with four count-distinct
# Expands. The profile every ingestion gate diffs against yesterday's.
# --------------------------------------------------------------------------
_CENSUS_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@CATALOG.query(
    "lineitem_column_census",
    oracle="""
    SELECT 'l_quantity' AS column_name, count(*) AS n_rows,
           count(*) - count(l_quantity) AS n_null,
           count(DISTINCT l_quantity) AS n_distinct,
           CAST(min(l_quantity) AS REAL) AS min_value,
           CAST(max(l_quantity) AS REAL) AS max_value,
           CAST(avg(l_quantity) AS REAL) AS mean_value
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
           count(DISTINCT l_extendedprice),
           CAST(min(l_extendedprice) AS REAL),
           CAST(max(l_extendedprice) AS REAL),
           CAST(avg(l_extendedprice) AS REAL)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', count(*), count(*) - count(l_discount),
           count(DISTINCT l_discount),
           CAST(min(l_discount) AS REAL), CAST(max(l_discount) AS REAL),
           CAST(avg(l_discount) AS REAL)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax', count(*), count(*) - count(l_tax),
           count(DISTINCT l_tax),
           CAST(min(l_tax) AS REAL), CAST(max(l_tax) AS REAL),
           CAST(avg(l_tax) AS REAL)
    FROM lineitem
    """,
)
def lineitem_column_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    stack_expr = "stack({n}, {args}) AS (column_name, value)".format(
        n=len(_CENSUS_COLS),
        args=", ".join(f"'{c}', {c}" for c in _CENSUS_COLS),
    )
    long_form = _t(spark, sf_dir, "lineitem").selectExpr(stack_expr)
    return (
        long_form.groupBy("column_name")
        .agg(
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count("value")).alias("n_null"),
            F.countDistinct("value").alias("n_distinct"),
            f32(F.min("value")).alias("min_value"),
            f32(F.max("value")).alias("max_value"),
            f32(F.avg("value")).alias("mean_value"),
        )
    )


# --------------------------------------------------------------------------
# fulfillment_lag_profile — ship-vs-order lag distribution per order
# priority: exact median/p90/max of (l_shipdate - o_orderdate) in days.
# The cross-table interval metric behind SLA reporting. The orders date
# frame broadcasts onto the lineitem scan (fact never re-shuffles for
# the join); one exact-percentile agg per priority follows.
# --------------------------------------------------------------------------
@CATALOG.query(
    "fulfillment_lag_profile",
    oracle="""
    WITH lags AS (
        SELECT o.o_orderpriority,
               date_diff('day', o.o_orderdate, l.l_shipdate) AS lag_days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           count(*) AS n_lineitems,
           CAST(quantile_cont(lag_days, 0.5) AS REAL) AS median_lag_days,
           CAST(quantile_cont(lag_days, 0.9) AS REAL) AS p90_lag_days,
           CAST(max(lag_days) AS BIGINT) AS max_lag_days
    FROM lags
    GROUP BY o_orderpriority
    """,
)
def fulfillment_lag_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lag_days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(F.broadcast(orders), F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_orderpriority", lag_days.alias("lag_days"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lineitems"),
            f32(F.percentile("lag_days", F.lit(0.5))).alias("median_lag_days"),
            f32(F.percentile("lag_days", F.lit(0.9))).alias("p90_lag_days"),
            F.max("lag_days").cast("long").alias("max_lag_days"),
        )
    )


# --------------------------------------------------------------------------
# user_rfm_segments — RFM segmentation (the marketing-analytics
# classic): per user recency (last-activity timestamp — oldest =
# quartile 1), frequency (event count), monetary (value sum), each
# quartiled with NTILE(4) (deterministic user_id tie-breaks),
# composed into a 3-digit
# segment code, then segment-level population counts. The per-user
# aggregate is the only fact-scale pass; the three quartile dimensions
# share one functions.ranks.with_global_ntiles_cuts pipeline
# (histogram-selected cut keys + per-row comparison) over the
# checkpointed user frame — zero single-partition sorts, identical
# NTILE semantics to the oracle (pinned:
# test_rfm_no_unpartitioned_window). Billion-user safe.
# --------------------------------------------------------------------------
@CATALOG.query(
    "user_rfm_segments",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               max(ts) AS last_ts,
               count(*) AS frequency,
               sum(value) AS monetary
        FROM events GROUP BY user_id
    ), scored AS (
        SELECT ntile(4) OVER (ORDER BY last_ts, user_id) AS r,
               ntile(4) OVER (ORDER BY frequency, user_id) AS f,
               ntile(4) OVER (ORDER BY monetary, user_id) AS m
        FROM per_user
    )
    SELECT CAST(r * 100 + f * 10 + m AS BIGINT) AS segment,
           count(*) AS n_users
    FROM scored
    GROUP BY 1
    """,
)
def user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_rfm(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").alias("frequency"),
        F.sum("value").alias("monetary"),
    )
    # recency quartile orders directly on last-activity time (oldest =
    # quartile 1): timestamp ordering is exactly portable, unlike an
    # hours-since conversion (boundary-count vs elapsed semantics
    # diverge between engines). Checkpoint the user frame: the
    # cut-selection passes and the final rollup all re-read it.
    # All three quartile dimensions resolve in ONE cut-key pipeline
    # (functions/ranks.py with_global_ntiles_cuts): shared
    # scalar-aggregation jobs plus a comparison projection — the user
    # frame is never shuffled.
    per_user = per_user.localCheckpoint(eager=False)
    scored = with_global_ntiles_cuts(
        per_user,
        [
            (4, [("last_ts", False), ("user_id", False)], "r"),
            (4, [("frequency", False), ("user_id", False)], "f"),
            (4, [("monetary", False), ("user_id", False)], "m"),
        ],
    )
    return (
        scored.groupBy(
            (F.col("r") * 100 + F.col("f") * 10 + F.col("m"))
            .cast("long")
            .alias("segment")
        )
        .agg(F.count("*").alias("n_users"))
    )


def _events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "events")


# --------------------------------------------------------------------------
# benford_leading_digit — data-quality screen: leading-digit frequency
# of o_totalprice vs the Benford expectation log10(1 + 1/d), with
# absolute deviation per digit. The classic fabricated-data detector,
# run as ONE map-combinable aggregate over the fact scan (the digit is
# pure string/casting codegen; the output frame is 9 rows). Any corpus
# size: partial counts per digit, one exchange of 9 longs.
# --------------------------------------------------------------------------
@CATALOG.query(
    "benford_leading_digit",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                    AS BIGINT) AS digit
        FROM orders
        WHERE o_totalprice >= 1
    )
    SELECT digit,
           count(*) AS n_orders,
           CAST(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE) AS REAL)
               AS observed_share,
           CAST(log10(1.0 + 1.0 / digit) AS REAL) AS benford_share,
           CAST(abs(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE)
                    - log10(1.0 + 1.0 / digit)) AS REAL) AS abs_deviation
    FROM d
    GROUP BY digit
    """,
)
def benford_leading_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("long")
    counts = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count("*").alias("n_orders"))
        .localCheckpoint(eager=False)  # 9 rows; reused by the total side
    )
    total = F.broadcast(counts.agg(F.sum("n_orders").alias("_total")))
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    share = F.col("n_orders") / F.col("_total").cast("double")
    return counts.crossJoin(total).select(
        "digit",
        "n_orders",
        f32(share).alias("observed_share"),
        f32(benford).alias("benford_share"),
        f32(F.abs(share - benford)).alias("abs_deviation"),
    )


# --------------------------------------------------------------------------
# customer_revenue_percentile — entity-grain percent_rank WITHOUT the
# single-partition window sort: exact global rank from
# functions.ranks.with_global_rank (range shuffle + partitioned local
# running count + broadcast offsets), percentile = rank/(n-1). The oracle
# is SQL percent_rank() over the same TOTAL order (revenue, custkey —
# unique tie-break makes rank == row_number, so the two definitions
# coincide exactly). The demonstration query for the docs/SCALE.md
# global-window policy: customer-grain ranking with zero unpartitioned
# WindowExec (covered by the catalog-wide lint).
# --------------------------------------------------------------------------
@CATALOG.query(
    "customer_revenue_percentile",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey, sum(o_totalprice) AS revenue
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(revenue AS REAL) AS revenue,
           CAST(percent_rank() OVER (ORDER BY revenue, o_custkey) AS REAL)
               AS pct_rank
    FROM per_cust
    """,
)
def customer_revenue_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.functions.ranks import (  # noqa: PLC0415
        with_global_rank,
    )

    per_cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    ranked, n = with_global_rank(
        per_cust, [F.col("revenue"), F.col("o_custkey")], "_r0"
    )
    denom = float(max(n - 1, 1))
    return ranked.select(
        "o_custkey",
        f32(F.col("revenue")).alias("revenue"),
        f32(F.col("_r0") / F.lit(denom)).alias("pct_rank"),
    )


# --------------------------------------------------------------------------
# relational_division_suppliers — relational DIVISION (the "FOR ALL"
# operator family, SURVEY §2.3's only untouched join-algebra corner):
# suppliers whose shipped parts cover EVERY brand in the part catalog.
# Plan shape: distinct (supplier, brand) pairs — partial-agg before the
# one fact exchange — counted per supplier and compared to the brand
# total, which enters as a broadcast 1-row aggregate (never a collect).
# At 100 TB the pair-distinct is the only fact-scale stage.
# --------------------------------------------------------------------------
@CATALOG.query(
    "relational_division_suppliers",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT l.l_suppkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), tot AS (SELECT count(DISTINCT p_brand) AS n_brands FROM part)
    SELECT s.s_suppkey, s.s_name,
           CAST(count(*) AS BIGINT) AS n_brands_covered
    FROM pairs
    JOIN supplier s ON pairs.l_suppkey = s.s_suppkey
    GROUP BY s.s_suppkey, s.s_name
    HAVING count(*) = (SELECT n_brands FROM tot)
    """,
)
def relational_division_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(part.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .select("l_suppkey", "p_brand")
        .distinct()
    )
    covered = pairs.groupBy("l_suppkey").agg(
        F.count("*").alias("n_brands_covered")
    )
    total = F.broadcast(
        part.agg(F.count_distinct("p_brand").alias("_n_brands"))
    )
    sup = F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        covered.crossJoin(total)
        .where(F.col("n_brands_covered") == F.col("_n_brands"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "n_brands_covered")
    )


# --------------------------------------------------------------------------
# merge_upsert_actions — the warehouse MERGE (CDC upsert) shape: a
# change source (per-customer order rollup) merged onto a dimension
# snapshot (customers with even keys — deterministically "half-stale"
# so every branch is non-empty), classifying each key into the four
# MERGE actions: update_active / update_lapsed (WHEN MATCHED, split on
# revenue), insert (WHEN NOT MATCHED BY TARGET), delete_candidate
# (WHEN NOT MATCHED BY SOURCE). Spark has no MERGE INTO on plain
# parquet, so the engine form is the canonical rewrite every lakehouse
# engine compiles MERGE to: ONE full-outer join on the key + CASE
# action assignment — here rolled up to action-grain counts. The
# source aggregation partial-aggs before its exchange; the join keys
# co-partition.
# --------------------------------------------------------------------------
@CATALOG.query(
    "merge_upsert_actions",
    oracle="""
    WITH base AS (
        SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 2 = 0
    ), src AS (
        SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS revenue
        FROM orders GROUP BY o_custkey
    ), merged AS (
        SELECT CASE
                 WHEN b.c_custkey IS NULL THEN 'insert'
                 WHEN s.o_custkey IS NULL THEN 'delete_candidate'
                 WHEN s.revenue >= 100000 THEN 'update_active'
                 ELSE 'update_lapsed'
               END AS action,
               coalesce(s.revenue, 0.0) AS revenue,
               coalesce(s.n_orders, 0) AS n_orders
        FROM base b FULL OUTER JOIN src s ON b.c_custkey = s.o_custkey
    )
    SELECT action,
           count(*) AS n_keys,
           CAST(sum(n_orders) AS BIGINT) AS n_orders,
           CAST(sum(revenue) AS REAL) AS revenue
    FROM merged
    GROUP BY action
    """,
)
def merge_upsert_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", "c_acctbal")
    )
    src = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), F.sum("o_totalprice").alias("revenue"))
    )
    merged = base.join(src, base.c_custkey == src.o_custkey, "full_outer")
    action = (
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("o_custkey").isNull(), "delete_candidate")
        .when(F.col("revenue") >= 100000, "update_active")
        .otherwise("update_lapsed")
    )
    return (
        merged.select(
            action.alias("action"),
            F.coalesce(F.col("revenue"), F.lit(0.0)).alias("revenue"),
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        )
        .groupBy("action")
        .agg(
            F.count("*").alias("n_keys"),
            F.sum("n_orders").cast("long").alias("n_orders"),
            f32(F.sum("revenue")).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Shared co-purchase graph builders (round-8 review finding #4: this
# block used to be pasted at every graph query). Pair generation
# WITHOUT a self-join: one groupBy(order) collects the sorted distinct
# part set (collect_set partial-aggregates map-side), then the ordered
# pairs explode from array slices — per-order work is bounded by order
# width^2 (TPC-H <= 7 lines), and the whole build is TWO exchanges
# (order grouping, pair counts) instead of the
# distinct + self-join + groupBy chain's four.
# --------------------------------------------------------------------------
_COPURCHASE_PAIR_EXPR = (
    "flatten(transform(parts, (x, i) ->"
    " transform(slice(parts, i + 2, size(parts)),"
    " y -> struct(x AS a, y AS b))))"
)


def _copurchase_parts_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )


def _copurchase_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per unordered co-purchased part pair (a < b) with its
    order co-occurrence count ``n_co``."""
    return (
        _copurchase_parts_per_order(spark, sf_dir)
        .select(F.explode(F.expr(_COPURCHASE_PAIR_EXPR)).alias("e"))
        .groupBy(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
        .agg(F.count("*").alias("n_co"))
    )


def _copurchase_weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``src, dst, weight`` (double) over ALL co-purchased pairs —
    the PageRank input (one row per unordered pair)."""
    return _copurchase_pair_counts(spark, sf_dir).select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        F.col("n_co").cast("double").alias("weight"),
    )


# both pair DIRECTIONS in one map-side explode (x paired with every
# OTHER element): the symmetrized edge list without a union of two
# branches over the pair-count aggregate
_COPURCHASE_BOTH_DIR_EXPR = (
    "flatten(transform(parts, x ->"
    " transform(filter(parts, y -> y != x),"
    " y -> struct(x AS src, y AS dst))))"
)


def _copurchase_sym_weighted_edges(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Symmetrized ``src, dst, weight`` built in ONE scan and ONE wide
    exchange (VERDICT r9 #4): both pair directions explode map-side
    from the per-order parts array, ``repartition("src")`` ships the
    incidence rows ONCE, and the (src, dst) count aggregates IN PLACE
    — ``HashPartitioning(src)`` satisfies the aggregation's clustered
    distribution (src is a subset of the grouping keys), so Catalyst
    plans no second exchange and the persisted table is round-ready
    for label propagation.

    This inverts the round-9 form (aggregate at pair grain first,
    THEN repartition("src")), which paid TWO full pair-grain
    exchanges to buy a map-side combine that is worthless on this
    graph shape: the measured mean pair weight is 1.003 (max 3) at
    sf1, i.e. incidence grain IS pair grain, and the second exchange
    tripled the warm build wall (12.1 s -> 3.0 s at sf1,
    .benchmarks/lpa_stage_times.json). REGIME NOTE for heavy-tailed
    deployments: if a pair can be co-bought in thousands of orders,
    the incidence stream grows past the pair table and the
    combine-first form wins — flip the aggregate back ahead of the
    repartition there; the two forms are row-identical (parity pinned
    in tests/test_round9_ops.py)."""
    return (
        _copurchase_parts_per_order(spark, sf_dir)
        .select(F.explode(F.expr(_COPURCHASE_BOTH_DIR_EXPR)).alias("e"))
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .repartition("src")
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("weight"))
    )


def _copurchase_recurrent_edges(
    spark: SparkSession, sf_dir: str, checkpoint: bool = True
) -> DataFrame:
    """``a, b`` pairs co-purchased in >= 2 DISTINCT orders — the
    noise-filtered simple graph the structural queries (triangles,
    k-core, BFS, Jaccard, assortativity, degree census) run on.
    ``checkpoint`` pins the edge table when the caller re-reads it."""
    edges = (
        _copurchase_pair_counts(spark, sf_dir)
        .where(F.col("n_co") >= 2)
        .select("a", "b")
    )
    return edges.localCheckpoint(eager=False) if checkpoint else edges


# --------------------------------------------------------------------------
# copurchase_pagerank_topk — co-purchase item centrality: parts that
# ship together in one order form a weighted undirected graph
# (weight = co-occurrence count); 5 fixed PageRank iterations
# (operators/pagerank.py) rank the parts; top-20 by (rank, partkey).
# The iterative-graph family beyond connected components; exactness
# pinned against a numpy reference in tests/test_pagerank.py.
# Scale: pairs-per-order is bounded by order width (TPC-H <= 7 lines),
# so the edge build is linear in lineitems; each iteration is one
# co-partitioned join + agg with a scalar-only driver footprint.
#
# Oracle promotion (round 11, the LPA/HITS fixed-round trick): the
# iteration runs with per-round f32 QUANTIZATION of the rank vector
# (pagerank(quantize_f32=True)), so each round's input is
# representation-stable across engines — summation-order ulp drift is
# absorbed at every round boundary instead of compounding — and the
# oracle unrolls the 5 rounds as chained CTEs. Everything upstream of
# the first sum is exact: weights are integer counts (exact in
# doubles), out-weights are integer sums, transition probabilities and
# the 1/n init are single IEEE divisions. The (rank DESC, partkey)
# order is total, so the top-20 cut is engine-portable. Residual risk
# is one per-round f64 sum landing exactly on an f32 rounding
# boundary — the same accepted class as every other f32 output
# boundary in the catalog. Numpy parity of the quantized variant vs
# the unquantized reference stays within f32 tolerance
# (tests/test_pagerank.py).
# --------------------------------------------------------------------------
_PAGERANK_ROUND_CTE = """
    , r{i} AS (
        SELECT t.dst AS node,
               CAST(CAST((1.0 - 0.85) / nn.n + 0.85 * sum(t.p * r.rank)
                    AS REAL) AS DOUBLE) AS rank
        FROM trans t JOIN r{prev} r ON r.node = t.src, nn
        GROUP BY t.dst, nn.n
    )
"""


@CATALOG.query(
    "copurchase_pagerank_topk",
    oracle="""
    WITH parts_per_order AS (
        SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
        FROM lineitem GROUP BY l_orderkey
    ), e AS (
        SELECT u.part AS src, v.part AS dst, CAST(count(*) AS DOUBLE) AS w
        FROM parts_per_order,
             unnest(parts) AS u(part), unnest(parts) AS v(part)
        WHERE u.part < v.part GROUP BY 1, 2
    ), sym AS (
        SELECT src, dst, w FROM e
        UNION ALL
        SELECT dst AS src, src AS dst, w FROM e
    ), ow AS (
        SELECT src, sum(w) AS out_w FROM sym GROUP BY src
    ), nn AS (
        SELECT count(*) AS n FROM ow
    ), trans AS (
        SELECT s.src, s.dst, s.w / o.out_w AS p
        FROM sym s JOIN ow o USING (src)
    ), r0 AS (
        SELECT src AS node, 1.0 / nn.n AS rank FROM ow, nn
    )
    """
    + "".join(
        _PAGERANK_ROUND_CTE.format(i=i, prev=i - 1) for i in range(1, 6)
    )
    + """
    SELECT node AS l_partkey, CAST(rank AS REAL) AS rank
    FROM r5 ORDER BY rank DESC, node LIMIT 20
    """,
)
def copurchase_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.pagerank import (  # noqa: PLC0415
        pagerank,
    )

    edges = _copurchase_weighted_edges(spark, sf_dir)
    ranks = pagerank(edges, damping=0.85, iters=5, quantize_f32=True)
    return (
        ranks.orderBy(F.col("rank").desc(), F.col("node"))
        .limit(20)
        .select(F.col("node").alias("l_partkey"), f32(F.col("rank")).alias("rank"))
    )


# --------------------------------------------------------------------------
# shipments_point_in_time_tier — POINT-IN-TIME (temporal) dimension
# join: each shipment looked up against the customer's loyalty-tier
# SCD interval valid AT ship time. Tiers derive from the order history
# itself (1st order -> 'new', 2nd -> 'repeat', 4th -> 'loyal'), so the
# dimension CHANGES through the fact table's time range and the lookup
# is non-degenerate: early line items bill under 'new', later ones
# under 'loyal'. Because tier intervals are contiguous per customer,
# the lookup is exactly a backward as-of on valid_from — the single
# union-window pass of operators/asofjoin.py, never an interval
# explosion; same-date tier jumps collapse to the HIGHEST tier reached
# that day (max_by), which also keeps the as-of right side unique per
# (customer, valid_from). DuckDB's native ASOF join is the oracle.
# --------------------------------------------------------------------------
@CATALOG.query(
    "shipments_point_in_time_tier",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey, o_orderdate, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ), changes AS (
        SELECT o_custkey AS user_key, o_orderdate AS valid_from,
               CASE WHEN rn = 1 THEN 'new'
                    WHEN rn = 2 THEN 'repeat' ELSE 'loyal' END AS tier,
               CASE WHEN rn = 1 THEN 1 WHEN rn = 2 THEN 2 ELSE 3 END AS tier_rank
        FROM ranked WHERE rn IN (1, 2, 4)
    ), states AS (
        SELECT user_key, valid_from, arg_max(tier, tier_rank) AS tier
        FROM changes GROUP BY user_key, valid_from
    ), probe AS (
        SELECT o.o_custkey AS user_key, l.l_shipdate AS pts,
               l.l_extendedprice AS price
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT s.tier,
           count(*) AS n_lineitems,
           CAST(sum(p.price) AS REAL) AS revenue
    FROM probe p ASOF LEFT JOIN states s
      ON p.user_key = s.user_key AND p.pts >= s.valid_from
    GROUP BY s.tier
    """,
)
def shipments_point_in_time_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.asofjoin import (  # noqa: PLC0415
        asof_join,
    )

    orders = _t(spark, sf_dir, "orders")
    rn = F.row_number().over(
        W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    )
    changes = (
        orders.select("o_custkey", "o_orderdate", rn.alias("rn"))
        .where(F.col("rn").isin(1, 2, 4))
        .select(
            F.col("o_custkey").alias("user_key"),
            F.col("o_orderdate").alias("valid_from"),
            F.when(F.col("rn") == 1, "new")
            .when(F.col("rn") == 2, "repeat")
            .otherwise("loyal")
            .alias("tier"),
            F.when(F.col("rn") == 1, 1)
            .when(F.col("rn") == 2, 2)
            .otherwise(3)
            .alias("tier_rank"),
        )
    )
    states = changes.groupBy("user_key", "valid_from").agg(
        F.max_by("tier", "tier_rank").alias("tier")
    )
    probe = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate", "l_extendedprice")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("user_key"),
            F.col("l_shipdate").alias("pts"),
            F.col("l_extendedprice").alias("price"),
        )
    )
    joined = asof_join(
        probe,
        states,
        on="user_key",
        left_time="pts",
        right_time="valid_from",
        payload_cols=["tier"],
        direction="backward",
    )
    return joined.groupBy("tier").agg(
        F.count("*").alias("n_lineitems"),
        f32(F.sum("price")).alias("revenue"),
    )


def _copurchase_oriented(
    spark: SparkSession, sf_dir: str, broadcast_nodes_limit: int
) -> tuple:
    """(edges, deg, oriented) — degree-ordered orientation of the
    recurrent co-purchase graph, shared by the triangle census and the
    local clustering histogram (round 9; factored rather than pasted,
    per the round-8 edge-builder lesson)."""
    # checkpointed: reused by degree + orient + probe
    edges = _copurchase_recurrent_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
        # Deliberately NOT checkpointed: deg derives from the pinned
        # edge RDD, so each reuse is one tiny node-grain exchange —
        # while a LogicalRDD here would drop the Aggregate's row-count
        # estimate and the downstream join-size product would balloon
        # (KiB x KiB -> TiB), mis-planning the wedge join as a
        # sort-merge join at any scale where it should hash.
    )
    # Orientation: lower (degree, id) endpoint becomes src. The degree
    # table is node-grain (part-grain here, bounded by |distinct
    # parts|): up to ``broadcast_nodes_limit`` nodes it broadcasts onto
    # the edges — the same threshold/fallback duality operators.pagerank
    # models (VERDICT r6 #3). Beyond the limit (billion-node graphs)
    # the enrich joins fall back to shuffle joins on the node key: one
    # edge-table exchange each, the standard bound.
    small = deg.count() <= broadcast_nodes_limit
    deg_a = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    deg_b = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    if small:
        deg_a, deg_b = F.broadcast(deg_a), F.broadcast(deg_b)
    e = edges.join(deg_a, "a").join(deg_b, "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    ).localCheckpoint(eager=False)  # reused as both wedge sides + probe
    return edges, deg, oriented



# --------------------------------------------------------------------------
# copurchase_triangle_count — distributed triangle counting over the
# RECURRENT co-purchase part graph (pairs bought together in >= 2
# orders — single co-occurrence in market-basket data is hub noise
# that densifies the graph ~100x without signal): global edge/wedge/
# triangle census + clustering coefficient.
# Degree-ordered orientation (each undirected edge points from its
# lower-(degree, id) endpoint to the higher) bounds every node's
# out-degree by O(sqrt(|E|)) — the classic bound that makes the wedge
# self-join arboricity-limited instead of hub-quadratic: a star of
# degree d contributes d wedges under orientation, not d². Wedges then
# probe the oriented edge set with ONE equi-join; no CartesianProduct
# anywhere (pinned). Fully SQL-expressible, so the oracle is the same
# algebra in DuckDB. At 100 TB: orientation is two hash joins against a
# broadcast-or-shuffled degree table; the wedge join shuffles on the
# center node; the closing probe shuffles on the (v, w) pair — all
# key-partitioned, skew-bounded by the orientation.
# --------------------------------------------------------------------------
@CATALOG.query(
    "copurchase_triangle_count",
    oracle="""
    WITH parts_per_order AS (
        SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
        FROM lineitem GROUP BY l_orderkey
    ), pair_w AS (
        SELECT u.part AS a, v.part AS b
        FROM parts_per_order,
             unnest(parts) AS u(part), unnest(parts) AS v(part)
        WHERE u.part < v.part
    ), edges AS (
        SELECT a, b FROM pair_w GROUP BY a, b HAVING count(*) >= 2
    ), deg AS (
        SELECT node, count(*) AS d FROM (
            SELECT a AS node FROM edges UNION ALL SELECT b FROM edges
        ) GROUP BY node
    ), oriented AS (
        SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS src,
               CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS dst
        FROM edges e
        JOIN deg da ON da.node = e.a
        JOIN deg db ON db.node = e.b
    ), wedges AS (
        SELECT o1.dst AS v, o2.dst AS w
        FROM oriented o1 JOIN oriented o2
          ON o1.src = o2.src AND o1.dst < o2.dst
    ), tri AS (
        SELECT count(*) AS n_triangles
        FROM wedges JOIN oriented o3
          ON least(wedges.v, wedges.w) = least(o3.src, o3.dst)
         AND greatest(wedges.v, wedges.w) = greatest(o3.src, o3.dst)
    )
    SELECT (SELECT count(*) FROM edges)       AS n_edges,
           (SELECT count(*) FROM wedges)      AS n_wedges,
           (SELECT n_triangles FROM tri)      AS n_triangles,
           CAST(3.0 * (SELECT n_triangles FROM tri)
                / greatest((SELECT count(*) FROM wedges), 1) AS REAL)
               AS closure_rate
    """,
)
def copurchase_triangle_count(
    spark: SparkSession, sf_dir: str, broadcast_nodes_limit: int = 2_000_000
) -> DataFrame:
    edges, _deg, oriented = _copurchase_oriented(
        spark, sf_dir, broadcast_nodes_limit
    )
    o1 = oriented.select(F.col("src"), F.col("dst").alias("v"))
    o2 = oriented.select(F.col("src"), F.col("dst").alias("w"))
    wedges = o1.join(o2, "src").where(F.col("v") < F.col("w"))
    # Close each wedge against the oriented edges in EITHER direction —
    # orientation is by degree, so (v, w) may be stored as (w, v).
    probe = oriented.select(
        F.array_sort(F.array("src", "dst")).alias("_key")
    )
    closed = (
        wedges.select(F.array("v", "w").alias("_key"))
        .join(probe, "_key")
        .agg(F.count("*").alias("n_triangles"))
    )
    census = F.broadcast(
        edges.agg(F.count("*").alias("n_edges")).crossJoin(
            wedges.agg(F.count("*").alias("n_wedges"))
        )
    )
    return closed.crossJoin(census).select(
        "n_edges",
        "n_wedges",
        "n_triangles",
        f32(
            F.lit(3.0)
            * F.col("n_triangles")
            / F.greatest(F.col("n_wedges"), F.lit(1)).cast("double")
        ).alias("closure_rate"),
    )


# --------------------------------------------------------------------------
# bloom_prefiltered_join — hand-built runtime filter: the urgent-order
# key set is compressed into a Blocked-free classic Bloom bitmap
# (m bits as m/64 longs, k xxhash64 probes) by ONE aggregation, and the
# bitmap — a single array<long> row, ~16 KB for this key volume —
# crossJoin-broadcasts to the lineitem probe side, which drops
# non-members with pure JVM bit arithmetic BEFORE the shuffle join.
# Bloom filters have no false negatives, so prefilter + exact join ==
# plain join, and the oracle is the plain join. This is the
# semi-join-reduction pattern AQE's runtime row filters automate: at
# 100 TB the build side is far too large to broadcast as a set, but
# its Bloom image (~10 bits/key) broadcasts fine, and the probe-side
# shuffle shrinks by the selectivity of the filter. False-positive
# stragglers are removed by the exact join that follows.
# --------------------------------------------------------------------------
_BLOOM_BITS = 1 << 17  # m: bits in the bitmap (2048 longs)
_BLOOM_K = 5  # probes per key


def _bloom_positions(key: Column) -> list[Column]:
    """k bit positions for a key: xxhash64 with k seeds, mod m."""
    return [
        F.pmod(F.xxhash64(key, F.lit(s)), F.lit(_BLOOM_BITS))
        for s in range(_BLOOM_K)
    ]


@CATALOG.query(
    "bloom_prefiltered_join",
    oracle="""
    SELECT l.l_returnflag AS return_flag,
           count(*) AS n_items,
           CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS REAL)
               AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    """,
)
def bloom_prefiltered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    urgent = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    # Build: explode each key's k (word, bit) pairs, OR them into words,
    # then assemble the dense word array with aggregate-side zero-fill
    # (map_from_entries + element_at default) — one exchange on the
    # word index, then a 1-row reduction.
    pos = F.explode(F.array(*_bloom_positions(F.col("o_orderkey")))).alias("_pos")
    words = (
        urgent.select(pos)
        .select(
            F.expr("CAST(_pos DIV 64 AS INT)").alias("_w"),
            # column-valued shift counts need the SQL form (the PySpark
            # shiftleft binding only takes a Python-int bit count)
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))").alias("_bit"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_bit").alias("_word"))
    )
    bitmap = words.agg(
        F.map_from_entries(F.collect_list(F.struct("_w", "_word"))).alias("_m")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(_BLOOM_BITS // 64 - 1)),
            # _m is a MAP keyed by the 0-based word index (element_at
            # on a map is a KEY lookup, unlike the 1-based array form)
            lambda i: F.coalesce(F.element_at(F.col("_m"), i), F.lit(0).cast("long")),
        ).alias("_bloom")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    probes = " AND ".join(
        f"(shiftright(element_at(_bloom,"
        f" CAST(pmod(xxhash64(l_orderkey, {seed}), {_BLOOM_BITS}) DIV 64 AS INT) + 1),"
        f" CAST(pmod(xxhash64(l_orderkey, {seed}), {_BLOOM_BITS}) % 64 AS INT)) & 1) = 1"
        for seed in range(_BLOOM_K)
    )
    candidates = li.crossJoin(F.broadcast(bitmap)).where(F.expr(probes)).drop("_bloom")
    return (
        candidates.join(urgent, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_returnflag").alias("return_flag"))
        .agg(
            F.count("*").alias("n_items"),
            f32(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            ).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# orders_skyline_paretofront — SKYLINE operator (Pareto front): orders
# not dominated on (earlier-or-equal o_orderdate, higher-or-equal
# o_totalprice, strict in at least one). The classic multi-criteria
# operator, computed WITHOUT the naive quadratic dominance self-join:
# an order survives iff its price equals its date's maximum AND beats
# every earlier date's maximum — so the skyline reduces to a date-grain
# cummax. The running max runs on the AGGREGATED |dates| frame (a
# bounded non-entity grain, whitelisted like the monthly/hourly global
# windows per docs/SCALE.md), and membership rejoins via one broadcast.
# The oracle states the independent NOT EXISTS dominance definition.
# --------------------------------------------------------------------------
@CATALOG.query(
    "orders_skyline_paretofront",
    oracle="""
    SELECT a.o_orderkey, a.o_orderdate,
           CAST(a.o_totalprice AS REAL) AS o_totalprice
    FROM orders a
    WHERE NOT EXISTS (
        SELECT 1 FROM orders b
        WHERE b.o_orderdate <= a.o_orderdate
          AND b.o_totalprice >= a.o_totalprice
          AND (b.o_orderdate < a.o_orderdate
               OR b.o_totalprice > a.o_totalprice)
    )
    """,
)
def orders_skyline_paretofront(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    per_date = orders.groupBy("o_orderdate").agg(
        F.max("o_totalprice").alias("d_max")
    )
    w_prior = (
        W.orderBy("o_orderdate").rowsBetween(W.unboundedPreceding, -1)
    )
    sky_dates = (
        per_date.withColumn("prior_max", F.max("d_max").over(w_prior))
        .where(F.col("prior_max").isNull() | (F.col("d_max") > F.col("prior_max")))
        .select("o_orderdate", "d_max")
    )
    return (
        orders.join(F.broadcast(sky_dates), "o_orderdate")
        .where(F.col("o_totalprice") == F.col("d_max"))
        .select(
            "o_orderkey", "o_orderdate", f32(F.col("o_totalprice")).alias("o_totalprice")
        )
    )


# --------------------------------------------------------------------------
# weighted_order_sample — deterministic weighted sampling without
# replacement (Efraimidis–Spirakis A-ES): each order draws a uniform u
# from a Knuth multiplicative hash of its key (pure integer arithmetic
# — bit-identical across engines, unlike rand()) and ranks by
# ln(u)/weight; the top-k under that ranking is EXACTLY a weighted
# sample without replacement with inclusion ∝ o_totalprice. The
# curation primitive behind importance-weighted corpus subsampling
# when proportional inclusion (not Bernoulli) is required. Plan: the
# scoring is map-side expression math and the top-k is TakeOrdered —
# no global sort materialization, no unpartitioned window.
# --------------------------------------------------------------------------
SAMPLE_K = 100
_AES_KEY = (
    "ln(((o_orderkey * 2654435761) % 4294967296 + 0.5) / 4294967296.0)"
    " / o_totalprice"
)


@CATALOG.query(
    "weighted_order_sample",
    oracle=f"""
    SELECT o_orderkey,
           CAST(o_totalprice AS REAL) AS weight,
           CAST({_AES_KEY} AS REAL) AS sample_key
    FROM orders
    ORDER BY {_AES_KEY} DESC, o_orderkey
    LIMIT {SAMPLE_K}
    """,
)
def weighted_order_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("weight"),
        F.expr(_AES_KEY).alias("_key"),
    )
    return (
        scored.orderBy(F.col("_key").desc(), "o_orderkey")
        .limit(SAMPLE_K)
        .select(
            "o_orderkey",
            f32(F.col("weight")).alias("weight"),
            f32(F.col("_key")).alias("sample_key"),
        )
    )


# --------------------------------------------------------------------------
# order_penny_allocation — exact proration with largest-remainder
# reconciliation (the finance "penny allocation" / Hamilton
# apportionment operator): each order's total is split across its line
# items proportionally to extended price, IN CENTS, with the floor
# residue handed one cent at a time to the lines with the largest
# division remainders (ties by line number). Every quantity is BIGINT
# cent/remainder arithmetic — cross-engine bit-exact, and per-order
# sums reconcile to the total BY CONSTRUCTION (pinned in the oracle
# parity: sum(alloc) == total for every order). All three windows ride
# the l_orderkey partitioning; the order total joins on the same key.
# --------------------------------------------------------------------------
@CATALOG.query(
    "order_penny_allocation",
    oracle="""
    WITH li AS (
        SELECT l_orderkey, l_linenumber,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS ext_c
        FROM lineitem
    ), o AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS total_c
        FROM orders
    ), base AS (
        SELECT li.l_orderkey, li.l_linenumber, li.ext_c, o.total_c,
               sum(li.ext_c) OVER (PARTITION BY li.l_orderkey) AS sum_c,
               (o.total_c * li.ext_c) // sum(li.ext_c)
                   OVER (PARTITION BY li.l_orderkey) AS floor_c,
               (o.total_c * li.ext_c) % sum(li.ext_c)
                   OVER (PARTITION BY li.l_orderkey) AS rem
        FROM li JOIN o ON li.l_orderkey = o.o_orderkey
    ), ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY rem DESC, l_linenumber) AS rr,
               total_c - sum(floor_c) OVER (PARTITION BY l_orderkey)
                   AS residue
        FROM base
    )
    SELECT l_orderkey, l_linenumber,
           CAST(floor_c + CASE WHEN rr <= residue THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_cents
    FROM ranked
    """,
)
def order_penny_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("ext_c"),
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("total_c"),
    )
    w_ord = W.partitionBy("l_orderkey")
    base = (
        li.join(o, "l_orderkey")
        .withColumn("sum_c", F.sum("ext_c").over(w_ord))
        # BIGINT integer division (SQL DIV): double-precision floor(a/b)
        # can be off by one near exact multiples at these magnitudes
        .withColumn("floor_c", F.expr("(total_c * ext_c) DIV sum_c"))
        .withColumn("rem", F.expr("(total_c * ext_c) % sum_c"))
    )
    ranked = base.withColumn(
        "rr",
        F.row_number().over(w_ord.orderBy(F.col("rem").desc(), "l_linenumber")),
    ).withColumn("residue", F.col("total_c") - F.sum("floor_c").over(w_ord))
    return ranked.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("floor_c")
            + F.when(F.col("rr") <= F.col("residue"), 1).otherwise(0)
        ).cast("long").alias("alloc_cents"),
    )


# --------------------------------------------------------------------------
# weighted_price_quantiles — exact WEIGHTED quantiles of the unit
# price distribution, weighted by quantity: "what price does the
# median SHIPPED UNIT pay" (not the median line item) — the
# inventory-weighted statistic pricing and data-mix decisions actually
# need. Rides functions/quantiles.exact_weighted_quantiles: the same
# histogram selection as the unweighted exact path, with per-bucket
# WEIGHT sums instead of row counts (quantity weights are
# integer-valued, so every cumulative double is exact and the
# cross-engine hash matches bit-for-bit). Quantile q =
# smallest price whose cumulative quantity reaches q * total quantity.
# --------------------------------------------------------------------------
WQ_QS = (0.25, 0.5, 0.75, 0.9, 0.99)


@CATALOG.query(
    "weighted_price_quantiles",
    oracle=f"""
    WITH src AS (
        SELECT l_extendedprice AS v, l_quantity AS w FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_quantity > 0
    ), tot AS (SELECT sum(w) AS tw FROM src),
    c AS (
        SELECT v, sum(w) OVER (ORDER BY v) AS cw FROM src
    ), targets AS (
        SELECT unnest(ARRAY{list(WQ_QS)}) AS q
    )
    SELECT t.q,
           CAST(min(c.v) AS REAL) AS wq,
           CAST(any_value(tot.tw) AS DOUBLE) AS total_weight
    FROM targets t
    CROSS JOIN tot
    JOIN c ON c.cw >= t.q * tot.tw
    GROUP BY t.q
    """,
)
def weighted_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.functions.quantiles import (  # noqa: PLC0415
        exact_weighted_quantiles,
    )

    return exact_weighted_quantiles(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice", "l_quantity", qs=WQ_QS
    )


# --------------------------------------------------------------------------
# copurchase_degree_histogram — degree distribution of the recurrent
# co-purchase graph (the structural-observability companion to the
# triangle census and PageRank over the SAME edge table): node count
# per power-of-two degree bucket plus the bucket's degree bounds.
# Bucketing is pure integer arithmetic — bucket = bit_length(d) - 1 via
# length(bin(d)) in BOTH engines — so no float log2 edge cases at
# exact powers of two. Scale: the edge build is the shared pair-explode
# + count shape; degrees are one map-combinable aggregation; the
# histogram aggregates |nodes| rows down to <= 64 buckets.
# --------------------------------------------------------------------------
@CATALOG.query(
    "copurchase_degree_histogram",
    oracle="""
    WITH parts_per_order AS (
        SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
        FROM lineitem GROUP BY l_orderkey
    ), pair_w AS (
        SELECT u.part AS a, v.part AS b
        FROM parts_per_order,
             unnest(parts) AS u(part), unnest(parts) AS v(part)
        WHERE u.part < v.part
    ), edges AS (
        SELECT a, b FROM pair_w GROUP BY a, b HAVING count(*) >= 2
    ), deg AS (
        SELECT node, count(*) AS d FROM (
            SELECT a AS node FROM edges UNION ALL SELECT b FROM edges
        ) GROUP BY node
    )
    SELECT CAST(length(bin(d)) - 1 AS BIGINT) AS degree_bucket,
           count(*) AS n_nodes,
           CAST(min(d) AS BIGINT) AS min_degree,
           CAST(max(d) AS BIGINT) AS max_degree
    FROM deg
    GROUP BY 1
    """,
)
def copurchase_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_recurrent_edges(spark, sf_dir, checkpoint=False)
    deg = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # DuckDB bin() omits leading zeros like Spark's bin(); for d >= 1
    # length(bin(d)) - 1 == floor(log2(d)) exactly.
    bucket = (F.length(F.bin(F.col("d"))) - 1).cast("long")
    return deg.groupBy(bucket.alias("degree_bucket")).agg(
        F.count("*").alias("n_nodes"),
        F.min("d").alias("min_degree"),
        F.max("d").alias("max_degree"),
    )


# --------------------------------------------------------------------------
# uniform_group_sample — deterministic fixed-size per-group sample
# (the unweighted dual of weighted_order_sample): GROUP_SAMPLE_N
# customers per market segment chosen by a Knuth multiplicative hash
# of the key — reproducible across engines and runs, no RNG. Scale:
# rank <= N over a group-partitioned window triggers Spark's
# WindowGroupLimit: every input partition pre-filters to its local
# top-N per group BEFORE the exchange, so the shuffle and the final
# sort carry <= N * n_input_partitions rows per group — never the
# group's full membership (the plan pin asserts the node).
# --------------------------------------------------------------------------
GROUP_SAMPLE_N = 10


@CATALOG.query(
    "uniform_group_sample",
    oracle=f"""
    WITH h AS (
        SELECT c_mktsegment, c_custkey,
               (c_custkey * 2654435761) % 4294967296 AS hk
        FROM customer
    ), r AS (
        SELECT c_mktsegment, c_custkey,
               row_number() OVER (
                   PARTITION BY c_mktsegment ORDER BY hk, c_custkey
               ) AS sample_rank
        FROM h
    )
    SELECT c_mktsegment, CAST(sample_rank AS BIGINT) AS sample_rank,
           c_custkey
    FROM r WHERE sample_rank <= {GROUP_SAMPLE_N}
    """,
)
def uniform_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    hk = F.pmod(F.col("c_custkey") * F.lit(2654435761), F.lit(4294967296))
    w = W.partitionBy("c_mktsegment").orderBy(hk.asc(), F.col("c_custkey").asc())
    return (
        cust.select("c_mktsegment", "c_custkey")
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .where(F.col("sample_rank") <= GROUP_SAMPLE_N)
        .select("c_mktsegment", "sample_rank", "c_custkey")
    )


# --------------------------------------------------------------------------
# table_checksum_audit — engine-portable content checksum per
# returnflag partition: the migration-validation primitive ("does the
# copied table hold byte-identical rows?") computed as a sum of
# per-row polynomial hashes over the key + integer-cents measure
# columns. All arithmetic is exact BIGINT with an explicit modulus, so
# any engine computes the identical number; the sum is commutative, so
# partitioning/merge order cannot change it. One map-combinable
# aggregation, shuffle carries 3 rows.
# --------------------------------------------------------------------------
CHECKSUM_MOD = 2147483647  # 2^31 - 1


@CATALOG.query(
    "table_checksum_audit",
    oracle=f"""
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(sum((((l_orderkey % {CHECKSUM_MOD}) * 1000003
                      + l_linenumber) % {CHECKSUM_MOD} * 999983
                     + l_partkey
                     + CAST(round(l_quantity * 100) AS BIGINT))
                    % {CHECKSUM_MOD}) AS BIGINT) AS checksum
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def table_checksum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = (
        (
            (F.col("l_orderkey") % CHECKSUM_MOD) * 1000003
            + F.col("l_linenumber")
        )
        % CHECKSUM_MOD
        * 999983
        + F.col("l_partkey")
        + F.round(F.col("l_quantity") * 100).cast("long")
    ) % CHECKSUM_MOD
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_rows"), F.sum(h).alias("checksum"))
    )


# --------------------------------------------------------------------------
# basket_affinity_lift — market-basket association mining over orders:
# for recurrent part pairs (>= LIFT_MIN_PAIRS co-occurrences), the
# lift statistic  P(a,b) / (P(a) P(b))  with exact integer counts; the
# LIFT_TOP_K strongest associations under a total order. Pair counts
# ride the shared per-order pair-explode (arboricity-style shape, no
# row-level self-join); the part-support table is part-grain and
# broadcasts onto the pair frame (valid while |parts| stays
# broadcast-sized — the same node-dimension contract as the triangle
# census); the final selection is a TakeOrdered top-k, never a full
# sort. lift = (c_ab * n_orders) / (c_a * c_b) stays exact BIGINT
# until the single output division (f32 boundary).
# --------------------------------------------------------------------------
LIFT_MIN_PAIRS = 5
LIFT_TOP_K = 20


@CATALOG.query(
    "basket_affinity_lift",
    oracle=f"""
    WITH parts_per_order AS (
        SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
        FROM lineitem GROUP BY l_orderkey
    ), n AS (
        SELECT count(*) AS n_orders FROM parts_per_order
    ), pair_c AS (
        SELECT u.part AS part_a, v.part AS part_b, count(*) AS n_both
        FROM parts_per_order,
             unnest(parts) AS u(part), unnest(parts) AS v(part)
        WHERE u.part < v.part
        GROUP BY 1, 2 HAVING count(*) >= {LIFT_MIN_PAIRS}
    ), support AS (
        SELECT part, count(*) AS c FROM (
            SELECT l_orderkey, unnest(parts) AS part FROM parts_per_order
        ) GROUP BY part
    )
    SELECT part_a, part_b, CAST(n_both AS BIGINT) AS n_both,
           CAST(sa.c AS BIGINT) AS n_a, CAST(sb.c AS BIGINT) AS n_b,
           CAST(n_both * n.n_orders / CAST(sa.c * sb.c AS DOUBLE) AS REAL)
               AS lift
    FROM pair_c
    JOIN support sa ON sa.part = part_a
    JOIN support sb ON sb.part = part_b
    CROSS JOIN n
    ORDER BY lift DESC, part_a, part_b
    LIMIT {LIFT_TOP_K}
    """,
)
def basket_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stays on the raw parts frame (not _copurchase_pair_counts): the
    # checkpointed order->parts table is reused THREE ways below
    # (n_orders scalar, pair counts, single-part support)
    parts_per_order = _copurchase_parts_per_order(spark, sf_dir).localCheckpoint(
        eager=False
    )
    n_orders = parts_per_order.count()
    pair_c = (
        parts_per_order.select(F.explode(F.expr(_COPURCHASE_PAIR_EXPR)).alias("e"))
        .groupBy(F.col("e.a").alias("part_a"), F.col("e.b").alias("part_b"))
        .agg(F.count("*").alias("n_both"))
        .where(F.col("n_both") >= LIFT_MIN_PAIRS)
    )
    support = (
        parts_per_order.select(F.explode("parts").alias("part"))
        .groupBy("part")
        .agg(F.count("*").alias("c"))
    )
    lift = (
        F.col("n_both")
        * F.lit(n_orders)
        / (F.col("n_a") * F.col("n_b")).cast("double")
    )
    return (
        pair_c.join(
            F.broadcast(support.select(F.col("part").alias("part_a"), F.col("c").alias("n_a"))),
            "part_a",
        )
        .join(
            F.broadcast(support.select(F.col("part").alias("part_b"), F.col("c").alias("n_b"))),
            "part_b",
        )
        .select(
            "part_a", "part_b", "n_both", "n_a", "n_b", f32(lift).alias("lift")
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(LIFT_TOP_K)
    )


# --------------------------------------------------------------------------
# order_total_reconciliation — numeric cross-table reconciliation (the
# data-quality dual of referential_integrity_audit's FK orphan scan):
# does each order's lineitem-derived charge total agree with the
# denormalized o_totalprice? Per-row charges round to BIGINT cents
# BEFORE summing (the per-row f64 expression is deterministic and
# identical in both engines, so every cent value — and therefore every
# sum — is exact), and the >1% mismatch predicate is pure integer
# arithmetic: no float threshold can flip between engines. One
# order-key join of two map-combined rollups.
# --------------------------------------------------------------------------
@CATALOG.query(
    "order_total_reconciliation",
    oracle="""
    WITH li AS (
        SELECT l_orderkey,
               sum(CAST(round(l_extendedprice * (1 - l_discount)
                              * (1 + l_tax) * 100) AS BIGINT)) AS li_cents
        FROM lineitem GROUP BY l_orderkey
    ), o AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders
    )
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN abs(li_cents - o_cents) * 100 > o_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
           CAST(sum(abs(li_cents - o_cents)) AS BIGINT) AS abs_diff_cents,
           CAST(max(abs(li_cents - o_cents) / CAST(o_cents AS DOUBLE))
                AS REAL) AS max_rel_diff
    FROM o JOIN li ON li.l_orderkey = o.o_orderkey
    GROUP BY o_orderstatus
    """,
)
def order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                    * 100
                ).cast("long")
            ).alias("li_cents")
        )
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("o_cents"),
    )
    diff = F.abs(F.col("li_cents") - F.col("o_cents"))
    return (
        o.join(li, "l_orderkey")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum((diff * 100 > F.col("o_cents")).cast("long")).alias(
                "n_mismatched"
            ),
            F.sum(diff).alias("abs_diff_cents"),
            f32(F.max(diff / F.col("o_cents").cast("double"))).alias(
                "max_rel_diff"
            ),
        )
    )


# --------------------------------------------------------------------------
# chi_square_nation_segment — chi-square independence test between
# customer nation and market segment, with Cramér's V and the mutual
# information of the empirical joint, all from ONE contingency scan.
# Mirrors the reference's "is this feature informative" drift checks
# (processor/main.py stat surfaces) at categorical grain. The
# contingency table is (|nations| x |segments|) = bounded dimension
# grain, so the marginal tables broadcast; every sum over cells is a
# <=125-row aggregation. Counts stay exact BIGINT; the only doubles are
# the final chi2 / V / MI divisions (f32 boundary), so the cross-engine
# hash is summation-order-proof at float precision. At 100 TB the one
# row-volume stage is the groupBy(nation, segment) count — map-side
# partial aggregation into a dimension-grain result; everything after
# is arithmetic on broadcastable tables.
# --------------------------------------------------------------------------
@CATALOG.query(
    "chi_square_nation_segment",
    oracle="""
    WITH cells AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS n_ij
        FROM customer GROUP BY c_nationkey, c_mktsegment
    ), rows_m AS (
        SELECT c_nationkey, sum(n_ij) AS n_i FROM cells GROUP BY c_nationkey
    ), cols_m AS (
        SELECT c_mktsegment, sum(n_ij) AS n_j FROM cells GROUP BY c_mktsegment
    ), tot AS (
        SELECT sum(n_ij) AS n,
               count(DISTINCT c_nationkey) AS r,
               count(DISTINCT c_mktsegment) AS c
        FROM cells
    ), grid AS (
        -- the FULL marginal grid: a zero-observed cell still
        -- contributes its expected count to chi-square
        SELECT rm.c_nationkey, cm.c_mktsegment, rm.n_i, cm.n_j,
               COALESCE(ce.n_ij, 0) AS n_ij
        FROM rows_m rm CROSS JOIN cols_m cm
        LEFT JOIN cells ce USING (c_nationkey, c_mktsegment)
    ), terms AS (
        SELECT t.n, t.r, t.c,
               (g.n_ij - g.n_i * g.n_j / CAST(t.n AS DOUBLE))
                   * (g.n_ij - g.n_i * g.n_j / CAST(t.n AS DOUBLE))
                   / (g.n_i * g.n_j / CAST(t.n AS DOUBLE)) AS chi_term,
               CASE WHEN g.n_ij = 0 THEN 0.0
                    ELSE (g.n_ij / CAST(t.n AS DOUBLE))
                         * ln(g.n_ij * CAST(t.n AS DOUBLE)
                              / (CAST(g.n_i AS DOUBLE) * g.n_j)) END AS mi_term
        FROM grid g CROSS JOIN tot t
    )
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           CAST((max(r) - 1) * (max(c) - 1) AS BIGINT) AS dof,
           CAST(sum(chi_term) AS REAL) AS chi2,
           CAST(sqrt(sum(chi_term)
                     / (max(n) * least(max(r) - 1, max(c) - 1))) AS REAL)
               AS cramers_v,
           CAST(sum(mi_term) AS REAL) AS mi_nats
    FROM terms
    """,
)
def chi_square_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    cells = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("n_ij")
    )
    # Dimension-grain (<=125 rows): safe to reuse without recompute cost,
    # but the three marginal scans below would re-run the row-volume
    # count each time — pin it once.
    cells = cells.localCheckpoint(eager=False)
    rows_m = cells.groupBy("c_nationkey").agg(F.sum("n_ij").alias("n_i"))
    cols_m = cells.groupBy("c_mktsegment").agg(F.sum("n_ij").alias("n_j"))
    tot = cells.agg(
        F.sum("n_ij").alias("n"),
        F.countDistinct("c_nationkey").alias("r"),
        F.countDistinct("c_mktsegment").alias("c"),
    )
    n_d = F.col("n").cast("double")
    expected = F.col("n_i") * F.col("n_j") / n_d
    # The FULL marginal grid (rows x cols cross join, dimension-grain):
    # a zero-observed cell still contributes its expected count to
    # chi-square; the left join backfills n_ij = 0 for those cells.
    joined = (
        rows_m.crossJoin(cols_m)
        .join(cells, ["c_nationkey", "c_mktsegment"], "left")
        .withColumn("n_ij", F.coalesce(F.col("n_ij"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    chi_term = (F.col("n_ij") - expected) * (F.col("n_ij") - expected) / expected
    mi_term = F.when(F.col("n_ij") == 0, F.lit(0.0)).otherwise(
        (F.col("n_ij") / n_d)
        * F.log(
            F.col("n_ij") * n_d / (F.col("n_i").cast("double") * F.col("n_j"))
        )
    )
    return joined.agg(
        F.max("n").alias("n_customers"),
        ((F.max("r") - 1) * (F.max("c") - 1)).alias("dof"),
        f32(F.sum(chi_term)).alias("chi2"),
        f32(
            F.sqrt(
                F.sum(chi_term)
                / (F.max("n") * F.least(F.max("r") - 1, F.max("c") - 1))
            )
        ).alias("cramers_v"),
        f32(F.sum(mi_term)).alias("mi_nats"),
    )


# --------------------------------------------------------------------------
# copurchase_bfs_distance — minimum-hop distances from a deterministic
# seed part over the recurrent co-purchase graph (same >=2-order edge
# definition as copurchase_triangle_count), bounded to 4 hops:
# level-synchronous distributed BFS. Each level is ONE shuffle join of
# the current frontier against the symmetrized edge table plus an
# anti-join against the visited set — the textbook Pregel-free BFS
# shape that scales to billion-edge graphs (frontier and visited are
# node-grain, partitioned by node id; lineage is cut per level with
# localCheckpoint so the plan doesn't deepen with hop count). The
# DuckDB oracle is the same semantics as a recursive CTE (UNION-dedup
# walk, min hop per node) — exercising the recursive-query class the
# rest of the catalog doesn't touch. The seed is the smallest node id
# in the edge set: deterministic on both engines, no RNG.
# --------------------------------------------------------------------------
BFS_MAX_HOPS = 4


@CATALOG.query(
    "copurchase_bfs_distance",
    oracle=f"""
    WITH RECURSIVE parts_per_order AS (
        SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
        FROM lineitem GROUP BY l_orderkey
    ), pair_w AS (
        SELECT u.part AS a, v.part AS b
        FROM parts_per_order,
             unnest(parts) AS u(part), unnest(parts) AS v(part)
        WHERE u.part < v.part
    ), edges AS (
        SELECT a, b FROM pair_w GROUP BY a, b HAVING count(*) >= 2
    ), sym AS (
        SELECT a AS src, b AS dst FROM edges
        UNION ALL
        SELECT b AS src, a AS dst FROM edges
    ), walk(node, hop) AS (
        SELECT (SELECT min(a) FROM edges), 0
        UNION
        SELECT s.dst, w.hop + 1
        FROM walk w JOIN sym s ON s.src = w.node
        WHERE w.hop < {BFS_MAX_HOPS}
    ), dist AS (
        SELECT node, min(hop) AS hop FROM walk GROUP BY node
    )
    SELECT hop,
           count(*) AS n_nodes,
           min(node) AS min_node,
           max(node) AS max_node
    FROM dist GROUP BY hop
    """,
)
def copurchase_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # checkpointed: reused by the seed probe + both sym sides
    edges = _copurchase_recurrent_edges(spark, sf_dir)
    sym = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint(eager=False)  # probed once per BFS level
    )
    # Pairs are emitted a < b, so the globally smallest endpoint always
    # appears on the `a` side: min(a) IS the smallest node. One scalar
    # driver probe (bounded: a single row), same pattern as the
    # convergence probes in operators/pagerank.py.
    seed = edges.agg(F.min("a").alias("s")).collect()[0]["s"]
    visited = spark.createDataFrame(
        [(int(seed), 0)], "node bigint, hop int"
    )
    frontier = visited
    for hop in range(1, BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(hop))
            .localCheckpoint(eager=False)  # next frontier + union member
        )
        visited = visited.union(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return visited.groupBy("hop").agg(
        F.count("*").alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


# --------------------------------------------------------------------------
# robust_means_profile — the Pythagorean-means family per return flag:
# arithmetic, geometric (exp of the log-mean), harmonic (reciprocal
# mean), RMS (quadratic mean), and midrange of extended price. One
# map-side-combinable scan — every statistic is an algebraic aggregate
# (sum / sum-of-logs / sum-of-reciprocals / sum-of-squares / min / max),
# so the group-grain result is exact up to double summation order and
# the f32 boundary absorbs that. Prices are strictly positive in the
# fixture, which the geometric/harmonic forms require; a zero would
# surface as -inf/div-by-zero identically on both engines.
# --------------------------------------------------------------------------
@CATALOG.query(
    "robust_means_profile",
    oracle="""
    SELECT l_returnflag AS return_flag,
           count(*) AS n_items,
           CAST(avg(l_extendedprice) AS REAL) AS mean_price,
           CAST(exp(avg(ln(l_extendedprice))) AS REAL) AS geo_mean_price,
           CAST(count(*) / sum(1.0 / l_extendedprice) AS REAL)
               AS harm_mean_price,
           CAST(sqrt(avg(l_extendedprice * l_extendedprice)) AS REAL)
               AS rms_price,
           CAST((min(l_extendedprice) + max(l_extendedprice)) / 2 AS REAL)
               AS midrange_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def robust_means_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    price = F.col("l_extendedprice")
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .groupBy(F.col("l_returnflag").alias("return_flag"))
        .agg(
            F.count("*").alias("n_items"),
            f32(F.avg(price)).alias("mean_price"),
            f32(F.exp(F.avg(F.log(price)))).alias("geo_mean_price"),
            f32(F.count("*") / F.sum(F.lit(1.0) / price)).alias(
                "harm_mean_price"
            ),
            f32(F.sqrt(F.avg(price * price))).alias("rms_price"),
            f32((F.min(price) + F.max(price)) / 2).alias("midrange_price"),
        )
    )


# --------------------------------------------------------------------------
# orderkey_sequence_audit — sequence-integrity audit over the order key
# space: how many contiguous islands does the key sequence form, and
# how dense is the occupied range? Island counting WITHOUT any global
# sort or window: a key starts an island iff key-1 is absent, which is
# one self anti-join on a shifted key — shuffle-partitioned by key,
# scale-free. The classic "did the upstream exporter drop ranges"
# check on ingestion ids; pairs with referential_integrity_audit
# (cross-table orphans) at the single-table grain.
# --------------------------------------------------------------------------
@CATALOG.query(
    "orderkey_sequence_audit",
    oracle="""
    WITH k AS (
        SELECT DISTINCT o_orderkey AS key FROM orders
    ), starts AS (
        SELECT count(*) AS n_islands
        FROM k WHERE key - 1 NOT IN (SELECT key FROM k)
    )
    SELECT (SELECT count(*) FROM k) AS n_keys,
           (SELECT n_islands FROM starts) AS n_islands,
           (SELECT min(key) FROM k) AS min_key,
           (SELECT max(key) FROM k) AS max_key,
           CAST((SELECT count(*) FROM k)
                / CAST((SELECT max(key) FROM k)
                       - (SELECT min(key) FROM k) + 1 AS DOUBLE) AS REAL)
               AS coverage
    FROM (SELECT 1)
    """,
)
def orderkey_sequence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("key"))
        .distinct()
        .localCheckpoint(eager=False)  # reused: shifted side + census
    )
    succ = keys.select((F.col("key") + 1).alias("key"))
    starts = keys.join(succ, "key", "left_anti")
    census = keys.agg(
        F.count("*").alias("n_keys"),
        F.min("key").alias("min_key"),
        F.max("key").alias("max_key"),
    )
    return (
        starts.agg(F.count("*").alias("n_islands"))
        .crossJoin(F.broadcast(census))
        .select(
            "n_keys",
            "n_islands",
            "min_key",
            "max_key",
            f32(
                F.col("n_keys")
                / (F.col("max_key") - F.col("min_key") + 1).cast("double")
            ).alias("coverage"),
        )
    )


# --------------------------------------------------------------------------
# copurchase_jaccard_similar_parts — item-item similarity by
# NEIGHBORHOOD Jaccard over the recurrent co-purchase graph (the same
# >= 2-orders edge set as copurchase_triangle_count): for every part
# pair that shares at least one co-purchase neighbor, J(a,b) =
# |N(a) ∩ N(b)| / (|N(a)| + |N(b)| - |N(a) ∩ N(b)|), top-20. The
# classic "customers who bought X also bought Y" collaborative-filter
# primitive, computed purely relationally.
#
# Scale shape: common-neighbor counts come from ONE wedge self-join of
# the (undirected) adjacency on the center node — the join that
# triangle counting already bounds via the recurrent-edge filter; the
# degree table is node-grain and broadcasts. Jaccard is a ratio of
# integers (bit-identical across engines — no float tolerance in the
# ranking), and the top-20 is a TakeOrdered with (a, b) tie-break, so
# selection is deterministic. At 100 TB the wedge join shuffles on the
# center node exactly once; hub skew is tamed by the same >= 2-orders
# edge filter.
# --------------------------------------------------------------------------
JACCARD_TOP_K = 20


@CATALOG.query(
    "copurchase_jaccard_similar_parts",
    oracle=f"""
    WITH parts_per_order AS (
        SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
        FROM lineitem GROUP BY l_orderkey
    ), pair_w AS (
        SELECT u.part AS a, v.part AS b
        FROM parts_per_order,
             unnest(parts) AS u(part), unnest(parts) AS v(part)
        WHERE u.part < v.part
    ), edges AS (
        SELECT a, b FROM pair_w GROUP BY a, b HAVING count(*) >= 2
    ), adj AS (
        SELECT a AS u, b AS v FROM edges
        UNION ALL
        SELECT b AS u, a AS v FROM edges
    ), deg AS (
        SELECT u AS node, count(*) AS d FROM adj GROUP BY u
    ), common AS (
        SELECT x.v AS a, y.v AS b, count(*) AS n_common
        FROM adj x JOIN adj y ON x.u = y.u AND x.v < y.v
        GROUP BY x.v, y.v
    ), scored AS (
        SELECT c.a AS part_a, c.b AS part_b, c.n_common,
               da.d AS deg_a, db.d AS deg_b,
               c.n_common / CAST(da.d + db.d - c.n_common AS DOUBLE)
                   AS jaccard
        FROM common c
        JOIN deg da ON da.node = c.a
        JOIN deg db ON db.node = c.b
    )
    SELECT part_a, part_b, n_common, deg_a, deg_b,
           CAST(jaccard AS REAL) AS jaccard
    FROM scored
    ORDER BY jaccard DESC, part_a, part_b
    LIMIT {JACCARD_TOP_K}
    """,
)
def copurchase_jaccard_similar_parts(
    spark: SparkSession, sf_dir: str, broadcast_nodes_limit: int = 2_000_000
) -> DataFrame:
    # checkpointed: reused by adjacency + degrees
    edges = _copurchase_recurrent_edges(spark, sf_dir)
    adj = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    # node-grain degree table: broadcast below the same threshold the
    # triangle/PageRank guards use, shuffle-join fallback beyond
    small = deg.count() <= broadcast_nodes_limit
    x = adj.select(F.col("u"), F.col("v").alias("a"))
    y = adj.select(F.col("u"), F.col("v").alias("b"))
    common = (
        x.join(y, "u")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    deg_a = deg.select(F.col("node").alias("a"), F.col("d").alias("deg_a"))
    deg_b = deg.select(F.col("node").alias("b"), F.col("d").alias("deg_b"))
    if small:
        deg_a, deg_b = F.broadcast(deg_a), F.broadcast(deg_b)
    scored = (
        common.join(deg_a, "a")
        .join(deg_b, "b")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "n_common",
            "deg_a",
            "deg_b",
            (
                F.col("n_common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )
    return (
        scored.orderBy(
            F.col("jaccard").desc(), F.col("part_a").asc(), F.col("part_b").asc()
        )
        .limit(JACCARD_TOP_K)
        .withColumn("jaccard", f32(F.col("jaccard")))
    )


# --------------------------------------------------------------------------
# orders_backlog_over_time — open-order backlog as a SWEEP-LINE time
# series: every order contributes +1 on its order date and -1 on its
# completion date (max lineitem receipt), deltas aggregate to day
# grain, and ONE running sum over the bounded day axis yields the
# backlog curve (this corpus carries ship dates only, so completion =
# last shipment). The classic inventory/WIP accounting shape, computed
# without any per-order window: the only window is over the |dates|
# frame AFTER aggregation (bounded at any corpus size — whitelisted in
# the global-window lint), and the per-order completion lookup is a
# map-combinable max-agg joined back order-grain.
# --------------------------------------------------------------------------
@CATALOG.query(
    "orders_backlog_over_time",
    oracle="""
    WITH completion AS (
        SELECT l_orderkey, max(l_shipdate) AS done_date
        FROM lineitem GROUP BY l_orderkey
    ), deltas AS (
        SELECT date_trunc('day', o_orderdate) AS day,
               1 AS opened, 0 AS closed, 1 AS delta
        FROM orders
        UNION ALL
        SELECT date_trunc('day', done_date) AS day,
               0, 1, -1
        FROM orders JOIN completion ON o_orderkey = l_orderkey
    ), days AS (
        SELECT day,
               CAST(sum(opened) AS BIGINT) AS n_opened,
               CAST(sum(closed) AS BIGINT) AS n_closed,
               sum(delta) AS net
        FROM deltas GROUP BY day
    )
    SELECT day, n_opened, n_closed,
           CAST(sum(net) OVER (ORDER BY day) AS BIGINT) AS backlog
    FROM days
    """,
)
def orders_backlog_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    completion = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("done_date"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    opened = orders.select(
        F.date_trunc("day", F.col("o_orderdate")).alias("day"),
        F.lit(1).alias("opened"),
        F.lit(0).alias("closed"),
        F.lit(1).alias("delta"),
    )
    closed = (
        orders.join(
            completion, F.col("o_orderkey") == F.col("l_orderkey")
        ).select(
            F.date_trunc("day", F.col("done_date")).alias("day"),
            F.lit(0).alias("opened"),
            F.lit(1).alias("closed"),
            F.lit(-1).alias("delta"),
        )
    )
    days = (
        opened.unionAll(closed)
        .groupBy("day")
        .agg(
            F.sum("opened").alias("n_opened"),
            F.sum("closed").alias("n_closed"),
            F.sum("delta").alias("net"),
        )
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return days.select(
        "day",
        "n_opened",
        "n_closed",
        F.sum("net").over(w).cast("long").alias("backlog"),
    )


# --------------------------------------------------------------------------
# supplier_lead_time_profile — fulfilment lead time (order date ->
# ship date, this corpus's available pair) rolled up to supplier
# NATION: counts, mean, max, and the share beyond a 30-day SLA. Two
# deliberate shape choices: (a) the lineitem-orders FACT-FACT equi-
# join shuffles both sides on the order key (the q3/q10 class —
# AQE-coalesced, never broadcast), while supplier and nation BROADCAST
# as dimensions; (b) percentile-free — per-nation groups are corpus-
# proportional, so a buffered exact percentile here would be the scale
# wall the quantiles module documents, and the SLA share is the
# monitoring quantity that stays one map-combinable conditional sum.
# (fulfillment_lag_profile is the priority-grain percentile sibling.)
# --------------------------------------------------------------------------
@CATALOG.query(
    "supplier_lead_time_profile",
    oracle="""
    SELECT n_name AS nation,
           count(*) AS n_lineitems,
           CAST(avg(date_diff('day', o_orderdate, l_shipdate)) AS REAL)
               AS avg_lead_days,
           CAST(max(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
               AS max_lead_days,
           CAST(sum(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 30
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_over_30d,
           CAST(sum(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 30
                         THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)
                AS REAL) AS share_over_30d
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    GROUP BY n_name
    """,
)
def supplier_lead_time_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    lead = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("s_nationkey"), F.col("n_name"), lead.alias("lead_days"))
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.count("*").alias("n_lineitems"),
        f32(F.avg("lead_days")).alias("avg_lead_days"),
        F.max("lead_days").cast("long").alias("max_lead_days"),
        F.sum((F.col("lead_days") > 30).cast("long")).alias("n_over_30d"),
        f32(
            F.sum((F.col("lead_days") > 30).cast("long"))
            / F.count("*").cast("double")
        ).alias("share_over_30d"),
    )


# --------------------------------------------------------------------------
# copurchase_degree_assortativity — one-number graph topology audit:
# the Pearson correlation of endpoint degrees over the (symmetrized)
# recurrent co-purchase edge set. Positive = hubs link to hubs
# (assortative), negative = hub-and-spoke. All five correlation
# co-moments come from ONE pass over the degree-enriched directed-both-
# ways edge list — the same broadcast degree join the triangle census
# uses — so the query is two bounded exchanges beyond edge
# construction at any scale; BIGINT sums keep the co-moments exact
# until the final f32 division.
# --------------------------------------------------------------------------
@CATALOG.query(
    "copurchase_degree_assortativity",
    oracle="""
    WITH parts_per_order AS (
        SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
        FROM lineitem GROUP BY l_orderkey
    ), pair_w AS (
        SELECT u.part AS a, v.part AS b
        FROM parts_per_order,
             unnest(parts) AS u(part), unnest(parts) AS v(part)
        WHERE u.part < v.part
    ), edges AS (
        SELECT a, b FROM pair_w GROUP BY a, b HAVING count(*) >= 2
    ), adj AS (
        SELECT a AS u, b AS v FROM edges
        UNION ALL
        SELECT b AS u, a AS v FROM edges
    ), deg AS (
        SELECT u AS node, count(*) AS d FROM adj GROUP BY u
    ), enriched AS (
        SELECT da.d AS dx, db.d AS dy
        FROM adj JOIN deg da ON da.node = adj.u
                 JOIN deg db ON db.node = adj.v
    )
    SELECT count(*) AS n_directed_edges,
           CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((count(*) * sum(dx * dy) - sum(dx) * sum(dy))
                / (sqrt(count(*) * sum(dx * dx) - sum(dx) * sum(dx))
                   * sqrt(count(*) * sum(dy * dy) - sum(dy) * sum(dy)))
                AS REAL) AS assortativity
    FROM enriched
    """,
)
def copurchase_degree_assortativity(
    spark: SparkSession, sf_dir: str, broadcast_nodes_limit: int = 2_000_000
) -> DataFrame:
    # checkpointed: reused by adjacency + degrees
    edges = _copurchase_recurrent_edges(spark, sf_dir)
    adj = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    small = deg.count() <= broadcast_nodes_limit
    deg_u = deg.select(F.col("node").alias("u"), F.col("d").alias("dx"))
    deg_v = deg.select(F.col("node").alias("v"), F.col("d").alias("dy"))
    if small:
        deg_u, deg_v = F.broadcast(deg_u), F.broadcast(deg_v)
    enriched = adj.join(deg_u, "u").join(deg_v, "v")
    n_nodes = deg.count()
    cnt = F.count("*")
    sxy, sx, sy = F.sum(F.col("dx") * F.col("dy")), F.sum("dx"), F.sum("dy")
    sxx, syy = F.sum(F.col("dx") * F.col("dx")), F.sum(F.col("dy") * F.col("dy"))
    return enriched.agg(
        cnt.alias("n_directed_edges"),
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        f32(
            (cnt * sxy - sx * sy)
            / (
                F.sqrt(cnt * sxx - sx * sx)
                * F.sqrt(cnt * syy - sy * sy)
            )
        ).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# copurchase_kcore_summary — iterative k-core decomposition (the
# standard "dense backbone" graph reduction): repeatedly peel nodes
# with degree < k until fixpoint, for k = 2 and 3. Two-path duality
# like connected_components: graphs ≤ local_edges_limit edges collect
# ONCE and peel queue-based in the driver (O(E), no per-round jobs);
# beyond the limit, level-synchronous distributed peeling — per round
# one degree aggregation + guarded-broadcast semi-joins, with
# localCheckpoint cutting lineage and a scalar count as the fixpoint
# probe (the BFS/PageRank family shape). Exactness of BOTH paths is
# pinned against a pure-Python peeling reference in
# tests/test_round8_ops.py.
#
# Oracle promotion (round 11, the BFS recursive-CTE trick): peeling is
# pure integer arithmetic with a deterministic result — the k-core is
# UNIQUE regardless of peel order — so DuckDB replays it as a
# recursive CTE that carries the surviving edge set forward one
# level-synchronous round at a time (the working table under UNION ALL
# is exactly "last round's edges"; referencing it twice for the
# two-endpoint degree filter is supported). The CTE caps at
# KCORE_PEEL_ROUNDS rounds; after the fixpoint, further rounds are
# no-ops, so rows at rnd = cap ARE the core whenever the peel
# converges within the cap (measured: <= 10 rounds at sf0.001-0.1,
# .benchmarks note in tests/test_round8_ops.py). The Spark side
# computes the true fixpoint, which is a strict subset of any
# non-converged truncation — so an undersized cap can only FAIL the
# hash loudly, never silently match.
# --------------------------------------------------------------------------
KCORE_PEEL_ROUNDS = 16

_KCORE_PEEL_CTE = """
    , peel{k}(rnd, a, b) AS (
        SELECT 0, a, b FROM {src}
        UNION ALL
        SELECT p.rnd + 1, p.a, p.b
        FROM peel{k} p
        JOIN (SELECT node FROM (
                SELECT node, count(*) AS d FROM (
                    SELECT a AS node FROM peel{k}
                    UNION ALL SELECT b AS node FROM peel{k})
                GROUP BY node) WHERE d >= {k}) ka ON ka.node = p.a
        JOIN (SELECT node FROM (
                SELECT node, count(*) AS d FROM (
                    SELECT a AS node FROM peel{k}
                    UNION ALL SELECT b AS node FROM peel{k})
                GROUP BY node) WHERE d >= {k}) kb ON kb.node = p.b
        WHERE p.rnd < {rounds}
    ), core{k} AS (
        SELECT a, b FROM peel{k} WHERE rnd = {rounds}
    )
"""


@CATALOG.query(
    "copurchase_kcore_summary",
    oracle=f"""
    WITH RECURSIVE parts_per_order AS (
        SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
        FROM lineitem GROUP BY l_orderkey
    ), pair_w AS (
        SELECT u.part AS a, v.part AS b
        FROM parts_per_order,
             unnest(parts) AS u(part), unnest(parts) AS v(part)
        WHERE u.part < v.part
    ), e0 AS (
        SELECT a, b FROM pair_w GROUP BY a, b HAVING count(*) >= 2
    )
    {_KCORE_PEEL_CTE.format(k=2, src="e0", rounds=KCORE_PEEL_ROUNDS)}
    {_KCORE_PEEL_CTE.format(k=3, src="core2", rounds=KCORE_PEEL_ROUNDS)}
    , totals AS (
        SELECT (SELECT count(DISTINCT node) FROM (
                    SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0))
                   AS n_nodes_total,
               (SELECT count(*) FROM e0) AS n_edges_total
    )
    SELECT CAST(2 AS BIGINT) AS k, t.n_nodes_total, t.n_edges_total,
           (SELECT count(DISTINCT node) FROM (
                SELECT a AS node FROM core2 UNION ALL SELECT b FROM core2))
               AS core_nodes,
           (SELECT count(*) FROM core2) AS core_edges
    FROM totals t
    UNION ALL
    SELECT CAST(3 AS BIGINT), t.n_nodes_total, t.n_edges_total,
           (SELECT count(DISTINCT node) FROM (
                SELECT a AS node FROM core3 UNION ALL SELECT b FROM core3)),
           (SELECT count(*) FROM core3)
    FROM totals t
    """,
)
def copurchase_kcore_summary(
    spark: SparkSession,
    sf_dir: str,
    broadcast_nodes_limit: int = 2_000_000,
    local_edges_limit: int = 1_000_000,
) -> DataFrame:
    edges0 = _copurchase_recurrent_edges(spark, sf_dir)
    n_nodes0 = (
        edges0.select(F.col("a").alias("n"))
        .union(edges0.select(F.col("b")))
        .distinct()
        .count()
    )
    n_edges0 = edges0.count()
    rows = []
    if n_edges0 <= local_edges_limit:
        # Small-graph fast path (the same ≤1M-edge duality
        # connected_components uses, dedup.py): ONE collect of the
        # recurrent edge list, then in-driver queue-based peeling —
        # O(E) total instead of (rounds x jobs) of distributed
        # fixpoint iterations. Peel counts are identical to the loop
        # path by construction (pinned against the pure-Python
        # reference in tests).
        #
        # Driver-memory budget (ADVICE r8): at the 1M-edge default the
        # collect pulls ~1M Row objects (~150 B each incl. two Python
        # ints) ≈ 150 MB transient, and the peel's tupled edge_list +
        # neighbor sets peak around another ~350 MB — ~0.5 GB total,
        # sized against the same multi-GB driver heap assumed by the
        # 2M-node broadcast guard above (a 2M-key broadcast map costs
        # a comparable few hundred MB). Shrink local_edges_limit
        # before broadcast_nodes_limit if the driver is smaller.
        from collections import defaultdict as _dd  # noqa: PLC0415

        edge_list = [(r["a"], r["b"]) for r in edges0.collect()]
        for k in (2, 3):
            nbrs = _dd(set)
            for a, b in edge_list:
                nbrs[a].add(b)
                nbrs[b].add(a)
            queue = [n for n, s in nbrs.items() if len(s) < k]
            while queue:
                n = queue.pop()
                for m in nbrs.pop(n, ()):  # noqa: B909 — n removed before iteration
                    s = nbrs.get(m)
                    if s is not None:
                        s.discard(n)
                        if len(s) < k:
                            queue.append(m)
            nbrs = {n: s for n, s in nbrs.items() if s}
            core_edges = sum(len(s) for s in nbrs.values()) // 2
            rows.append((k, len(nbrs), core_edges))
            # (k+1)-core ⊆ k-core: restart the next k from the peeled set
            edge_list = [
                (a, b) for a, s in nbrs.items() for b in s if a < b
            ]
    else:
        # Distributed level-synchronous peeling (the BFS/PageRank
        # family shape): per round one degree aggregation + guarded-
        # broadcast semi-joins, localCheckpoint lineage cuts, scalar
        # fixpoint probe. Node grain only shrinks during peeling, so
        # one up-front broadcast decision (same threshold duality as
        # triangle/PageRank) covers every round; each k starts from
        # the previous core ((k+1)-core ⊆ k-core), and the previous
        # round's post-prune count doubles as the next round's
        # pre-prune count (one scalar job per round, not two).
        small = n_nodes0 <= broadcast_nodes_limit
        edges, n_edges = edges0, n_edges0
        for k in (2, 3):
            while True:
                deg = (
                    edges.select(F.col("a").alias("node"))
                    .union(edges.select(F.col("b").alias("node")))
                    .groupBy("node")
                    .agg(F.count("*").alias("d"))
                )
                keep = deg.where(F.col("d") >= k).select("node")
                if small:
                    keep = F.broadcast(keep)
                pruned = (
                    edges.join(keep.withColumnRenamed("node", "a"), "a", "semi")
                    .join(keep.withColumnRenamed("node", "b"), "b", "semi")
                    .localCheckpoint(eager=False)  # cut per-round lineage
                )
                n_after = pruned.count()
                fixed = n_after == n_edges or n_after == 0
                edges, n_edges = pruned, n_after
                if fixed:
                    break
            core_nodes = (
                edges.select(F.col("a").alias("n"))
                .union(edges.select(F.col("b")))
                .distinct()
                .count()
            )
            rows.append((k, core_nodes, n_edges))
    out = spark.createDataFrame(
        rows, "k long, core_nodes long, core_edges long"
    )
    return out.select(
        "k",
        F.lit(n_nodes0).cast("long").alias("n_nodes_total"),
        F.lit(n_edges0).cast("long").alias("n_edges_total"),
        "core_nodes",
        "core_edges",
    )


# --------------------------------------------------------------------------
# customer_decile_migration — period-over-period SEGMENT MIGRATION
# matrix: customers are deciled by revenue in the first order-date
# half and again in the second, and the (decile_h1, decile_h2)
# transition cells (plus entering/leaving flows as decile 0) form the
# churn/upsell picture. Both decile passes ride the distributed-rank
# machinery (functions/ranks.with_global_ntiles_cuts — histogram-selected
# cut keys; NO unpartitioned window at customer grain, per the
# catalog-wide lint policy), joined FULL OUTER on the customer. The
# midpoint split is derived from the data (min/max order date), so the
# query is self-contained; ntile ordering is (revenue DESC, custkey)
# — a total order, hence engine-portable cells.
# --------------------------------------------------------------------------
MIGRATION_DECILES = 10


@CATALOG.query(
    "customer_decile_migration",
    oracle=f"""
    WITH bounds AS (
        SELECT min(o_orderdate) AS lo,
               min(o_orderdate)
               + (max(o_orderdate) - min(o_orderdate)) / 2 AS mid
        FROM orders
    ), h1 AS (
        SELECT o_custkey AS c, sum(o_totalprice) AS rev
        FROM orders, bounds WHERE o_orderdate <= mid GROUP BY o_custkey
    ), h2 AS (
        SELECT o_custkey AS c, sum(o_totalprice) AS rev
        FROM orders, bounds WHERE o_orderdate > mid GROUP BY o_custkey
    ), d1 AS (
        SELECT c, ntile({MIGRATION_DECILES})
                      OVER (ORDER BY rev DESC, c) AS dec1
        FROM h1
    ), d2 AS (
        SELECT c, ntile({MIGRATION_DECILES})
                      OVER (ORDER BY rev DESC, c) AS dec2
        FROM h2
    )
    SELECT CAST(coalesce(d1.dec1, 0) AS BIGINT) AS decile_h1,
           CAST(coalesce(d2.dec2, 0) AS BIGINT) AS decile_h2,
           count(*) AS n_customers
    FROM d1 FULL OUTER JOIN d2 ON d1.c = d2.c
    GROUP BY 1, 2
    """,
)
def customer_decile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    lo, hi = orders.agg(
        F.min("o_orderdate"), F.max("o_orderdate")
    ).first()
    mid = lo + (hi - lo) / 2
    halves = []
    for cond in (F.col("o_orderdate") <= F.lit(mid), F.col("o_orderdate") > F.lit(mid)):
        rev = (
            orders.where(cond)
            .groupBy(F.col("o_custkey").alias("c"))
            .agg(F.sum("o_totalprice").alias("rev"))
        )
        halves.append(
            # boundary-broadcast deciles (round-13): the half's customer
            # frame is never shuffled; cut keys come from histogram
            # selection over the filtered aggregation.
            with_global_ntiles_cuts(
                rev, [(MIGRATION_DECILES, [("rev", True), ("c", False)], "dec")]
            ).select("c", "dec")
        )
    d1 = halves[0].withColumnRenamed("dec", "dec1")
    d2 = halves[1].withColumnRenamed("dec", "dec2")
    return (
        d1.join(d2, "c", "full_outer")
        .groupBy(
            F.coalesce(F.col("dec1"), F.lit(0)).cast("long").alias("decile_h1"),
            F.coalesce(F.col("dec2"), F.lit(0)).cast("long").alias("decile_h2"),
        )
        .agg(F.count("*").alias("n_customers"))
    )


# --------------------------------------------------------------------------
# order_fanout_histogram — join-cardinality audit for the
# orders⋈lineitem key: the distribution of per-order lineitem fan-out
# (histogram of rows-per-key), the number that predicts join output
# volume and flags explosion risk before a query runs. Two stacked
# map-combinable aggregations (key → fanout, fanout → keys), both
# bounded-grain after the first — the cheapest useful shape of a join
# profiler.
# --------------------------------------------------------------------------
@CATALOG.query(
    "order_fanout_histogram",
    oracle="""
    WITH fan AS (
        SELECT l_orderkey, count(*) AS fanout
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(fanout AS BIGINT) AS fanout,
           count(*) AS n_orders,
           CAST(fanout * count(*) AS BIGINT) AS n_lineitems
    FROM fan
    GROUP BY fanout
    """,
)
def order_fanout_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    fan = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("fanout"))
    )
    return (
        fan.groupBy(F.col("fanout").cast("long").alias("fanout"))
        .agg(F.count("*").alias("n_orders"))
        .select(
            "fanout",
            "n_orders",
            (F.col("fanout") * F.col("n_orders")).cast("long").alias(
                "n_lineitems"
            ),
        )
    )


# --------------------------------------------------------------------------
# copurchase_label_propagation — community detection by SYNCHRONOUS
# weighted label propagation (the O(E)-per-round community algorithm
# that needs no modularity matrix): every node starts as its own
# community; each round a node adopts the label with the LARGEST
# incident edge-weight mass among its neighbors (ties broken by
# smallest label — fully deterministic, unlike classic asynchronous
# LPA whose result depends on visit order). Four fixed rounds, then a
# top-20 community census. Complements the graph family's existing
# axes: connectivity (CC), density (k-core), centrality (PageRank),
# closure (triangles) — communities are the mesoscale structure none
# of those expose.
#
# Scale shape: per round ONE edge-table join against the node-grain
# label frame (guarded-broadcast under the same 2M-node limit as
# PageRank/k-core; shuffle-join fallback beyond) + one map-combinable
# (node, label) weight rollup + one node-partitioned argmax window —
# the Pregel bound, with localCheckpoint(eager=False) cutting lineage
# each round. Synchronous update keeps the result independent of
# partitioning; rows-only by the driver contract (iterative fixpoint,
# no SQL twin) with a from-scratch pure-python reference in
# tests/test_round8_ops.py.
# --------------------------------------------------------------------------
LPA_ITERS = 4


def _lpa_oracle_sql(iters: int) -> str:
    """Unrolled DuckDB replay of synchronous weighted LPA: the edge
    weights are integer order-co-occurrence counts (exact in both
    engines' arithmetic — Spark sums integer-valued doubles, DuckDB
    HUGEINTs, and both orderings agree below 2^53), and the argmax
    tie-break (max weight, then MIN label) is a total order, so the
    fixed-round fixpoint is bit-replayable round by round. This is
    what promotes LPA from the rows-only contract to a hash-matched
    twin: iterative != non-replayable when every round is integer
    algebra with a deterministic argmax."""
    rounds = []
    for i in range(1, iters + 1):
        prev = "l0" if i == 1 else f"l{i - 1}"
        rounds.append(
            f"""v{i} AS (
        SELECT s.src, l.label, sum(s.w) AS w
        FROM sym s JOIN {prev} l ON s.dst = l.node
        GROUP BY s.src, l.label
    ), l{i} AS (
        SELECT src AS node, label FROM (
            SELECT src, label,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY w DESC, label ASC) AS rn
            FROM v{i}
        ) WHERE rn = 1
    )"""
        )
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH ppo AS (
        SELECT l_orderkey, list(DISTINCT l_partkey) AS parts
        FROM lineitem GROUP BY l_orderkey
    ), sym AS (
        SELECT u.part AS src, v.part AS dst, count(*) AS w
        FROM ppo, unnest(parts) AS u(part), unnest(parts) AS v(part)
        WHERE u.part <> v.part
        GROUP BY 1, 2
    ), l0 AS (
        SELECT src AS node, src AS label FROM sym GROUP BY src
    ),
    {rounds_sql},
    sizes AS (
        SELECT label, count(*) AS size FROM l{iters} GROUP BY label
    )
    SELECT CAST(rank AS BIGINT) AS rank,
           CAST(label AS BIGINT) AS community,
           CAST(size AS BIGINT) AS size
    FROM (
        SELECT label, size,
               row_number() OVER (ORDER BY size DESC, label) AS rank
        FROM sizes
    ) WHERE rank <= 20
    """


@CATALOG.query("copurchase_label_propagation", oracle=_lpa_oracle_sql(LPA_ITERS))
def copurchase_label_propagation(
    spark: SparkSession,
    sf_dir: str,
    broadcast_nodes_limit: int = 2_000_000,
) -> DataFrame:
    # Single-scan symmetrized build (VERDICT r8 #6), persist()ed
    # PARTITIONED BY src (not localCheckpoint — LogicalRDD drops
    # outputPartitioning, which would re-insert an exchange under
    # every round's aggregation; InMemoryRelation keeps it).
    # HashPartitioning(src) satisfies the clustering of BOTH per-round
    # aggs — (src, label) vote rollup and the src-grain argmax — so
    # each round plans ZERO shuffle exchanges: broadcast-join the new
    # labels, aggregate in place. The cache is the graph itself (edge
    # grain), not an exploded corpus intermediate.
    symp = _copurchase_sym_weighted_edges(spark, sf_dir).persist()
    nodes = symp.groupBy("src").agg(F.count("*").alias("_d"))
    small = nodes.count() <= broadcast_nodes_limit
    labels = nodes.select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )
    for _ in range(LPA_ITERS):
        lab_side = F.broadcast(labels) if small else labels
        votes = (
            symp.join(lab_side, symp.dst == lab_side.node)
            .groupBy(F.col("src"), F.col("label"))
            .agg(F.sum("weight").alias("w"))
        )
        # argmax via max_by on (w, -label): max weight, then MIN label —
        # one sortless aggregation instead of a per-round ranking window
        labels = (
            votes.groupBy("src")
            .agg(
                F.max_by(
                    "label", F.struct(F.col("w"), (-F.col("label")).alias("nl"))
                ).alias("label")
            )
            .select(F.col("src").alias("node"), "label")
            .localCheckpoint(eager=False)
        )
    sizes = labels.groupBy("label").agg(F.count("*").alias("size"))
    result = (
        sizes.orderBy(F.col("size").desc(), F.col("label"))
        .limit(20)
        .select(
            F.row_number()
            .over(W.orderBy(F.col("size").desc(), F.col("label")))
            .alias("rank"),
            F.col("label").alias("community"),
            F.col("size").cast("long").alias("size"),
        )
        # eager-checkpoint the <=20-row census so the edge cache can be
        # RELEASED before returning — unlike the GC-able checkpoint
        # RDDs, a CacheManager entry would otherwise pin executor
        # storage for the rest of the session (round-8 review finding)
        .localCheckpoint(eager=True)
    )
    symp.unpersist()
    return result


# --------------------------------------------------------------------------
# copurchase_local_clustering_histogram — the PER-NODE clustering
# coefficient distribution c_v = 2*t_v / (d_v * (d_v - 1)), binned.
# The global closure rate (copurchase_triangle_count) is one number;
# the distribution separates a graph of uniformly-clustered nodes
# from one where a clique core carries all the closure — the shape
# that decides whether community detection (LPA) is even meaningful
# on this graph. Nodes with d < 2 have no defined coefficient and are
# excluded (pinned in the test).
#
# Scale shape: same degree-ordered orientation as the triangle census
# (shared helper — the wedge join stays arboricity-bounded); closed
# triangles explode to 3 node rows each (3 * |triangles|, far below
# the wedge volume already paid); the coefficient join is node-grain;
# the histogram is <= 10 cells. Fully SQL-expressible — same algebra
# in DuckDB.
# --------------------------------------------------------------------------
@CATALOG.query(
    "copurchase_local_clustering_histogram",
    oracle="""
    WITH parts_per_order AS (
        SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
        FROM lineitem GROUP BY l_orderkey
    ), pair_w AS (
        SELECT u.part AS a, v.part AS b
        FROM parts_per_order,
             unnest(parts) AS u(part), unnest(parts) AS v(part)
        WHERE u.part < v.part
    ), edges AS (
        SELECT a, b FROM pair_w GROUP BY a, b HAVING count(*) >= 2
    ), deg AS (
        SELECT node, count(*) AS d FROM (
            SELECT a AS node FROM edges UNION ALL SELECT b FROM edges
        ) GROUP BY node
    ), oriented AS (
        SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS src,
               CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS dst
        FROM edges e
        JOIN deg da ON da.node = e.a
        JOIN deg db ON db.node = e.b
    ), wedges AS (
        SELECT o1.src, o1.dst AS v, o2.dst AS w
        FROM oriented o1 JOIN oriented o2
          ON o1.src = o2.src AND o1.dst < o2.dst
    ), closed AS (
        SELECT wedges.src, wedges.v, wedges.w
        FROM wedges JOIN oriented o3
          ON least(wedges.v, wedges.w) = least(o3.src, o3.dst)
         AND greatest(wedges.v, wedges.w) = greatest(o3.src, o3.dst)
    ), tri_nodes AS (
        SELECT node, count(*) AS t FROM (
            SELECT src AS node FROM closed
            UNION ALL SELECT v FROM closed
            UNION ALL SELECT w FROM closed
        ) GROUP BY node
    ), coeff AS (
        SELECT d.d, 2.0 * coalesce(t.t, 0) / (d.d * (d.d - 1.0)) AS c
        FROM deg d LEFT JOIN tri_nodes t USING (node)
        WHERE d.d >= 2
    )
    SELECT CAST(least(floor(c * 10), 9) AS BIGINT) AS coeff_bin,
           count(*) AS n_nodes,
           CAST(avg(c) AS REAL) AS mean_coeff,
           CAST(avg(d) AS REAL) AS mean_degree
    FROM coeff
    GROUP BY 1
    """,
)
def copurchase_local_clustering_histogram(
    spark: SparkSession, sf_dir: str, broadcast_nodes_limit: int = 2_000_000
) -> DataFrame:
    _edges, deg, oriented = _copurchase_oriented(
        spark, sf_dir, broadcast_nodes_limit
    )
    o1 = oriented.select(F.col("src"), F.col("dst").alias("v"))
    o2 = oriented.select(F.col("src"), F.col("dst").alias("w"))
    wedges = o1.join(o2, "src").where(F.col("v") < F.col("w"))
    probe = oriented.select(
        F.array_sort(F.array("src", "dst")).alias("_key")
    )
    tri_nodes = (
        wedges.select("src", "v", "w", F.array("v", "w").alias("_key"))
        .join(probe, "_key")
        .select(F.explode(F.array("src", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("t"))
    )
    coeff = (
        deg.where(F.col("d") >= 2)
        .join(tri_nodes, "node", "left")
        .select(
            "d",
            (
                F.lit(2.0)
                * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("d") * (F.col("d") - F.lit(1.0)))
            ).alias("c"),
        )
    )
    return coeff.groupBy(
        F.least(F.floor(F.col("c") * 10), F.lit(9))
        .cast("long")
        .alias("coeff_bin")
    ).agg(
        F.count("*").alias("n_nodes"),
        f32(F.avg("c")).alias("mean_coeff"),
        f32(F.avg("d")).alias("mean_degree"),
    )


# --------------------------------------------------------------------------
# median_ci_by_priority — distribution-free (order-statistic) 95%
# confidence interval for the MEDIAN of order value per priority: the
# classic nonparametric interval [X(l), X(u)] with ranks from the
# normal approximation to Binomial(n, 1/2):
#   l = max(floor((n - 1.96*sqrt(n)) / 2), 1)
#   u = min(ceil((n + 1.96*sqrt(n)) / 2) + 1, n)
# A pipeline that reports medians without intervals cannot tell drift
# from noise; this is the statistical-rigor companion to the exact
# median/quantile family. The rank formulas are pure
# floor/ceil/sqrt double arithmetic — bit-identical in Spark and
# DuckDB, so the chosen order statistics (and the hash compare) are
# exact, not tolerance-based.
#
# Scale shape (VERDICT r11 #2 lint rewrite): the four order statistics
# per priority come from functions.quantiles.exact_group_rank_values —
# histogram selection over (priority, price): per-bucket counts to the
# driver, no sort or shuffle of the orders.
# The previous form ranked the whole corpus through a 5-value-key
# window (each reducer sorting ~20% of orders at 100x). The rank
# formulas are pure floor/ceil/sqrt double arithmetic, bit-identical
# between Python (driver) and DuckDB, so the chosen statistics — and
# the hash compare — are unchanged.
# --------------------------------------------------------------------------
@CATALOG.query(
    "median_ci_by_priority",
    oracle="""
    WITH ranked AS (
        SELECT o_orderpriority, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    ), bounds AS (
        SELECT o_orderpriority, max(n) AS n,
               greatest(CAST(floor((max(n) - 1.96 * sqrt(max(n))) / 2)
                             AS BIGINT), 1) AS l,
               least(CAST(ceil((max(n) + 1.96 * sqrt(max(n))) / 2)
                          AS BIGINT) + 1, max(n)) AS u
        FROM ranked GROUP BY o_orderpriority
    )
    SELECT r.o_orderpriority,
           max(b.n) AS n_orders,
           CAST(avg(CASE WHEN r.rn IN ((b.n + 1) // 2, (b.n + 2) // 2)
                         THEN r.o_totalprice END) AS REAL) AS median,
           CAST(max(CASE WHEN r.rn = b.l THEN r.o_totalprice END)
                AS REAL) AS ci_lo,
           CAST(max(CASE WHEN r.rn = b.u THEN r.o_totalprice END)
                AS REAL) AS ci_hi
    FROM ranked r JOIN bounds b USING (o_orderpriority)
    WHERE r.rn IN ((b.n + 1) // 2, (b.n + 2) // 2, b.l, b.u)
    GROUP BY r.o_orderpriority
    """,
)
def median_ci_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math  # noqa: PLC0415

    from orca_ztbus_python_processor_spark.functions.quantiles import (  # noqa: PLC0415
        exact_group_rank_values,
    )

    stats = exact_group_rank_values(
        _t(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice"),
        "o_orderpriority",
        "o_totalprice",
        lambda n: {
            "m1": (n + 1) // 2,
            "m2": (n + 2) // 2,
            "l": max(math.floor((n - 1.96 * math.sqrt(n)) / 2), 1),
            "u": min(math.ceil((n + 1.96 * math.sqrt(n)) / 2) + 1, n),
        },
    )
    # (m1 + m2)/2 == avg over the 1-or-2 picked median rows in the
    # oracle: when n is odd m1 == m2 so (v+v)/2 == v exactly.
    return stats.select(
        "o_orderpriority",
        F.col("n").alias("n_orders"),
        f32((F.col("m1") + F.col("m2")) / 2).alias("median"),
        f32(F.col("l")).alias("ci_lo"),
        f32(F.col("u")).alias("ci_hi"),
    )


# --------------------------------------------------------------------------
# orders_reorder_interval_profile — customer purchase CADENCE: the gap
# in days between a customer's consecutive orders, profiled per market
# segment (exact median / p90 / mean / max). The repeat-purchase
# rhythm a retention model keys on; complements fulfillment_lag_profile
# (order->ship latency) and user_gap_quantiles (event grain) with the
# ORDER-grain inter-arrival axis.
#
# Scale shape: one customer-partitioned lag window (entity-partitioned,
# spillable sort), a broadcast dim join for the segment, then a
# |segments|-cell exact-percentile rollup.
# --------------------------------------------------------------------------
@CATALOG.query(
    "orders_reorder_interval_profile",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               date_diff('day',
                         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate,
                                                         o_orderkey),
                         o_orderdate) AS gap_days
        FROM orders
    ), g AS (
        SELECT c.c_mktsegment, gaps.gap_days
        FROM gaps JOIN customer c ON c.c_custkey = gaps.o_custkey
        WHERE gaps.gap_days IS NOT NULL
    )
    SELECT c_mktsegment,
           count(*) AS n_gaps,
           CAST(quantile_cont(gap_days, 0.5) AS REAL) AS median_gap_days,
           CAST(quantile_cont(gap_days, 0.9) AS REAL) AS p90_gap_days,
           CAST(avg(gap_days) AS REAL) AS mean_gap_days,
           CAST(max(gap_days) AS BIGINT) AS max_gap_days
    FROM g
    GROUP BY c_mktsegment
    """,
)
def orders_reorder_interval_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).alias("gap_days"),
        )
        .where(F.col("gap_days").isNotNull())
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    return (
        gaps.join(F.broadcast(cust), "o_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_gaps"),
            f32(F.percentile("gap_days", F.lit(0.5))).alias(
                "median_gap_days"
            ),
            f32(F.percentile("gap_days", F.lit(0.9))).alias("p90_gap_days"),
            f32(F.avg("gap_days")).alias("mean_gap_days"),
            F.max("gap_days").cast("long").alias("max_gap_days"),
        )
    )


# --------------------------------------------------------------------------
# spearman_qty_discount_by_flag — EXACT Spearman rank correlation of
# quantity vs discount per return flag, computed WITHOUT any
# entity-grain ranking: both columns are low-cardinality (50 and 11
# distinct values), so the average tie-rank of a value is a closed
# form over the per-value counts — avg_rank(v) = (# rows below v) +
# (count(v) + 1) / 2 — and Spearman is Pearson over those ranks,
# weighted by the (flag, qty, discount) cell counts. "Do bigger orders
# get deeper discounts?" answered rank-robustly (Pearson on raw values
# is hostage to the price tail; regression_stats_by_flag shows that
# axis).
#
# Scale shape: ONE map-combinable (flag, qty, discount) cell rollup is
# the only corpus-sized stage; the rank tables are windows over
# <= 50/11-row DISTINCT-VALUE frames per flag (bounded grain, never
# entity grain), and the final co-moment rollup is |flags| cells. The
# same exact statistic via global value ranking would single-task-sort
# the fact table — this shape is why discrete Spearman scales.
# --------------------------------------------------------------------------
@CATALOG.query(
    "spearman_qty_discount_by_flag",
    oracle="""
    WITH cells AS (
        SELECT l_returnflag AS flag, l_quantity AS q, l_discount AS d,
               count(*) AS c
        FROM lineitem GROUP BY 1, 2, 3
    ), qr AS (
        SELECT flag, q,
               sum(cq) OVER (PARTITION BY flag ORDER BY q
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS below,
               cq
        FROM (SELECT flag, q, sum(c) AS cq FROM cells GROUP BY 1, 2)
    ), qrank AS (
        SELECT flag, q,
               coalesce(below, 0) + (cq + 1) / 2.0 AS rq
        FROM qr
    ), dr AS (
        SELECT flag, d,
               sum(cd) OVER (PARTITION BY flag ORDER BY d
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS below,
               cd
        FROM (SELECT flag, d, sum(c) AS cd FROM cells GROUP BY 1, 2)
    ), drank AS (
        SELECT flag, d,
               coalesce(below, 0) + (cd + 1) / 2.0 AS rd
        FROM dr
    ), m AS (
        SELECT cells.flag,
               sum(c) AS n,
               sum(c * rq) AS sx, sum(c * rd) AS sy,
               sum(c * rq * rq) AS sxx, sum(c * rd * rd) AS syy,
               sum(c * rq * rd) AS sxy
        FROM cells
        JOIN qrank ON qrank.flag = cells.flag AND qrank.q = cells.q
        JOIN drank ON drank.flag = cells.flag AND drank.d = cells.d
        GROUP BY cells.flag
    )
    SELECT flag AS l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           CAST(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN (n * sxy - sx * sy)
                     / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                END AS REAL) AS spearman_rho
    FROM m
    """,
)
def spearman_qty_discount_by_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cells = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_quantity").alias("q"),
            F.col("l_discount").alias("d"),
        )
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)  # three consumers of one rollup
    )

    def tie_ranks(col: str, out: str) -> DataFrame:
        per_val = cells.groupBy("flag", col).agg(F.sum("c").alias("cv"))
        win = (
            W.partitionBy("flag")
            .orderBy(col)
            .rowsBetween(W.unboundedPreceding, -1)
        )
        return per_val.select(
            "flag",
            col,
            (
                F.coalesce(F.sum("cv").over(win), F.lit(0))
                + (F.col("cv") + 1) / 2.0
            ).alias(out),
        )

    qrank = tie_ranks("q", "rq")
    drank = tie_ranks("d", "rd")
    joined = cells.join(F.broadcast(qrank), ["flag", "q"]).join(
        F.broadcast(drank), ["flag", "d"]
    )
    n = F.sum("c")
    sx, sy = F.sum(F.col("c") * F.col("rq")), F.sum(F.col("c") * F.col("rd"))
    sxx = F.sum(F.col("c") * F.col("rq") * F.col("rq"))
    syy = F.sum(F.col("c") * F.col("rd") * F.col("rd"))
    sxy = F.sum(F.col("c") * F.col("rq") * F.col("rd"))
    varx, vary = n * sxx - sx * sx, n * syy - sy * sy
    return (
        joined.groupBy("flag")
        .agg(
            n.cast("long").alias("n_rows"),
            f32(
                F.when(
                    (varx > 0) & (vary > 0),
                    (n * sxy - sx * sy) / F.sqrt(varx * vary),
                )
            ).alias("spearman_rho"),
        )
        .withColumnRenamed("flag", "l_returnflag")
    )


# --------------------------------------------------------------------------
# anova_price_by_brand — one-way ANOVA of part retail price across
# brands: does brand explain price variance? Emits the full variance
# decomposition (between/within sum of squares, degrees of freedom,
# F statistic, eta^2 effect size) — the grouped-difference test that
# complements chi_square_nation_segment (categorical x categorical)
# and mannwhitney_value_shift (two-sample rank) with the k-sample
# continuous axis.
#
# Scale shape: ONE map-combinable (brand) moment rollup (n, sum,
# sum-of-squares per group) is the only corpus-sized stage; grand
# totals reduce the |brands|-row frame and the F statistic is closed
# form — no second scan, no window. Output is one row.
# --------------------------------------------------------------------------
@CATALOG.query(
    "anova_price_by_brand",
    oracle="""
    WITH g AS (
        SELECT p_brand, count(*) AS n, sum(p_retailprice) AS s,
               sum(p_retailprice * p_retailprice) AS ss
        FROM part GROUP BY p_brand
    ), t AS (
        SELECT count(*) AS k, sum(n) AS n, sum(s) AS s, sum(ss) AS ss,
               sum(s * s / n) AS sg
        FROM g
    )
    SELECT CAST(k AS BIGINT) AS n_groups,
           CAST(n AS BIGINT) AS n_rows,
           CAST(sg - s * s / n AS REAL) AS ss_between,
           CAST(ss - sg AS REAL) AS ss_within,
           CAST((sg - s * s / n) / (k - 1)
                / ((ss - sg) / (n - k)) AS REAL) AS f_stat,
           CAST((sg - s * s / n) / (ss - s * s / n) AS REAL) AS eta_sq
    FROM t
    """,
)
def anova_price_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        _t(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.sum("p_retailprice").alias("s"),
            F.sum(F.col("p_retailprice") * F.col("p_retailprice")).alias(
                "ss"
            ),
        )
    )
    k = F.count("*")
    n = F.sum("n")
    s, ss = F.sum("s"), F.sum("ss")
    sg = F.sum(F.col("s") * F.col("s") / F.col("n"))
    ss_between = sg - s * s / n
    ss_within = ss - sg
    ss_total = ss - s * s / n
    return g.agg(
        k.cast("long").alias("n_groups"),
        n.cast("long").alias("n_rows"),
        f32(ss_between).alias("ss_between"),
        f32(ss_within).alias("ss_within"),
        f32(
            ss_between / (k - 1) / (ss_within / (n - k))
        ).alias("f_stat"),
        f32(ss_between / ss_total).alias("eta_sq"),
    )


# --------------------------------------------------------------------------
# trend_mk_theilsen_by_segment — NONPARAMETRIC monotonic-trend audit of
# the monthly order volume per market segment: the Mann-Kendall S
# statistic (sum of pairwise sign comparisons), its tie-corrected
# normal z-score, and the Theil-Sen robust slope (median of pairwise
# slopes, orders/month). The rank-robust answer to "is this segment's
# volume drifting?" — OLS (ols_trend_by_user shows that axis) is
# hostage to a single outlier month; MK/Theil-Sen tolerate ~29% gross
# corruption. Everything downstream of the month rollup is pure
# integer/rational arithmetic plus one exact median and one sqrt
# (both bit-identical across engines), so the oracle replays it
# exactly.
#
# Scale shape: ONE map-combinable (segment, month) rollup is the only
# corpus-sized stage; the O(n^2) pair join runs on the BOUNDED
# month-grain frame (|segments| x ~84 months -> ~3.5k pairs/segment,
# calendar-bounded — it grows with the time span, never with row
# count), same policy as the global-window whitelist. The customer
# dim broadcasts.
# --------------------------------------------------------------------------
@CATALOG.query(
    "trend_mk_theilsen_by_segment",
    oracle="""
    WITH monthly AS (
        SELECT c_mktsegment AS seg,
               year(o_orderdate) * 12 + month(o_orderdate) AS mx,
               count(*) AS cnt
        FROM orders JOIN customer ON c_custkey = o_custkey
        GROUP BY 1, 2
    ), pairs AS (
        SELECT a.seg,
               CASE WHEN b.cnt > a.cnt THEN 1
                    WHEN b.cnt < a.cnt THEN -1 ELSE 0 END AS sgn,
               (b.cnt - a.cnt) * 1.0 / (b.mx - a.mx) AS slope
        FROM monthly a
        JOIN monthly b ON a.seg = b.seg AND a.mx < b.mx
    ), pa AS (
        SELECT seg, CAST(sum(sgn) AS BIGINT) AS s_stat,
               quantile_cont(slope, 0.5) AS ts_slope
        FROM pairs GROUP BY seg
    ), ns AS (
        SELECT seg, count(*) AS n FROM monthly GROUP BY seg
    ), ties AS (
        SELECT seg,
               CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        FROM (SELECT seg, cnt, count(*) AS t FROM monthly GROUP BY 1, 2)
        GROUP BY seg
    ), v AS (
        SELECT ns.seg, ns.n, pa.s_stat, pa.ts_slope,
               (ns.n * (ns.n - 1) * (2 * ns.n + 5) - ties.tie_term)
                   / 18.0 AS var_s
        FROM ns JOIN pa ON pa.seg = ns.seg
        JOIN ties ON ties.seg = ns.seg
    )
    SELECT seg AS c_mktsegment, CAST(n AS BIGINT) AS n_months, s_stat,
           CAST(CASE WHEN var_s > 0 THEN
                    CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                         WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                         ELSE 0.0 END
                END AS REAL) AS z_mk,
           CAST(ts_slope AS REAL) AS theil_sen_slope
    FROM v
    """,
)
def trend_mk_theilsen_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    monthly = (
        _t(spark, sf_dir, "orders")
        .join(F.broadcast(cust), "o_custkey")
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mx"),
        )
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)  # four consumers of one rollup
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    pairs = a.join(
        b,
        (F.col("a.seg") == F.col("b.seg")) & (F.col("a.mx") < F.col("b.mx")),
    ).select(
        F.col("a.seg").alias("seg"),
        F.when(F.col("b.cnt") > F.col("a.cnt"), 1)
        .when(F.col("b.cnt") < F.col("a.cnt"), -1)
        .otherwise(0)
        .alias("sgn"),
        (
            (F.col("b.cnt") - F.col("a.cnt")) * 1.0
            / (F.col("b.mx") - F.col("a.mx"))
        ).alias("slope"),
    )
    pa = pairs.groupBy("seg").agg(
        F.sum("sgn").cast("long").alias("s_stat"),
        F.percentile("slope", F.lit(0.5)).alias("ts_slope"),
    )
    ns = monthly.groupBy("seg").agg(F.count("*").alias("n"))
    t = F.col("t")
    ties = (
        monthly.groupBy("seg", "cnt")
        .agg(F.count("*").alias("t"))
        .groupBy("seg")
        .agg(F.sum(t * (t - 1) * (2 * t + 5)).cast("long").alias("tie_term"))
    )
    n, s = F.col("n"), F.col("s_stat")
    var_s = (n * (n - 1) * (2 * n + 5) - F.col("tie_term")) / 18.0
    joined = ns.join(pa, "seg").join(ties, "seg")
    return joined.select(
        F.col("seg").alias("c_mktsegment"),
        n.cast("long").alias("n_months"),
        "s_stat",
        f32(
            F.when(
                var_s > 0,
                F.when(s > 0, (s - 1) / F.sqrt(var_s))
                .when(s < 0, (s + 1) / F.sqrt(var_s))
                .otherwise(0.0),
            )
        ).alias("z_mk"),
        f32(F.col("ts_slope")).alias("theil_sen_slope"),
    )


# --------------------------------------------------------------------------
# bootstrap_ci_price_by_priority — POISSON BOOTSTRAP confidence
# interval for the mean order value per priority: each of B = 64
# resamples weights every order w ~ Poisson(1) (the independent-weight
# approximation to multinomial resampling that makes the bootstrap
# embarrassingly parallel — the standard distributed-bootstrap trick),
# and the 95% CI is the exact [ceil(0.025 B), ceil(0.975 B)] order
# statistics of the B bootstrap means.
#
# Randomness is deterministic and REPLAYABLE: one md5-derived 31-bit
# hash per ORDER, expanded to B per-replicate uniforms through a
# Carter-Wegman family u_b = ((a_b h + c_b) mod 2^31-1) / (2^31-1)
# with literal (a_b, c_b) — the same pairwise-independent family the
# minhash signatures use, so one md5 per row replaces B of them
# (measured 14 s -> ~1 s at sf0.1; Spark's string md5 is ~9 us/row).
# The uniform inverts through the Poisson(1) CDF (literal
# thresholds) to a weight in 0..7.
#
# Scale shape: the row x B explode is map-only whole-stage codegen
# (integer ops only after the single per-row md5) and
# partial-aggregates to |priorities| x B cells BEFORE the shuffle, so
# the exchange moves 320 rows regardless of corpus size; the CI pass
# is a window over B-row frames keyed by priority. Cost is linear in
# B (the only knob) — a cluster run raises B, not the per-row work.
# --------------------------------------------------------------------------
_BOOT_B = 64
# Poisson(1) CDF thresholds F(0)..F(6); u >= F(6) -> w = 7 (P ~ 8e-5).
_POIS_CDF = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
    "0.9998167774148945",
)
_BOOT_M = 2147483647
_BOOT_PARAMS = tuple(
    (_rng.randrange(1, _BOOT_M), _rng.randrange(0, _BOOT_M))
    for _rng in [__import__("random").Random(97)]
    for _ in range(_BOOT_B)
)


def _pois_w_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 7 END"


@CATALOG.query(
    "bootstrap_ci_price_by_priority",
    oracle=f"""
    WITH perms(b, a, c) AS (VALUES {
        ",".join(f"({j + 1},{a},{c})" for j, (a, c) in enumerate(_BOOT_PARAMS))
    }),
    hashed AS (
        SELECT o_orderpriority AS pri, o_totalprice AS price,
               CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                    AS BIGINT) % {_BOOT_M} AS h
        FROM orders
    ), expl AS (
        SELECT pri, price, b,
               ((a * h + c) % {_BOOT_M}) / {_BOOT_M}.0 AS u
        FROM hashed, perms
    ), cells AS (
        SELECT pri, b, sum(w * price) AS swp, sum(w) AS sw
        FROM (SELECT pri, price, b, {_pois_w_sql("u")} AS w FROM expl)
        GROUP BY pri, b
    ), means AS (
        SELECT pri, b,
               CASE WHEN sw > 0 THEN swp / sw END AS m,
               row_number() OVER (PARTITION BY pri ORDER BY
                   CASE WHEN sw > 0 THEN swp / sw END) AS rn
        FROM cells
    ), ci AS (
        SELECT pri,
               max(CASE WHEN rn = CAST(ceil(0.025 * {_BOOT_B}) AS BIGINT)
                   THEN m END) AS lo,
               max(CASE WHEN rn = CAST(ceil(0.975 * {_BOOT_B}) AS BIGINT)
                   THEN m END) AS hi
        FROM means GROUP BY pri
    ), base AS (
        SELECT o_orderpriority AS pri, count(*) AS n,
               avg(o_totalprice) AS mean_price
        FROM orders GROUP BY 1
    )
    SELECT base.pri AS o_orderpriority, CAST(base.n AS BIGINT) AS n_orders,
           CAST(base.mean_price AS REAL) AS mean_price,
           CAST(ci.lo AS REAL) AS ci_lo, CAST(ci.hi AS REAL) AS ci_hi,
           CAST({_BOOT_B} AS BIGINT) AS n_boot
    FROM base JOIN ci ON ci.pri = base.pri
    """,
)
def bootstrap_ci_price_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("price"),
    )
    hashed = orders.select(
        "pri", "price",
        F.expr(
            "cast(conv(substr(md5(cast(o_orderkey as string)), 1, 15),"
            f" 16, 10) as bigint) % {_BOOT_M}"
        ).alias("h"),
    )
    a_lit = "array(" + ",".join(str(a) for a, _ in _BOOT_PARAMS) + ")"
    c_lit = "array(" + ",".join(str(c) for _, c in _BOOT_PARAMS) + ")"
    u = (
        f"((element_at({a_lit}, b) * h + element_at({c_lit}, b))"
        f" % {_BOOT_M}) / {_BOOT_M}.0"
    )
    # Spread the narrow (pri, price, h) rows to session parallelism
    # BEFORE the xB explode: the scan arrives in ~file-size/maxPartition
    # partitions (11 at sf0.1), which would leave 2/3 of the cores idle
    # through the widest stage. The shuffle moves only the pre-explode
    # rows. u gets its OWN projection so the Poisson CASE's seven
    # conditional references hit one computed column — branch-local
    # repeats defeat codegen's common-subexpression elimination
    # (conditional branches are exempt), and u referenced 7x is safe
    # from CollapseProject inlining.
    sc = spark.sparkContext
    spread = hashed.repartition(max(2, sc.defaultParallelism))
    expl = (
        spread.select(
            "pri", "price", "h",
            F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))).alias("b"),
        )
        .select("pri", "price", "b", F.expr(u).alias("u"))
        .select("pri", "price", "b", F.expr(_pois_w_sql("u")).alias("w"))
    )
    cells = expl.groupBy("pri", "b").agg(
        F.sum(F.col("w") * F.col("price")).alias("swp"),
        F.sum("w").alias("sw"),
    )
    m = F.when(F.col("sw") > 0, F.col("swp") / F.col("sw"))
    wm = W.partitionBy("pri").orderBy(m.asc())
    means = cells.select("pri", m.alias("m"), F.row_number().over(wm).alias("rn"))
    lo_rank = F.lit(-(-25 * _BOOT_B // 1000))  # ceil(0.025 * B)
    hi_rank = F.lit(-(-975 * _BOOT_B // 1000))  # ceil(0.975 * B)
    ci = means.groupBy("pri").agg(
        F.max(F.when(F.col("rn") == lo_rank, F.col("m"))).alias("lo"),
        F.max(F.when(F.col("rn") == hi_rank, F.col("m"))).alias("hi"),
    )
    base = orders.groupBy("pri").agg(
        F.count("*").alias("n_orders"),
        F.avg("price").alias("mean_price"),
    )
    return base.join(ci, "pri").select(
        F.col("pri").alias("o_orderpriority"),
        F.col("n_orders").cast("long").alias("n_orders"),
        f32(F.col("mean_price")).alias("mean_price"),
        f32(F.col("lo")).alias("ci_lo"),
        f32(F.col("hi")).alias("ci_hi"),
        F.lit(_BOOT_B).cast("long").alias("n_boot"),
    )


# --------------------------------------------------------------------------
# levene_qty_by_returnflag — Brown–Forsythe variance-homogeneity test:
# does quantity DISPERSION (not level) differ across return flags?
# ANOVA on |q - median_g| (median-centered = the outlier-robust Levene
# variant). Completes the grouped-difference battery: ANOVA tests
# means, Kruskal-Wallis tests ranks, this tests spreads — the
# precondition check for pooled-variance methods (effect sizes below).
# The group median is defined as the ceil(n/2) order statistic (lower
# median) so BOTH engines pick it from cumulative counts with no
# averaging-semantics ambiguity.
#
# Scale shape: ONE map-combinable (flag, qty) cell rollup is the only
# corpus-sized stage (l_quantity has ~50 distinct values, so the cell
# frame is |flags| x 50, bounded); medians come from a cumulative
# window over that bounded frame, and the absolute-deviation moments
# are a second rollup of the SAME cells — no second fact scan, no
# entity-grain sort. Everything is integer/rational until the final
# divisions, so the oracle replays it exactly to the f32 boundary.
# --------------------------------------------------------------------------
@CATALOG.query(
    "levene_qty_by_returnflag",
    oracle="""
    WITH cells AS (
        SELECT l_returnflag AS flag, l_quantity AS q, count(*) AS c
        FROM lineitem GROUP BY 1, 2
    ), cum AS (
        SELECT flag, q, c,
               sum(c) OVER (PARTITION BY flag ORDER BY q) AS cq,
               sum(c) OVER (PARTITION BY flag) AS n
        FROM cells
    ), med AS (
        SELECT flag, min(q) AS med
        FROM cum WHERE cq >= floor((n + 1) / 2.0)
        GROUP BY flag
    ), z AS (
        SELECT cells.flag, abs(q - med) AS z, c
        FROM cells JOIN med ON med.flag = cells.flag
    ), g AS (
        SELECT flag, sum(c) AS n, sum(c * z) AS s, sum(c * z * z) AS ss
        FROM z GROUP BY flag
    ), t AS (
        SELECT count(*) AS k, sum(n) AS n, sum(s) AS s, sum(ss) AS ss,
               sum(s * s / n) AS sg
        FROM g
    )
    SELECT CAST(k AS BIGINT) AS n_groups,
           CAST(n AS BIGINT) AS n_rows,
           CAST(sg - s * s / n AS REAL) AS ss_between,
           CAST(ss - sg AS REAL) AS ss_within,
           CAST((sg - s * s / n) / (k - 1)
                / ((ss - sg) / (n - k)) AS REAL) AS f_stat
    FROM t
    """,
)
def levene_qty_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_quantity").alias("q"),
        )
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)  # reused: median pass + z-moments
    )
    wcum = W.partitionBy("flag").orderBy("q")
    wall = W.partitionBy("flag")
    cum = cells.select(
        "flag",
        "q",
        F.sum("c").over(wcum).alias("cq"),
        F.sum("c").over(wall).alias("n"),
    )
    med = (
        cum.where(F.col("cq") >= F.floor((F.col("n") + 1) / 2.0))
        .groupBy("flag")
        .agg(F.min("q").alias("med"))
    )
    z = cells.join(F.broadcast(med), "flag").select(
        "flag", F.abs(F.col("q") - F.col("med")).alias("z"), "c"
    )
    g = z.groupBy("flag").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("z")).alias("s"),
        F.sum(F.col("c") * F.col("z") * F.col("z")).alias("ss"),
    )
    k, n = F.count("*"), F.sum("n")
    s, ss = F.sum("s"), F.sum("ss")
    sg = F.sum(F.col("s") * F.col("s") / F.col("n"))
    ss_between, ss_within = sg - s * s / n, ss - sg
    return g.agg(
        k.cast("long").alias("n_groups"),
        n.cast("long").alias("n_rows"),
        f32(ss_between).alias("ss_between"),
        f32(ss_within).alias("ss_within"),
        f32(ss_between / (k - 1) / (ss_within / (n - k))).alias("f_stat"),
    )


# --------------------------------------------------------------------------
# kruskal_wallis_qty_by_priority — the k-sample RANK test: does the
# quantity distribution differ across the five order priorities,
# judged on midranks rather than means? Emits the H statistic with the
# tie-correction divisor (quantities are heavily tied — ~50 distinct
# values — so the correction is load-bearing, not cosmetic) and the
# epsilon-squared effect size. Rank analogue of anova_price_by_brand,
# k-sample extension of mannwhitney_value_shift.
#
# Scale shape: the orderkey equi-join feeds ONE map-combinable
# (priority, qty) cell rollup — the only corpus-sized stages; global
# midranks come from a cumulative window over the ~50-row distinct-
# value frame (bounded grain — same policy as
# spearman_qty_discount_by_flag), rank-sums are a 5-row rollup, and H
# is closed form. Midranks are half-integers and all sums stay below
# 2^52, so both engines agree exactly to the f32 boundary.
# --------------------------------------------------------------------------
@CATALOG.query(
    "kruskal_wallis_qty_by_priority",
    oracle="""
    WITH cells AS (
        SELECT o_orderpriority AS mode, l_quantity AS q, count(*) AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ), perq AS (
        SELECT q, sum(c) AS cq FROM cells GROUP BY q
    ), ranks AS (
        SELECT q,
               coalesce(sum(cq) OVER (ORDER BY q
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) + (cq + 1) / 2.0 AS r,
               cq
        FROM perq
    ), rsum AS (
        SELECT mode, sum(c) AS n, sum(c * r) AS rs
        FROM cells JOIN ranks USING (q)
        GROUP BY mode
    ), t AS (
        SELECT count(*) AS k, sum(n) AS n, sum(rs * rs / n) AS srr
        FROM rsum
    ), ties AS (
        SELECT sum(cq * cq * cq - cq) AS tie3 FROM perq
    )
    SELECT CAST(k AS BIGINT) AS n_groups,
           CAST(n AS BIGINT) AS n_rows,
           CAST(12.0 / (n * (n + 1)) * srr - 3 * (n + 1) AS REAL) AS h_stat,
           CAST((12.0 / (n * (n + 1)) * srr - 3 * (n + 1))
                / (1 - tie3 / (CAST(n AS DOUBLE) * n * n - n)) AS REAL)
               AS h_corrected,
           CAST(((12.0 / (n * (n + 1)) * srr - 3 * (n + 1)) - k + 1)
                / (n - k) AS REAL) AS epsilon_sq
    FROM t, ties
    """,
)
def kruskal_wallis_qty_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    cells = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_orderpriority").alias("mode"),
            F.col("l_quantity").alias("q"),
        )
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)  # reused: global ranks + rank-sums
    )
    perq = cells.groupBy("q").agg(F.sum("c").alias("cq"))
    wr = W.orderBy("q").rowsBetween(W.unboundedPreceding, -1)
    # ~50-row distinct-value frame: the unpartitioned window is bounded
    # by the value domain, never by row count (spearman precedent).
    ranks = perq.select(
        "q",
        (
            F.coalesce(F.sum("cq").over(wr), F.lit(0))
            + (F.col("cq") + 1) / 2.0
        ).alias("r"),
        "cq",
    ).localCheckpoint(eager=False)  # reused: rank-sums + tie correction
    rsum = (
        cells.join(F.broadcast(ranks.select("q", "r")), "q")
        .groupBy("mode")
        .agg(F.sum("c").alias("n"), F.sum(F.col("c") * F.col("r")).alias("rs"))
    )
    k, n = F.count("*"), F.sum("n")
    srr = F.sum(F.col("rs") * F.col("rs") / F.col("n"))
    t = rsum.agg(
        k.cast("long").alias("n_groups"),
        n.cast("long").alias("n_rows_l"),
        # n cast to double BEFORE the product: n*(n+1) in LongType wraps
        # past ~3e9 rows (the tie denominator below already does this)
        (
            F.lit(12.0) / (n.cast("double") * (n + 1)) * srr - 3 * (n + 1)
        ).alias("h"),
        k.alias("k_raw"),
        n.alias("n_raw"),
    )
    ties = perq.agg(
        F.sum(
            F.col("cq") * F.col("cq") * F.col("cq") - F.col("cq")
        ).alias("tie3")
    )
    return t.crossJoin(F.broadcast(ties)).select(
        F.col("n_groups"),
        F.col("n_rows_l").alias("n_rows"),
        f32(F.col("h")).alias("h_stat"),
        f32(
            F.col("h")
            / (
                F.lit(1)
                - F.col("tie3")
                / (
                    F.col("n_raw").cast("double")
                    * F.col("n_raw")
                    * F.col("n_raw")
                    - F.col("n_raw")
                )
            )
        ).alias("h_corrected"),
        f32(
            (F.col("h") - F.col("k_raw") + 1)
            / (F.col("n_raw") - F.col("k_raw"))
        ).alias("epsilon_sq"),
    )


# --------------------------------------------------------------------------
# winsorized_price_means — the rank-threshold robust-location pair per
# return flag: the 10% TRIMMED mean (drop the k = floor(n/10) smallest
# and largest prices, average the middle) and the 10% WINSORIZED mean
# (clamp those k tail values to the surviving boundary order
# statistics, average everything). Completes the robust-location
# family: robust_means_profile covers the Pythagorean means (transform
# the values), these cover the rank-threshold estimators (censor the
# ranks) — the standard treatment when a heavy tail should be
# bounded-influence rather than re-weighted.
#
# Scale shape: exact rank-threshold estimators are HOLISTIC — the
# per-flag row_number sort is an entity-grain window (3 flags ≈ 3
# partition-local external sorts, spillable; same whitelist posture as
# the exact-percentile entries, with quantile_sketch_profile as the
# catalog's sketch-grade alternative at 100 TB). Sums over equal-value
# tie groups are permutation-invariant, so the row_number tie order
# cannot change any emitted sum, and the f32 boundary absorbs double
# summation-order noise.
# --------------------------------------------------------------------------
@CATALOG.query(
    "winsorized_price_means",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag AS flag, l_extendedprice AS p,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice) AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    ), lim AS (
        SELECT flag, p, rn, n, CAST(floor(n / 10.0) AS BIGINT) AS k
        FROM ranked
    ), bounds AS (
        SELECT flag,
               max(CASE WHEN rn = k + 1 THEN p END) AS lo,
               max(CASE WHEN rn = n - k THEN p END) AS hi
        FROM lim GROUP BY flag
    )
    SELECT lim.flag AS l_returnflag,
           CAST(max(lim.n) AS BIGINT) AS n_rows,
           CAST(max(lim.k) AS BIGINT) AS k_censored,
           CAST(avg(lim.p) AS REAL) AS mean_price,
           CAST(sum(CASE WHEN rn > k AND rn <= n - k THEN p END)
                / (max(n) - 2 * max(k)) AS REAL) AS trimmed_mean,
           CAST(avg(CASE WHEN rn <= k THEN lo
                         WHEN rn > n - k THEN hi
                         ELSE lim.p END) AS REAL) AS winsorized_mean
    FROM lim JOIN bounds ON bounds.flag = lim.flag
    GROUP BY lim.flag
    """,
)
def winsorized_price_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_extendedprice").alias("p"),
        )
        .select(
            "flag",
            "p",
            F.row_number()
            .over(W.partitionBy("flag").orderBy("p"))
            .alias("rn"),
            F.count("*").over(W.partitionBy("flag")).alias("n"),
        )
        .withColumn("k", F.floor(F.col("n") / 10.0))
        .localCheckpoint(eager=False)  # reused: boundary lookup + means
    )
    bounds = ranked.groupBy("flag").agg(
        F.max(F.when(F.col("rn") == F.col("k") + 1, F.col("p"))).alias("lo"),
        F.max(F.when(F.col("rn") == F.col("n") - F.col("k"), F.col("p"))).alias(
            "hi"
        ),
    )
    mid = (F.col("rn") > F.col("k")) & (F.col("rn") <= F.col("n") - F.col("k"))
    return (
        ranked.join(F.broadcast(bounds), "flag")
        .groupBy("flag")
        .agg(
            F.max("n").cast("long").alias("n_rows"),
            F.max("k").cast("long").alias("k_censored"),
            f32(F.avg("p")).alias("mean_price"),
            f32(
                F.sum(F.when(mid, F.col("p")))
                / (F.max("n") - 2 * F.max("k"))
            ).alias("trimmed_mean"),
            f32(
                F.avg(
                    F.when(F.col("rn") <= F.col("k"), F.col("lo"))
                    .when(F.col("rn") > F.col("n") - F.col("k"), F.col("hi"))
                    .otherwise(F.col("p"))
                )
            ).alias("winsorized_mean"),
        )
        .withColumnRenamed("flag", "l_returnflag")
    )


# --------------------------------------------------------------------------
# effect_size_price_r_vs_n — standardized effect sizes for the returned
# (R) vs not-returned (N) price gap: Cohen's d on the pooled standard
# deviation, the Hedges small-sample correction g, Glass's delta
# (control-side scale), and the log response ratio. The statistical-
# test family (ANOVA/KW/MW/Levene) answers "is there a difference?";
# effect sizes answer "how big, in comparable units?" — the number a
# 100 TB A/B readout actually ships.
#
# Scale shape: ONE map-combinable two-group moment rollup (n, sum, sum
# of squares per flag) — closed form from there, output is one row.
# All moments are exact integer-weighted double sums; f32 absorbs
# summation order.
# --------------------------------------------------------------------------
@CATALOG.query(
    "effect_size_price_r_vs_n",
    oracle="""
    WITH g AS (
        SELECT l_returnflag AS flag, count(*) AS n,
               sum(l_extendedprice) AS s,
               sum(l_extendedprice * l_extendedprice) AS ss
        FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1
    ), w AS (
        SELECT max(CASE WHEN flag = 'R' THEN n END) AS n1,
               max(CASE WHEN flag = 'R' THEN s END) AS s1,
               max(CASE WHEN flag = 'R' THEN ss END) AS ss1,
               max(CASE WHEN flag = 'N' THEN n END) AS n2,
               max(CASE WHEN flag = 'N' THEN s END) AS s2,
               max(CASE WHEN flag = 'N' THEN ss END) AS ss2
        FROM g
    ), d AS (
        SELECT n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
               (ss1 - s1 * s1 / n1) / (n1 - 1) AS v1,
               (ss2 - s2 * s2 / n2) / (n2 - 1) AS v2
        FROM w
    )
    SELECT CAST(n1 AS BIGINT) AS n_returned,
           CAST(n2 AS BIGINT) AS n_kept,
           CAST(m1 - m2 AS REAL) AS mean_diff,
           CAST((m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
                                 / (n1 + n2 - 2)) AS REAL) AS cohens_d,
           CAST((m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
                                 / (n1 + n2 - 2))
                * (1 - 3.0 / (4 * (n1 + n2) - 9)) AS REAL) AS hedges_g,
           CAST((m1 - m2) / sqrt(v2) AS REAL) AS glass_delta,
           CAST(ln(m1 / m2) AS REAL) AS log_ratio
    FROM d
    """,
)
def effect_size_price_r_vs_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag").isin("R", "N"))
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count("*").alias("n"),
            F.sum("l_extendedprice").alias("s"),
            F.sum(F.col("l_extendedprice") * F.col("l_extendedprice")).alias(
                "ss"
            ),
        )
    )

    def side(col: str, flag: str) -> Column:
        return F.max(F.when(F.col("flag") == flag, F.col(col)))

    w = g.agg(
        side("n", "R").alias("n1"),
        side("s", "R").alias("s1"),
        side("ss", "R").alias("ss1"),
        side("n", "N").alias("n2"),
        side("s", "N").alias("s2"),
        side("ss", "N").alias("ss2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    m1, m2 = F.col("s1") / n1, F.col("s2") / n2
    v1 = (F.col("ss1") - F.col("s1") * F.col("s1") / n1) / (n1 - 1)
    v2 = (F.col("ss2") - F.col("s2") * F.col("s2") / n2) / (n2 - 1)
    sp = F.sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
    d = (m1 - m2) / sp
    return w.select(
        n1.cast("long").alias("n_returned"),
        n2.cast("long").alias("n_kept"),
        f32(m1 - m2).alias("mean_diff"),
        f32(d).alias("cohens_d"),
        f32(d * (1 - 3.0 / (4 * (n1 + n2) - 9))).alias("hedges_g"),
        f32((m1 - m2) / F.sqrt(v2)).alias("glass_delta"),
        f32(F.log(m1 / m2)).alias("log_ratio"),
    )


# --------------------------------------------------------------------------
# return_model_calibration_bins — the reliability diagram for a fixed
# logistic return-risk score: bucket lineitems into score deciles and
# emit, per bin, the mean predicted probability vs the empirical
# return rate, the calibration gap, and the Brier contribution. The
# ML-eval primitive the statistical-test family lacks: given ANY
# per-row score (here a frozen toy logistic in discount and quantity —
# coefficients are part of the query contract, not learned), is it
# CALIBRATED? At 100 TB this is the per-shard quality-classifier audit
# run before a filter threshold is trusted.
#
# Scale shape: the score, label, and bin are all row-local expressions
# inside the scan (whole-stage codegen), then ONE map-combinable
# ≤10-row rollup. exp() is the same libm call on both engines; per-row
# values are bit-identical and the f32 boundary absorbs aggregation
# order.
# --------------------------------------------------------------------------
@CATALOG.query(
    "return_model_calibration_bins",
    oracle="""
    WITH scored AS (
        SELECT 1.0 / (1.0 + exp(-(-3.0 + 30.0 * l_discount
                                  + 0.08 * l_quantity))) AS score,
               CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
        FROM lineitem
    )
    SELECT CAST(least(floor(CAST(score AS REAL) * 10), 9) AS BIGINT) AS bin,
           count(*) AS n_rows,
           CAST(avg(score) AS REAL) AS mean_predicted,
           CAST(avg(y) AS REAL) AS observed_rate,
           CAST(avg(score) - avg(y) AS REAL) AS calibration_gap,
           CAST(avg((score - y) * (score - y)) AS REAL) AS brier
    FROM scored GROUP BY 1
    """,
)
def return_model_calibration_bins(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    score = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(
            -(
                F.lit(-3.0)
                + 30.0 * F.col("l_discount")
                + 0.08 * F.col("l_quantity")
            )
        )
    )
    y = F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
    return (
        _t(spark, sf_dir, "lineitem")
        .select(score.alias("score"), y.alias("y"))
        .groupBy(
            # bin on the f32-quantized score so the GROUP BY key is
            # representation-stable: a 1-ulp JVM-vs-libm exp()
            # divergence for a row sitting exactly on a decile
            # boundary could otherwise flip its bin (ADVICE r10) —
            # unlike the aggregates below, where float noise is
            # absorbed at the f32 output boundary.
            F.least(F.floor(F.col("score").cast("float") * 10), F.lit(9))
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count("*").alias("n_rows"),
            f32(F.avg("score")).alias("mean_predicted"),
            f32(F.avg("y")).alias("observed_rate"),
            f32(F.avg("score") - F.avg("y")).alias("calibration_gap"),
            f32(
                F.avg(
                    (F.col("score") - F.col("y"))
                    * (F.col("score") - F.col("y"))
                )
            ).alias("brier"),
        )
    )


# --------------------------------------------------------------------------
# bipartite_hits_parts — HITS hub/authority scoring on the DIRECTED
# bipartite purchase graph (customer —buys→ part, weight = lineitem
# count): two full mutual-reinforcement rounds of the Kleinberg
# power iteration (a¹ = Wᵀ·1, h¹ = W·a¹, a² = Wᵀ·h¹), then the top-15
# parts by second-round authority. The directed-centrality axis the
# graph family lacks: PageRank ranks within ONE node set via random
# walks; HITS splits the bipartite roles — parts are authorities
# (bought by high-volume customers), customers are hubs (buy
# authoritative parts).
#
# Replay contract: weights are integer counts and the iteration is run
# UNNORMALIZED, so every matvec is an integer-weighted integer sum —
# exact in doubles far below 2^53 even at 100× this scale (a² is
# bounded by fanout³ ≈ 10⁷ per node at sf1) — and the (score DESC,
# partkey) order is total. That makes the fixed-round fixpoint
# bit-replayable, the same promotion trick as the LPA unrolled twin;
# the scale-free authority_share ratio is the only float.
#
# Scale shape: ONE corpus-sized stage — the orderkey equi-join that
# builds the (cust, part, w) edge list, persisted and reused by all
# three matvecs. Each matvec is an equi-join of the edge table against
# a NODE-grain score frame (AQE broadcasts it at test scale; hash join
# on the node key beyond) plus a map-combinable rollup — the Pregel
# bound, fixed at 3 rounds. Top-15 via TakeOrdered, no global sort.
# --------------------------------------------------------------------------
@CATALOG.query(
    "bipartite_hits_parts",
    oracle="""
    WITH e AS (
        SELECT o_custkey AS c, l_partkey AS p, count(*) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ), a1 AS (
        SELECT p, sum(w) AS a FROM e GROUP BY p
    ), h1 AS (
        SELECT e.c, sum(e.w * a1.a) AS h FROM e JOIN a1 USING (p) GROUP BY e.c
    ), a2 AS (
        SELECT e.p, sum(e.w * h1.h) AS a FROM e JOIN h1 USING (c) GROUP BY e.p
    ), mx AS (
        SELECT max(a) AS m FROM a2
    ), top AS (
        SELECT p, a, row_number() OVER (ORDER BY a DESC, p) AS rank
        FROM a2
    )
    SELECT CAST(rank AS BIGINT) AS rank,
           CAST(top.p AS BIGINT) AS partkey,
           CAST(top.a AS BIGINT) AS authority2,
           CAST(a1.a AS BIGINT) AS authority1,
           CAST(top.a / m AS REAL) AS authority_share
    FROM top JOIN a1 ON a1.p = top.p, mx
    WHERE rank <= 15
    """,
)
def bipartite_hits_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    result, e = _hits_frames(spark, sf_dir)
    # eager-checkpoint the 15-row result so the edge cache can be
    # RELEASED before returning (the LPA precedent: a persist with no
    # unpersist pins the largest intermediate for the session)
    out = result.localCheckpoint(eager=True)
    e.unpersist()
    return out


def _hits_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(pre-checkpoint result, persisted edge table) — split out so the
    plan pin can inspect the live plan (the eager checkpoint above
    collapses it to a LogicalRDD) and the query can release the cache."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .agg(F.count("*").alias("w"))
        .persist()  # reused by all three matvecs
    )
    a1 = e.groupBy("p").agg(F.sum("w").alias("a1"))
    h1 = (
        e.join(a1, "p")
        .groupBy("c")
        .agg(F.sum(F.col("w") * F.col("a1")).alias("h1"))
    )
    a2 = (
        e.join(h1, "c")
        .groupBy("p")
        .agg(F.sum(F.col("w") * F.col("h1")).alias("a2"))
    )
    mx = a2.agg(F.max("a2").alias("m"))
    top = a2.orderBy(F.col("a2").desc(), "p").limit(15)
    result = (
        top.join(a1, "p")
        .crossJoin(F.broadcast(mx))
        .select(
            F.row_number()
            .over(W.orderBy(F.col("a2").desc(), "p"))
            .alias("rank"),
            F.col("p").cast("long").alias("partkey"),
            F.col("a2").cast("long").alias("authority2"),
            F.col("a1").cast("long").alias("authority1"),
            f32(F.col("a2") / F.col("m")).alias("authority_share"),
        )
    )
    return result, e


# --------------------------------------------------------------------------
# k_anonymity_audit — privacy-risk census of the customer table under
# the quasi-identifier (nation, market segment, account balance rounded
# to 100): how many customers sit in equivalence classes of size k
# (k-anonymity buckets k=1, 2-4, 5-19, 20+)? A released table is
# k-anonymous iff every class has >= k members; the k=1 bucket is the
# re-identifiable population. Pairs with dp_noisy_type_histogram as the
# privacy family's second axis: that one protects a RELEASE with noise,
# this one measures the LINKAGE risk of the raw rows — the audit a
# 100 TB pipeline runs before deciding which columns need
# generalization. floor-rounding (not banker's) so both engines bucket
# identically at representation boundaries.
#
# Scale shape: ONE map-combinable quasi-identifier rollup (class
# grain), then a ≤4-row bucket rollup of the class frame — two stacked
# aggregations, the k-census is never entity grain. All integer.
# --------------------------------------------------------------------------
@CATALOG.query(
    "k_anonymity_audit",
    oracle="""
    WITH classes AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 100.0) AS BIGINT) AS bal_bucket,
               count(*) AS k
        FROM customer GROUP BY 1, 2, 3
    )
    SELECT CASE WHEN k = 1 THEN 'k=1'
                WHEN k < 5 THEN 'k=2-4'
                WHEN k < 20 THEN 'k=5-19'
                ELSE 'k>=20' END AS k_bucket,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(k) AS BIGINT) AS n_customers,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k
    FROM classes GROUP BY 1
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    classes = (
        _t(spark, sf_dir, "customer")
        .groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 100.0).cast("long").alias(
                "bal_bucket"
            ),
        )
        .agg(F.count("*").alias("k"))
    )
    bucket = (
        F.when(F.col("k") == 1, "k=1")
        .when(F.col("k") < 5, "k=2-4")
        .when(F.col("k") < 20, "k=5-19")
        .otherwise("k>=20")
    )
    return classes.groupBy(bucket.alias("k_bucket")).agg(
        F.count("*").cast("long").alias("n_classes"),
        F.sum("k").cast("long").alias("n_customers"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
    )


# --------------------------------------------------------------------------
# gini_stump_split_gain — single-feature decision-STUMP induction on
# the lineitem table: for every candidate one-vs-rest categorical
# split (feature = value vs rest), the weighted Gini-impurity
# reduction for predicting "was the line returned" (l_returnflag =
# 'R'). The ML-primitive family's missing induction axis: the catalog
# evaluates fixed predictors (calibration bins, AUC, kNN probes); this
# is the op that picks the first split of a tree — the feature-
# selection scan every tabular-ML pipeline runs before training.
#
# Replay contract: every gain is pure arithmetic on EXACT integer
# counts (n, n_pos, per-cell n_v, pos_v) — identical IEEE divisions on
# both engines, no aggregation-order float anywhere; the f32 output
# boundary is belt-and-braces. All candidate rows are emitted (no
# argmax cliff); the consumer sorts by gain.
#
# Scale shape: ONE map-combinable (feature, value) rollup over a
# 3-way stack explode (row-local), plus a 2-row scalar cross join for
# the parent totals. At 100 TB the stack triples the scan's row count
# map-side and the shuffle carries |values| rows per feature — tiny.
# --------------------------------------------------------------------------
@CATALOG.query(
    "gini_stump_split_gain",
    oracle="""
    WITH stacked AS (
        SELECT f.feature, f.value,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem, LATERAL (VALUES
            ('linestatus', l_linestatus),
            ('qty_decade', CAST(CAST(floor(l_quantity / 10) AS INTEGER)
                                AS VARCHAR)),
            ('ship_quarter', CAST(quarter(l_shipdate) AS VARCHAR)))
            AS f(feature, value)
    ), tot AS (
        SELECT count(*) / 3 AS n, sum(y) / 3 AS pos FROM stacked
    ), cells AS (
        SELECT feature, value, count(*) AS n_left, sum(y) AS pos_left
        FROM stacked GROUP BY 1, 2
    )
    SELECT feature, value AS split_value,
           CAST(n_left AS BIGINT) AS n_left,
           CAST(pos_left AS BIGINT) AS pos_left,
           CAST(
             (1.0 - (CAST(pos AS DOUBLE)/n)*(CAST(pos AS DOUBLE)/n)
                  - (CAST(n - pos AS DOUBLE)/n)*(CAST(n - pos AS DOUBLE)/n))
             - (CAST(n_left AS DOUBLE)/n) *
               (1.0 - (CAST(pos_left AS DOUBLE)/n_left)*(CAST(pos_left AS DOUBLE)/n_left)
                    - (CAST(n_left - pos_left AS DOUBLE)/n_left)
                      *(CAST(n_left - pos_left AS DOUBLE)/n_left))
             - CASE WHEN n - n_left = 0 THEN 0.0 ELSE
               (CAST(n - n_left AS DOUBLE)/n) *
               (1.0 - (CAST(pos - pos_left AS DOUBLE)/(n - n_left))
                      *(CAST(pos - pos_left AS DOUBLE)/(n - n_left))
                    - (CAST((n - n_left) - (pos - pos_left) AS DOUBLE)/(n - n_left))
                      *(CAST((n - n_left) - (pos - pos_left) AS DOUBLE)/(n - n_left)))
               END
           AS REAL) AS gini_gain
    FROM cells, tot
    """,
)
def gini_stump_split_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    stacked = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.expr(
                "stack(3, 'linestatus', l_linestatus,"
                " 'qty_decade',"
                " cast(cast(floor(l_quantity / 10) as int) as string),"
                " 'ship_quarter', cast(quarter(l_shipdate) as string))"
                " AS (feature, value)"
            ),
            y.alias("y"),
        )
    )
    tot = stacked.agg(
        (F.count("*") / 3).alias("n"), (F.sum("y") / 3).alias("pos")
    )
    cells = stacked.groupBy("feature", "value").agg(
        F.count("*").alias("n_left"), F.sum("y").alias("pos_left")
    )
    n, pos = F.col("n"), F.col("pos")
    nl, pl = F.col("n_left"), F.col("pos_left")
    nr, pr = n - nl, pos - pl

    def g(p, m):
        return (
            F.lit(1.0)
            - (p.cast("double") / m) * (p.cast("double") / m)
            - ((m - p).cast("double") / m) * ((m - p).cast("double") / m)
        )

    gain = (
        g(pos, n)
        - (nl.cast("double") / n) * g(pl, nl)
        - F.when(nr == 0, F.lit(0.0)).otherwise(
            (nr.cast("double") / n) * g(pr, nr)
        )
    )
    return cells.crossJoin(F.broadcast(tot)).select(
        "feature",
        F.col("value").alias("split_value"),
        nl.cast("long").alias("n_left"),
        pl.cast("long").alias("pos_left"),
        f32(gain).alias("gini_gain"),
    )


# --------------------------------------------------------------------------
# pinball_loss_p90_eval — quantile-forecast EVALUATION: train a P90
# order-value "predictor" per order priority on the first half of the
# date range (the ceil-rank order statistic — an exact, engine-
# portable definition with no interpolation), then score it on the
# second half with the pinball (quantile) loss at tau = 0.9, the
# proper scoring rule for quantile forecasts. Completes the eval
# family (calibration bins = probability forecasts, AUC = ranking,
# this = quantile regression) — at 100 TB this is the per-segment
# backtest run before a demand-quantile model ships.
#
# Replay contract: the split midpoint is WHOLE-DAY integer arithmetic
# on both engines (ADVICE r11: Python lo+(hi-lo)/2 kept a 12h
# remainder on odd-day spans while DuckDB interval/2 truncates —
# harmless only while o_orderdate stays midnight-grain; both sides now
# anchor to floor(day_span/2) days explicitly). The P90 is the value
# at rank ceil(0.9 * n) of the ascending price order — an order
# statistic of a multiset, deterministic regardless of tie order, so
# exact on both engines; the loss pinball(y, q) = max(tau*(y-q),
# (tau-1)*(y-q)) is row-local; only the test-half MEAN crosses
# engines, at the f32 boundary.
#
# Scale shape (VERDICT r11 #1 rewrite): the train-half P90 runs on
# functions.quantiles.exact_group_rank_value — histogram selection
# over (priority, price): per-bucket counts to the driver, no sort or
# shuffle of the train half. The previous form sorted each
# priority's whole train half through a single task
# (Window.partitionBy on a 5-value key — five reducers at 100x). The
# test half stays a map-combinable rollup joined against the 5-row q
# table (broadcast).
# --------------------------------------------------------------------------
PINBALL_TAU = 0.9


@CATALOG.query(
    "pinball_loss_p90_eval",
    oracle=f"""
    WITH bounds AS (
        SELECT min(o_orderdate) AS lo,
               min(o_orderdate) + to_days(CAST(floor(
                   date_diff('day', min(o_orderdate), max(o_orderdate)) / 2
               ) AS INTEGER)) AS mid
        FROM orders
    ), train AS (
        SELECT o_orderpriority AS prio, o_totalprice AS y,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders, bounds WHERE o_orderdate <= mid
    ), q AS (
        SELECT prio, y AS q90
        FROM train WHERE rn = CAST(ceil({PINBALL_TAU} * n) AS BIGINT)
    ), test AS (
        SELECT o_orderpriority AS prio, o_totalprice AS y
        FROM orders, bounds WHERE o_orderdate > mid
    )
    SELECT t.prio AS priority,
           count(*) AS n_test,
           CAST(q.q90 AS REAL) AS q90_trained,
           CAST(avg(greatest({PINBALL_TAU} * (t.y - q.q90),
                             ({PINBALL_TAU} - 1.0) * (t.y - q.q90)))
                AS REAL) AS mean_pinball_loss
    FROM test t JOIN q ON q.prio = t.prio
    GROUP BY t.prio, q.q90
    """,
)
def pinball_loss_p90_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math  # noqa: PLC0415
    from datetime import timedelta  # noqa: PLC0415

    from orca_ztbus_python_processor_spark.functions.quantiles import (  # noqa: PLC0415
        exact_group_rank_value,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderdate", "o_totalprice"
    )
    lo, hi = orders.agg(F.min("o_orderdate"), F.max("o_orderdate")).first()
    mid = lo + timedelta(days=(hi - lo).days // 2)
    train = orders.where(F.col("o_orderdate") <= F.lit(mid))
    # ceil-rank P90 via the histogram-selected order statistic — both
    # engines compute ceil(0.9 * n) in IEEE doubles, identical result.
    q = exact_group_rank_value(
        train,
        "o_orderpriority",
        "o_totalprice",
        lambda n: math.ceil(PINBALL_TAU * n),
        out_col="q90",
    ).select(F.col("o_orderpriority").alias("prio"), "q90")
    test = orders.where(F.col("o_orderdate") > F.lit(mid)).select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("y"),
    )
    diff = F.col("y") - F.col("q90")
    loss = F.greatest(
        F.lit(PINBALL_TAU) * diff, F.lit(PINBALL_TAU - 1.0) * diff
    )
    return (
        test.join(F.broadcast(q), "prio")
        .groupBy(F.col("prio").alias("priority"), F.col("q90"))
        .agg(
            F.count("*").alias("n_test"),
            f32(F.avg(loss)).alias("mean_pinball_loss"),
        )
        .select(
            "priority",
            "n_test",
            f32(F.col("q90")).alias("q90_trained"),
            "mean_pinball_loss",
        )
    )


# --------------------------------------------------------------------------
# naive_bayes_returnflag — train a categorical Naive Bayes classifier
# (Laplace add-1) on the odd-orderkey half of lineitem and score the
# even half, emitting the 2x2 confusion matrix with per-cell mean
# decision margin. Completes the ML-primitive family's missing
# GENERATIVE-classifier axis (gini_stump = discriminative induction,
# calibration/AUC/pinball = eval of fixed scores): this is the
# smoothed count-ratio model every "cheap quality classifier over a
# 100 TB corpus" pipeline starts from.
#
# Replay contract: all model inputs are EXACT integers (train class
# totals, per-(feature,value) class counts, vocabulary sizes taken
# over the FULL table so every test value has a model row and no
# unseen-value default branch exists). Each conditional log-prob and
# the class priors are quantized to f32 at the model-table boundary —
# a materialized k-row table — so a 1-ulp JVM-vs-libm ln() divergence
# is absorbed before any row is scored. The per-row score is then a
# fixed, explicitly-parenthesized 4-term double sum of those f32
# scalars ((prior + lp1) + lp2) + lp3 — bit-identical on both engines
# — and the argmax comparison s_pos > s_neg is deterministic. The
# confusion counts are exact integers; only mean_margin crosses at
# the f32 output boundary.
#
# Scale shape: ONE stacked map-combinable rollup over the train half
# builds the model (|values| rows, ~20), which then drives three
# value-keyed BROADCAST joins into the test scan — no shuffle touches
# the fact table after the model rollup; the confusion matrix is a
# 4-row map-combinable rollup. At 100 TB the model is still ~20 rows.
# --------------------------------------------------------------------------
_NB_FEATURES_SQL = """
        SELECT l_orderkey, f.feature, f.value,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem, LATERAL (VALUES
            ('linestatus', l_linestatus),
            ('qty_decade', CAST(CAST(floor(l_quantity / 10) AS INTEGER)
                                AS VARCHAR)),
            ('ship_quarter', CAST(quarter(l_shipdate) AS VARCHAR)))
            AS f(feature, value)
"""


@CATALOG.query(
    "naive_bayes_returnflag",
    oracle=f"""
    WITH stacked AS ({_NB_FEATURES_SQL}
    ), vocab AS (
        SELECT DISTINCT feature, value FROM stacked
    ), vf AS (
        SELECT feature, count(*) AS v_f FROM vocab GROUP BY 1
    ), traincnt AS (
        SELECT feature, value, sum(y) AS c_pos, count(*) - sum(y) AS c_neg
        FROM stacked WHERE l_orderkey % 2 = 1 GROUP BY 1, 2
    ), tot AS (
        SELECT sum(y) / 3 AS n_pos, (count(*) - sum(y)) / 3 AS n_neg
        FROM stacked WHERE l_orderkey % 2 = 1
    ), model AS (
        SELECT v.feature, v.value,
               CAST(ln((COALESCE(t.c_pos, 0) + 1.0)
                       / (tot.n_pos + vf.v_f)) AS REAL) AS lp_pos,
               CAST(ln((COALESCE(t.c_neg, 0) + 1.0)
                       / (tot.n_neg + vf.v_f)) AS REAL) AS lp_neg
        FROM vocab v
        LEFT JOIN traincnt t ON t.feature = v.feature AND t.value = v.value
        JOIN vf ON vf.feature = v.feature
        CROSS JOIN tot
    ), priors AS (
        SELECT CAST(ln(CAST(n_pos AS DOUBLE) / (n_pos + n_neg)) AS REAL)
                   AS lpr_pos,
               CAST(ln(CAST(n_neg AS DOUBLE) / (n_pos + n_neg)) AS REAL)
                   AS lpr_neg
        FROM tot
    ), test AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 'R' ELSE 'O' END AS actual,
               l_linestatus AS f1,
               CAST(CAST(floor(l_quantity / 10) AS INTEGER) AS VARCHAR) AS f2,
               CAST(quarter(l_shipdate) AS VARCHAR) AS f3
        FROM lineitem WHERE l_orderkey % 2 = 0
    ), scored AS (
        SELECT t.actual,
               (((CAST(p.lpr_pos AS DOUBLE) + CAST(m1.lp_pos AS DOUBLE))
                 + CAST(m2.lp_pos AS DOUBLE)) + CAST(m3.lp_pos AS DOUBLE))
                   AS s_pos,
               (((CAST(p.lpr_neg AS DOUBLE) + CAST(m1.lp_neg AS DOUBLE))
                 + CAST(m2.lp_neg AS DOUBLE)) + CAST(m3.lp_neg AS DOUBLE))
                   AS s_neg
        FROM test t
        JOIN model m1 ON m1.feature = 'linestatus' AND m1.value = t.f1
        JOIN model m2 ON m2.feature = 'qty_decade' AND m2.value = t.f2
        JOIN model m3 ON m3.feature = 'ship_quarter' AND m3.value = t.f3
        CROSS JOIN priors p
    )
    SELECT actual,
           CASE WHEN s_pos > s_neg THEN 'R' ELSE 'O' END AS predicted,
           CASE WHEN s_pos - CAST(p2.lpr_pos AS DOUBLE)
                     > s_neg - CAST(p2.lpr_neg AS DOUBLE)
                THEN 'R' ELSE 'O' END AS predicted_noprior,
           count(*) AS n_rows,
           CAST(avg(s_pos - s_neg) AS REAL) AS mean_margin
    FROM scored CROSS JOIN priors p2 GROUP BY 1, 2, 3
    """,
)
def naive_bayes_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    stack_expr = (
        "stack(3, 'linestatus', l_linestatus,"
        " 'qty_decade', cast(cast(floor(l_quantity / 10) as int) as string),"
        " 'ship_quarter', cast(quarter(l_shipdate) as string))"
        " AS (feature, value)"
    )
    li = _t(spark, sf_dir, "lineitem")
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    stacked = li.select("l_orderkey", F.expr(stack_expr), y.alias("y"))
    vocab = stacked.select("feature", "value").distinct()
    vf = vocab.groupBy("feature").agg(F.count("*").alias("v_f"))
    train = stacked.where(F.col("l_orderkey") % 2 == 1)
    traincnt = train.groupBy("feature", "value").agg(
        F.sum("y").alias("c_pos"),
        (F.count("*") - F.sum("y")).alias("c_neg"),
    )
    tot = train.agg(
        (F.sum("y") / 3).alias("n_pos"),
        ((F.count("*") - F.sum("y")) / 3).alias("n_neg"),
        # pinned: referenced by the model AND the priors — without the
        # pin each reference re-ran the train-half corpus rollup
    ).localCheckpoint(eager=False)
    model = (
        vocab.join(traincnt, ["feature", "value"], "left")
        .join(vf, "feature")
        .crossJoin(F.broadcast(tot))
        .select(
            "feature",
            "value",
            f32(
                F.log(
                    (F.coalesce(F.col("c_pos"), F.lit(0)) + F.lit(1.0))
                    / (F.col("n_pos") + F.col("v_f"))
                )
            ).alias("lp_pos"),
            f32(
                F.log(
                    (F.coalesce(F.col("c_neg"), F.lit(0)) + F.lit(1.0))
                    / (F.col("n_neg") + F.col("v_f"))
                )
            ).alias("lp_neg"),
        )
        # pin the vocabulary-sized model: the three per-feature mdl()
        # slices below each referenced it, and Catalyst does not CSE
        # duplicate subtrees — without the pin the plan re-ran the
        # corpus stack + distinct + train rollup once per feature
        # (17 Exchanges at the round-12 census; one corpus pass now)
        .localCheckpoint(eager=False)
    )
    priors = tot.select(
        f32(
            F.log(F.col("n_pos").cast("double") / (F.col("n_pos") + F.col("n_neg")))
        ).alias("lpr_pos"),
        f32(
            F.log(F.col("n_neg").cast("double") / (F.col("n_pos") + F.col("n_neg")))
        ).alias("lpr_neg"),
    )

    def mdl(feat: str, p: str, n: str) -> DataFrame:
        return model.where(F.col("feature") == feat).select(
            F.col("value").alias(f"{feat}_v"),
            F.col("lp_pos").alias(p),
            F.col("lp_neg").alias(n),
        )

    test = li.where(F.col("l_orderkey") % 2 == 0).select(
        F.when(F.col("l_returnflag") == "R", "R").otherwise("O").alias("actual"),
        F.col("l_linestatus").alias("f1"),
        F.expr("cast(cast(floor(l_quantity / 10) as int) as string)").alias("f2"),
        F.expr("cast(quarter(l_shipdate) as string)").alias("f3"),
    )
    scored = (
        test.join(
            F.broadcast(mdl("linestatus", "lp1p", "lp1n")),
            F.col("f1") == F.col("linestatus_v"),
        )
        .join(
            F.broadcast(mdl("qty_decade", "lp2p", "lp2n")),
            F.col("f2") == F.col("qty_decade_v"),
        )
        .join(
            F.broadcast(mdl("ship_quarter", "lp3p", "lp3n")),
            F.col("f3") == F.col("ship_quarter_v"),
        )
        .crossJoin(F.broadcast(priors))
    )
    # explicitly parenthesized left-assoc 4-term double sum — the same
    # literal expression the oracle writes, so the comparison below is
    # bit-identical on both engines (inputs are the f32 model scalars)
    s_pos = (
        (F.col("lpr_pos").cast("double") + F.col("lp1p").cast("double"))
        + F.col("lp2p").cast("double")
    ) + F.col("lp3p").cast("double")
    s_neg = (
        (F.col("lpr_neg").cast("double") + F.col("lp1n").cast("double"))
        + F.col("lp2n").cast("double")
    ) + F.col("lp3n").cast("double")
    # no-prior (pure likelihood-ratio) decision as a second column:
    # the prior dominates this corpus (the MAP column predicts the
    # majority class everywhere), so the likelihood-only argmax is
    # what keeps the confusion surface non-degenerate
    nop = (s_pos - F.col("lpr_pos").cast("double")) > (
        s_neg - F.col("lpr_neg").cast("double")
    )
    return (
        scored.select(
            "actual",
            F.when(s_pos > s_neg, "R").otherwise("O").alias("predicted"),
            F.when(nop, "R").otherwise("O").alias("predicted_noprior"),
            (s_pos - s_neg).alias("margin"),
        )
        .groupBy("actual", "predicted", "predicted_noprior")
        .agg(
            F.count("*").alias("n_rows"),
            f32(F.avg("margin")).alias("mean_margin"),
        )
    )


# --------------------------------------------------------------------------
# tree_depth2_returnflag — depth-2 decision-TREE induction on lineitem:
# choose the best one-vs-rest categorical root split by Gini gain
# (gini_stump_split_gain's candidate scan plus the argmax), partition
# the corpus into the root's left (feature = value) / right (rest)
# children, and induce the best stump INSIDE each child. Extends the
# induction axis from "score every candidate" (gini_stump) to the
# recursive step every tree learner actually runs — the first two
# levels of CART on a 100 TB table.
#
# Replay contract: every gain is pure IEEE arithmetic on EXACT integer
# counts (identical divisions in identical order on both engines —
# the proven gini_stump contract), so the argmax over (gain DESC,
# feature, value) is deterministic: equal doubles cross-engine, lexical
# tie-break among exact ties. Child membership is derived from the
# selected root split only. Outputs carry exact integers plus the f32
# gain boundary.
#
# Scale shape: THREE map-combinable stacked rollups (root, left child,
# right child) — each one shuffle of ~|values| rows — plus a 1-row
# driver argmax between levels (the k-means/BPE per-round pattern:
# bounded driver scalars steer the next distributed pass). Child
# membership is a row-local predicate in the scan, NOT a row-id join,
# so the fact table never shuffles. The oracle replays membership as a
# row-key semi-join, which is plan-free SQL, not the executed shape.
# --------------------------------------------------------------------------
_TREE_FEATURES = (
    ("linestatus", "l_linestatus"),
    ("qty_decade", "cast(cast(floor(l_quantity / 10) as int) as string)"),
    ("ship_quarter", "cast(quarter(l_shipdate) as string)"),
)
_TREE_FEATURES_SQL = (
    ("linestatus", "l_linestatus"),
    ("qty_decade", "CAST(CAST(floor(l_quantity / 10) AS INTEGER) AS VARCHAR)"),
    ("ship_quarter", "CAST(quarter(l_shipdate) AS VARCHAR)"),
)


def _tree_gain_sql(stacked: str) -> str:
    """Candidate-gain SELECT over a stacked CTE — the exact
    gini_stump_split_gain arithmetic, kept textually identical across
    the three nodes so every engine computes every gain the same way."""
    return f"""
        SELECT feature, value, n_left, pos_left, n, pos,
               (1.0 - (CAST(pos AS DOUBLE)/n)*(CAST(pos AS DOUBLE)/n)
                    - (CAST(n - pos AS DOUBLE)/n)*(CAST(n - pos AS DOUBLE)/n))
               - (CAST(n_left AS DOUBLE)/n) *
                 (1.0 - (CAST(pos_left AS DOUBLE)/n_left)*(CAST(pos_left AS DOUBLE)/n_left)
                      - (CAST(n_left - pos_left AS DOUBLE)/n_left)
                        *(CAST(n_left - pos_left AS DOUBLE)/n_left))
               - CASE WHEN n - n_left = 0 THEN 0.0 ELSE
                 (CAST(n - n_left AS DOUBLE)/n) *
                 (1.0 - (CAST(pos - pos_left AS DOUBLE)/(n - n_left))
                        *(CAST(pos - pos_left AS DOUBLE)/(n - n_left))
                      - (CAST((n - n_left) - (pos - pos_left) AS DOUBLE)/(n - n_left))
                        *(CAST((n - n_left) - (pos - pos_left) AS DOUBLE)/(n - n_left)))
                 END AS gain
        FROM (SELECT feature, value, count(*) AS n_left, sum(y) AS pos_left
              FROM {stacked} GROUP BY 1, 2) cells,
             (SELECT count(*) / 3 AS n, sum(y) / 3 AS pos FROM {stacked}) tot
    """


_TREE_STACK_VALUES = ",\n            ".join(
    f"('{name}', {expr})" for name, expr in _TREE_FEATURES_SQL
)

_TREE_ORACLE = f"""
    WITH stacked AS (
        SELECT f.feature, f.value,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem, LATERAL (VALUES
            {_TREE_STACK_VALUES})
            AS f(feature, value)
    ), gains_root AS ({_tree_gain_sql("stacked")}
    ), root AS (
        SELECT * FROM gains_root ORDER BY gain DESC, feature, value LIMIT 1
    ), li_flag AS (
        -- row-local membership, the same predicate the engine applies:
        -- the ROW's derived value for the root feature vs root.value
        -- (NOT a row-key join — (l_orderkey, l_linenumber) is not
        -- unique in this corpus)
        SELECT l.*,
               (CASE r.feature
                    WHEN 'linestatus' THEN l_linestatus
                    WHEN 'qty_decade' THEN
                        CAST(CAST(floor(l_quantity / 10) AS INTEGER) AS VARCHAR)
                    WHEN 'ship_quarter' THEN
                        CAST(quarter(l_shipdate) AS VARCHAR)
                END = r.value) AS is_left
        FROM lineitem l CROSS JOIN root r
    ), stacked_l AS (
        SELECT f.feature, f.value,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM li_flag, LATERAL (VALUES
            {_TREE_STACK_VALUES})
            AS f(feature, value)
        WHERE is_left
    ), stacked_r AS (
        SELECT f.feature, f.value,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM li_flag, LATERAL (VALUES
            {_TREE_STACK_VALUES})
            AS f(feature, value)
        WHERE NOT is_left
    ), gains_l AS ({_tree_gain_sql("stacked_l")}
    ), best_l AS (
        SELECT * FROM gains_l ORDER BY gain DESC, feature, value LIMIT 1
    ), gains_r AS ({_tree_gain_sql("stacked_r")}
    ), best_r AS (
        SELECT * FROM gains_r ORDER BY gain DESC, feature, value LIMIT 1
    )
    SELECT node, feature, split_value, n_node, pos_node, n_split_left,
           pos_split_left, gini_gain
    FROM (
        SELECT 'root' AS node, feature, value AS split_value,
               CAST(n AS BIGINT) AS n_node, CAST(pos AS BIGINT) AS pos_node,
               CAST(n_left AS BIGINT) AS n_split_left,
               CAST(pos_left AS BIGINT) AS pos_split_left,
               CAST(gain AS REAL) AS gini_gain
        FROM root
        UNION ALL
        SELECT 'left', feature, value, CAST(n AS BIGINT), CAST(pos AS BIGINT),
               CAST(n_left AS BIGINT), CAST(pos_left AS BIGINT),
               CAST(gain AS REAL)
        FROM best_l
        UNION ALL
        SELECT 'right', feature, value, CAST(n AS BIGINT), CAST(pos AS BIGINT),
               CAST(n_left AS BIGINT), CAST(pos_left AS BIGINT),
               CAST(gain AS REAL)
        FROM best_r
    ) t
"""


@CATALOG.query("tree_depth2_returnflag", oracle=_TREE_ORACLE)
def tree_depth2_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    stack_expr = (
        "stack(3, "
        + ", ".join(f"'{name}', {expr}" for name, expr in _TREE_FEATURES)
        + ") AS (feature, value)"
    )
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    li = _t(spark, sf_dir, "lineitem")

    def gains(subset: DataFrame) -> DataFrame:
        stacked = subset.select(F.expr(stack_expr), y.alias("y"))
        cells = (
            stacked.groupBy("feature", "value")
            .agg(F.count("*").alias("n_left"), F.sum("y").alias("pos_left"))
            # pinned: feeds the totals rollup AND the gain projection —
            # and the totals now derive FROM the cell rollup (every
            # stacked row lands in exactly one cell), so each gains()
            # pass scans the subset ONCE instead of twice (round-12)
            .localCheckpoint(eager=False)
        )
        tot = cells.agg(
            # coalesce (ADVICE r12): an empty subset must yield n=0,
            # pos=0 like the pre-round-12 COUNT(*) form, not NULL.
            (F.coalesce(F.sum("n_left"), F.lit(0)) / 3).alias("n"),
            (F.coalesce(F.sum("pos_left"), F.lit(0)) / 3).alias("pos"),
        )
        n, pos = F.col("n"), F.col("pos")
        nl, pl = F.col("n_left"), F.col("pos_left")
        nr, pr = n - nl, pos - pl

        def g(p, m):
            return (
                F.lit(1.0)
                - (p.cast("double") / m) * (p.cast("double") / m)
                - ((m - p).cast("double") / m) * ((m - p).cast("double") / m)
            )

        gain = (
            g(pos, n)
            - (nl.cast("double") / n) * g(pl, nl)
            - F.when(nr == 0, F.lit(0.0)).otherwise(
                (nr.cast("double") / n) * g(pr, nr)
            )
        )
        return cells.crossJoin(F.broadcast(tot)).select(
            "feature", "value", "n_left", "pos_left", "n", "pos",
            gain.alias("gain"),
        )

    def best(subset: DataFrame):
        return (
            gains(subset)
            .orderBy(F.desc("gain"), "feature", "value")
            .limit(1)
        )

    # level 1: bounded 1-row driver argmax steers the level-2 passes
    root_row = best(li).first()
    feat_expr = {name: expr for name, expr in _TREE_FEATURES}
    root_pred = F.expr(feat_expr[root_row["feature"]]) == F.lit(
        root_row["value"]
    )
    best_l = best(li.where(root_pred))
    best_r = best(li.where(~root_pred))
    root_df = spark.createDataFrame(
        [
            (
                root_row["feature"], root_row["value"],
                int(root_row["n_left"]), int(root_row["pos_left"]),
                int(root_row["n"]), int(root_row["pos"]),
                float(root_row["gain"]),
            )
        ],
        "feature string, value string, n_left long, pos_left long,"
        " n long, pos long, gain double",
    )

    def shape(df: DataFrame, node: str) -> DataFrame:
        return df.select(
            F.lit(node).alias("node"),
            "feature",
            F.col("value").alias("split_value"),
            F.col("n").cast("long").alias("n_node"),
            F.col("pos").cast("long").alias("pos_node"),
            F.col("n_left").cast("long").alias("n_split_left"),
            F.col("pos_left").cast("long").alias("pos_split_left"),
            f32(F.col("gain")).alias("gini_gain"),
        )

    return (
        shape(root_df, "root")
        .unionAll(shape(best_l, "left"))
        .unionAll(shape(best_r, "right"))
    )


# --------------------------------------------------------------------------
# gains_lift_deciles — the cumulative-gains / lift table: score each
# even-orderkey lineitem with a train-half (odd-orderkey) smoothed
# cell return rate (cell = linestatus x qty_decade, add-1/add-2
# smoothing so empty train cells are defined), rank the test half by
# score into exact global deciles, and emit per decile the capture
# counts, cumulative gain share, and lift over the base rate. The
# targeting-model eval every campaign/quality-filter pipeline reads
# ("top 20% of scores captures X% of positives") — the ranking-eval
# axis between AUC (pairwise) and calibration (probabilistic).
#
# Replay contract: the score is ONE exact IEEE division of integers
# ((c_pos+1)/(c_n+2)) — identical on both engines, so the decile
# order is identical; the tie-break (ok, lno, y) makes any residual
# equal-key rows interchangeable for every emitted aggregate (equal
# score AND equal label). Decile/cumulative counts are exact integers;
# shares and lift cross at the f32 boundary.
#
# Scale shape: model = one map-combinable ~12-row cell rollup,
# broadcast back into the test scan; deciles via
# functions.ranks.with_global_ntiles_cuts (histogram-selected cut keys,
# no single-task sort); the cumulative window runs on the 10-row
# decile-grain aggregate (whitelisted bounded frame).
# --------------------------------------------------------------------------
@CATALOG.query(
    "gains_lift_deciles",
    oracle="""
    WITH cells AS (
        SELECT DISTINCT l_linestatus AS ls,
               CAST(CAST(floor(l_quantity / 10) AS INTEGER) AS VARCHAR) AS qd
        FROM lineitem
    ), traincnt AS (
        SELECT l_linestatus AS ls,
               CAST(CAST(floor(l_quantity / 10) AS INTEGER) AS VARCHAR) AS qd,
               count(*) AS c_n,
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS c_pos
        FROM lineitem WHERE l_orderkey % 2 = 1 GROUP BY 1, 2
    ), model AS (
        SELECT c.ls, c.qd,
               (COALESCE(t.c_pos, 0) + 1.0) / (COALESCE(t.c_n, 0) + 2.0)
                   AS score
        FROM cells c LEFT JOIN traincnt t ON t.ls = c.ls AND t.qd = c.qd
    ), test AS (
        SELECT m.score, l.l_orderkey AS ok, l.l_linenumber AS lno,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem l
        JOIN model m ON m.ls = l.l_linestatus
            AND m.qd = CAST(CAST(floor(l.l_quantity / 10) AS INTEGER)
                            AS VARCHAR)
        WHERE l.l_orderkey % 2 = 0
    ), ranked AS (
        SELECT y, NTILE(10) OVER (ORDER BY score DESC, ok, lno, y)
                      AS decile
        FROM test
    ), dec AS (
        SELECT decile, count(*) AS n_rows, sum(y) AS n_pos
        FROM ranked GROUP BY 1
    )
    SELECT decile, n_rows, CAST(n_pos AS BIGINT) AS n_pos,
           CAST(sum(n_pos) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_pos,
           CAST(CAST(sum(n_pos) OVER (ORDER BY decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS DOUBLE)
                / sum(n_pos) OVER () AS REAL) AS cum_gain_share,
           CAST((CAST(n_pos AS DOUBLE) / n_rows)
                / (CAST(sum(n_pos) OVER () AS DOUBLE)
                   / sum(n_rows) OVER ()) AS REAL) AS decile_lift
    FROM dec
    """,
)
def gains_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    qd = F.expr("cast(cast(floor(l_quantity / 10) as int) as string)")
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    li = _t(spark, sf_dir, "lineitem")
    cells = li.select(
        F.col("l_linestatus").alias("ls"), qd.alias("qd")
    ).distinct()
    traincnt = (
        li.where(F.col("l_orderkey") % 2 == 1)
        .groupBy(F.col("l_linestatus").alias("ls"), qd.alias("qd"))
        .agg(F.count("*").alias("c_n"), F.sum(y).alias("c_pos"))
    )
    model = cells.join(traincnt, ["ls", "qd"], "left").select(
        "ls",
        "qd",
        (
            (F.coalesce(F.col("c_pos"), F.lit(0)) + F.lit(1.0))
            / (F.coalesce(F.col("c_n"), F.lit(0)) + F.lit(2.0))
        ).alias("score"),
    )
    test = (
        li.where(F.col("l_orderkey") % 2 == 0)
        .join(
            F.broadcast(model),
            (F.col("l_linestatus") == F.col("ls")) & (qd == F.col("qd")),
        )
        .select(
            "score",
            F.col("l_orderkey").alias("ok"),
            F.col("l_linenumber").alias("lno"),
            y.alias("y"),
        )
        # pinned: the cut-selection passes below and the decile rollup
        # each re-read this frame, and rebuilding it means the lineitem
        # scan + model broadcast join every time (measured 2.5x the
        # pinned form). Narrow (4 columns), test-half-sized.
        .localCheckpoint(eager=False)
    )
    # boundary-broadcast deciles (round-13): scores are model-cell
    # values with heavy ties, so the cut keys recurse score -> ok ->
    # lno; the scored test frame itself is never shuffled.
    ranked = with_global_ntiles_cuts(
        test,
        [(10, [("score", True), ("ok", False), ("lno", False), ("y", False)], "decile")],
    )
    dec = ranked.groupBy("decile").agg(
        F.count("*").alias("n_rows"), F.sum("y").alias("n_pos")
    )
    cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    whole = W.orderBy("decile").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return dec.select(
        "decile",
        "n_rows",
        F.col("n_pos").cast("long").alias("n_pos"),
        F.sum("n_pos").over(cum).cast("long").alias("cum_pos"),
        f32(
            F.sum("n_pos").over(cum).cast("double")
            / F.sum("n_pos").over(whole)
        ).alias("cum_gain_share"),
        f32(
            (F.col("n_pos").cast("double") / F.col("n_rows"))
            / (
                F.sum("n_pos").over(whole).cast("double")
                / F.sum("n_rows").over(whole)
            )
        ).alias("decile_lift"),
    )


# --------------------------------------------------------------------------
# ips_offpolicy_priority_eval — counterfactual (off-policy) policy
# evaluation on logged data: treat o_orderpriority as the logged
# ACTION, quarter(o_orderdate) as the CONTEXT, and o_totalprice as the
# REWARD. Learn a deterministic target policy on the odd-orderkey half
# (argmax of the f32-quantized per-(context, action) mean reward),
# estimate behavior propensities from the same half, then score the
# target policy on the even half with the IPS and self-normalized
# (SNIPS) estimators plus the effective sample size. The
# bandit-feedback eval primitive — at 100 TB this is the offline A/B
# readout computed before any policy ships.
#
# Replay contract: propensity weights are single exact IEEE divisions
# of integer counts (c_ctx / c_cell); the policy argmax compares
# f32-QUANTIZED train means (quantized at a materialized ~20-row
# boundary, ties broken by action name), so both engines select the
# same action; estimator sums cross engines only at the f32 output
# boundary.
#
# Scale shape: the policy/propensity model is ONE map-combinable
# ~20-cell rollup broadcast back into the test scan; per-context
# estimates are a second map-combinable rollup. The argmax window runs
# on the ~20-row cell-grain frame (|contexts| x |actions|, fixed by
# schema — never corpus grain).
# --------------------------------------------------------------------------
@CATALOG.query(
    "ips_offpolicy_priority_eval",
    oracle="""
    WITH train AS (
        SELECT quarter(o_orderdate) AS ctx, o_orderpriority AS act,
               o_totalprice AS r
        FROM orders WHERE o_orderkey % 2 = 1
    ), cellstats AS (
        SELECT ctx, act, count(*) AS c_cell,
               CAST(avg(r) AS REAL) AS mean_r
        FROM train GROUP BY 1, 2
    ), ctxstats AS (
        SELECT ctx, sum(c_cell) AS c_ctx FROM cellstats GROUP BY 1
    ), policy AS (
        SELECT ctx, act AS chosen_action, c_cell, c_ctx
        FROM (
            SELECT cs.ctx, cs.act, cs.c_cell, cx.c_ctx,
                   row_number() OVER (PARTITION BY cs.ctx
                       ORDER BY cs.mean_r DESC, cs.act) AS rn
            FROM cellstats cs JOIN ctxstats cx ON cx.ctx = cs.ctx
        ) t WHERE rn = 1
    ), test AS (
        SELECT quarter(o_orderdate) AS ctx, o_orderpriority AS act,
               o_totalprice AS r
        FROM orders WHERE o_orderkey % 2 = 0
    ), weighted AS (
        SELECT t.ctx, p.chosen_action,
               CASE WHEN t.act = p.chosen_action
                    THEN CAST(p.c_ctx AS DOUBLE) / p.c_cell
                    ELSE 0.0 END AS w,
               t.r
        FROM test t JOIN policy p ON p.ctx = t.ctx
    )
    SELECT ctx AS context_quarter, chosen_action,
           count(*) AS n_test,
           CAST(sum(w * r) / count(*) AS REAL) AS ips_value,
           CAST(CASE WHEN sum(w) > 0 THEN sum(w * r) / sum(w) END AS REAL)
               AS snips_value,
           CAST(CASE WHEN sum(w * w) > 0
                THEN (sum(w) * sum(w)) / sum(w * w) END AS REAL)
               AS effective_sample_size
    FROM weighted GROUP BY 1, 2
    """,
)
def ips_offpolicy_priority_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    ctx = F.quarter("o_orderdate").alias("ctx")
    train = orders.where(F.col("o_orderkey") % 2 == 1).select(
        ctx, F.col("o_orderpriority").alias("act"),
        F.col("o_totalprice").alias("r"),
    )
    cellstats = train.groupBy("ctx", "act").agg(
        F.count("*").alias("c_cell"), f32(F.avg("r")).alias("mean_r")
    )
    ctxstats = cellstats.groupBy("ctx").agg(F.sum("c_cell").alias("c_ctx"))
    rn = F.row_number().over(
        W.partitionBy("ctx").orderBy(F.desc("mean_r"), F.col("act"))
    )
    policy = (
        cellstats.join(ctxstats, "ctx")
        .withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            "ctx", F.col("act").alias("chosen_action"), "c_cell", "c_ctx"
        )
    )
    test = orders.where(F.col("o_orderkey") % 2 == 0).select(
        ctx,
        F.col("o_orderpriority").alias("act"),
        F.col("o_totalprice").alias("r"),
    )
    w = F.when(
        F.col("act") == F.col("chosen_action"),
        F.col("c_ctx").cast("double") / F.col("c_cell"),
    ).otherwise(F.lit(0.0))
    weighted = test.join(F.broadcast(policy), "ctx").select(
        F.col("ctx"), "chosen_action", w.alias("w"), "r"
    )
    sw, swr, sww = F.sum("w"), F.sum(F.col("w") * F.col("r")), F.sum(
        F.col("w") * F.col("w")
    )
    return weighted.groupBy(
        F.col("ctx").alias("context_quarter"), F.col("chosen_action")
    ).agg(
        F.count("*").alias("n_test"),
        f32(swr / F.count("*")).alias("ips_value"),
        f32(F.when(sw > 0, swr / sw)).alias("snips_value"),
        f32(F.when(sww > 0, (sw * sw) / sww)).alias("effective_sample_size"),
    )


# --------------------------------------------------------------------------
# did_promo_revenue_effect — difference-in-differences: did PROMO-type
# parts' per-lineitem discounted revenue move differently from other
# parts' between the first and second half of the shipdate range? The
# two-period two-group DiD estimator completes the causal-eval axis
# (cuped_adjusted_experiment_lift = variance reduction,
# ips_offpolicy_priority_eval = counterfactual policy value, this =
# the parallel-trends observational estimate).
#
# Replay contract: the period midpoint is whole-day integer arithmetic
# (the pinball anchor); cell means cross engines at the f32 boundary
# and the DiD estimate is arithmetic ON those f32 means (identical on
# both engines); counts are exact.
#
# Scale shape: one lineitem⋈part equi-join (dim join — broadcast under
# AQE at any realistic |part|/cluster ratio) feeding ONE conditional
# map-combinable rollup to a single row. No window, no second pass.
# --------------------------------------------------------------------------
@CATALOG.query(
    "did_promo_revenue_effect",
    oracle="""
    WITH bounds AS (
        SELECT min(l_shipdate) + to_days(CAST(floor(
                   date_diff('day', min(l_shipdate), max(l_shipdate)) / 2
               ) AS INTEGER)) AS mid
        FROM lineitem
    ), cells AS (
        SELECT CASE WHEN p.p_type = 'PROMO' THEN 1 ELSE 0 END AS treated,
               CASE WHEN l.l_shipdate > b.mid THEN 1 ELSE 0 END AS post,
               l.l_extendedprice * (1 - l.l_discount) AS rev
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        CROSS JOIN bounds b
    )
    SELECT CAST(sum(CASE WHEN treated = 1 AND post = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_treat_pre,
           CAST(sum(CASE WHEN treated = 1 AND post = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_treat_post,
           CAST(sum(CASE WHEN treated = 0 AND post = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_ctrl_pre,
           CAST(sum(CASE WHEN treated = 0 AND post = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_ctrl_post,
           CAST(avg(CASE WHEN treated = 1 AND post = 0 THEN rev END) AS REAL)
               AS mean_treat_pre,
           CAST(avg(CASE WHEN treated = 1 AND post = 1 THEN rev END) AS REAL)
               AS mean_treat_post,
           CAST(avg(CASE WHEN treated = 0 AND post = 0 THEN rev END) AS REAL)
               AS mean_ctrl_pre,
           CAST(avg(CASE WHEN treated = 0 AND post = 1 THEN rev END) AS REAL)
               AS mean_ctrl_post,
           CAST((CAST(avg(CASE WHEN treated = 1 AND post = 1 THEN rev END)
                      AS REAL)
                 - CAST(avg(CASE WHEN treated = 1 AND post = 0 THEN rev END)
                        AS REAL))
                - (CAST(avg(CASE WHEN treated = 0 AND post = 1 THEN rev END)
                        AS REAL)
                   - CAST(avg(CASE WHEN treated = 0 AND post = 0 THEN rev END)
                          AS REAL)) AS REAL) AS did_estimate
    FROM cells
    """,
)
def did_promo_revenue_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import timedelta  # noqa: PLC0415

    li = _t(spark, sf_dir, "lineitem")
    lo, hi = li.agg(F.min("l_shipdate"), F.max("l_shipdate")).first()
    mid = lo + timedelta(days=(hi - lo).days // 2)
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    cells = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.when(F.col("p_type") == "PROMO", 1).otherwise(0).alias("treated"),
            F.when(F.col("l_shipdate") > F.lit(mid), 1)
            .otherwise(0)
            .alias("post"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        )
    )

    def cnt(t, p):
        return F.sum(
            F.when((F.col("treated") == t) & (F.col("post") == p), 1).otherwise(0)
        )

    def mean(t, p):
        return f32(
            F.avg(
                F.when(
                    (F.col("treated") == t) & (F.col("post") == p),
                    F.col("rev"),
                )
            )
        )

    agg = cells.agg(
        cnt(1, 0).alias("n_treat_pre"),
        cnt(1, 1).alias("n_treat_post"),
        cnt(0, 0).alias("n_ctrl_pre"),
        cnt(0, 1).alias("n_ctrl_post"),
        mean(1, 0).alias("mean_treat_pre"),
        mean(1, 1).alias("mean_treat_post"),
        mean(0, 0).alias("mean_ctrl_pre"),
        mean(0, 1).alias("mean_ctrl_post"),
    )
    return agg.select(
        "*",
        f32(
            (F.col("mean_treat_post") - F.col("mean_treat_pre"))
            - (F.col("mean_ctrl_post") - F.col("mean_ctrl_pre"))
        ).alias("did_estimate"),
    )


# --------------------------------------------------------------------------
# km_repurchase_survival — Kaplan-Meier estimator with right-censoring:
# per customer, the days from FIRST order to SECOND order (event), or
# to the corpus max date (censored, no second order yet); emit, at
# every duration with at least one event, the risk-set size, event and
# censor counts, and the KM survival estimate
# S(t) = prod_{t_i <= t} (1 - d_i / n_i). The censoring-aware survival
# primitive session_gap_survival (fixed-grid tail shares, no
# censoring) does not cover — at 100 TB this is the repurchase-curve /
# churn readout computed over every cohort.
#
# Replay contract: durations, risk sets, and event counts are exact
# integers; each KM factor ln(1 - d_i/n_i) is one libm call on an
# exact rational, and the cumulative product runs as an ORDERED prefix
# sum of those logs (window order is deterministic on both engines, so
# the sum is bit-stable per engine and ulp-bounded across engines),
# exp'd and f32-quantized at the output boundary.
#
# Scale shape: one row_number window partitioned by o_custkey (entity-
# grain key — parallel), one customer-grain rollup, then everything
# runs at DURATION grain: distinct day-counts, calendar-bounded (the
# orders_backlog_over_time posture), so the cumulative window frame is
# bounded by the date-range span, never by |customers|.
# --------------------------------------------------------------------------
@CATALOG.query(
    "km_repurchase_survival",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey, o_orderdate,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ), cust AS (
        SELECT o_custkey,
               min(CASE WHEN rn = 1 THEN o_orderdate END) AS t1,
               min(CASE WHEN rn = 2 THEN o_orderdate END) AS t2
        FROM ranked WHERE rn <= 2 GROUP BY 1
    ), maxd AS (SELECT max(o_orderdate) AS mx FROM orders
    ), obs AS (
        SELECT CASE WHEN t2 IS NOT NULL
                    THEN date_diff('day', t1, t2)
                    ELSE date_diff('day', t1, mx) END AS dur,
               CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM cust CROSS JOIN maxd
    ), bydur AS (
        SELECT dur, sum(ev) AS d, sum(1 - ev) AS c FROM obs GROUP BY 1
    ), risked AS (
        SELECT dur, d, c,
               (SELECT count(*) FROM obs) - COALESCE(sum(d + c) OVER (
                   ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS n_risk
        FROM bydur
    ), termed AS (
        SELECT dur, d, c, n_risk,
               CASE WHEN d > 0 AND d < n_risk
                    THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                    ELSE 0.0 END AS log_term
        FROM risked
    ), km AS (
        SELECT dur, d, c, n_risk,
               sum(log_term) OVER (ORDER BY dur ROWS BETWEEN
                   UNBOUNDED PRECEDING AND CURRENT ROW) AS log_s
        FROM termed
    )
    SELECT dur AS duration_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_events,
           CAST(c AS BIGINT) AS n_censored,
           CAST(CASE WHEN d = n_risk THEN 0.0 ELSE exp(log_s) END
                AS REAL) AS km_survival
    FROM km WHERE d > 0
    """,
)
def km_repurchase_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    rn = F.row_number().over(
        W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    )
    ranked = orders.withColumn("rn", rn).where(F.col("rn") <= 2)
    cust = ranked.groupBy("o_custkey").agg(
        F.min(F.when(F.col("rn") == 1, F.col("o_orderdate"))).alias("t1"),
        F.min(F.when(F.col("rn") == 2, F.col("o_orderdate"))).alias("t2"),
    )
    maxd = orders.agg(F.max("o_orderdate").alias("mx"))
    obs = cust.crossJoin(F.broadcast(maxd)).select(
        F.when(
            F.col("t2").isNotNull(), F.datediff("t2", "t1")
        )
        .otherwise(F.datediff("mx", "t1"))
        .alias("dur"),
        F.when(F.col("t2").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    bydur = obs.groupBy("dur").agg(
        F.sum("ev").alias("d"), F.sum(1 - F.col("ev")).alias("c")
        # pinned: feeds the KM fold AND the total (which now derives
        # from the duration rollup — every obs row lands in exactly one
        # dur cell), so the orders scan + customer window run once
        # instead of twice (round-12 census: 4 scans -> 2)
    ).localCheckpoint(eager=False)
    # coalesce (ADVICE r12): an empty input must yield n_total=0 like
    # the pre-round-12 COUNT(*) form, not NULL.
    total = bydur.agg(
        F.coalesce(F.sum(F.col("d") + F.col("c")), F.lit(0)).alias("n_total")
    )
    prior = W.orderBy("dur").rowsBetween(W.unboundedPreceding, -1)
    upto = W.orderBy("dur").rowsBetween(W.unboundedPreceding, W.currentRow)
    n_risk = F.col("n_total") - F.coalesce(
        F.sum(F.col("d") + F.col("c")).over(prior), F.lit(0)
    )
    km = (
        bydur.crossJoin(F.broadcast(total))
        .withColumn("n_risk", n_risk)
        .withColumn(
            "log_term",
            F.when(
                (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
                F.log(
                    F.lit(1.0)
                    - F.col("d").cast("double") / F.col("n_risk")
                ),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("log_s", F.sum("log_term").over(upto))
    )
    return km.where(F.col("d") > 0).select(
        F.col("dur").alias("duration_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_events"),
        F.col("c").cast("long").alias("n_censored"),
        f32(
            F.when(F.col("d") == F.col("n_risk"), F.lit(0.0)).otherwise(
                F.exp("log_s")
            )
        ).alias("km_survival"),
    )


# --------------------------------------------------------------------------
# anova2_qty_flag_status — two-way ANOVA (cell-means decomposition) of
# l_quantity by returnflag x linestatus: main-effect and interaction
# sums of squares, degrees of freedom, mean squares, and F statistics.
# Extends the one-way anova_price_by_brand to the factorial design
# every two-factor experiment readout needs; on unbalanced data this
# is the weighted cell-means decomposition (stated, not hidden — the
# regression-based Type II/III answer differs on unbalanced designs).
#
# Replay contract: every SS is arithmetic on per-cell exact counts and
# sums (grand/level/cell means are single IEEE divisions); the only
# cross-engine boundary is the f32 output. Cell/level/grand stats all
# derive from ONE ~6-cell rollup, so no aggregation-order float leaks
# into intermediate keys.
#
# Scale shape: one map-combinable (flag, status) moment rollup
# (sum, sum of squares, count per cell — |cells| ~ 6 rows), then pure
# driver-free arithmetic on the broadcast-sized cell frame. SS_within
# uses the sum-of-squares identity so no second corpus pass is needed.
# --------------------------------------------------------------------------
@CATALOG.query(
    "anova2_qty_flag_status",
    oracle="""
    WITH cells AS (
        SELECT l_returnflag AS a, l_linestatus AS b,
               count(*) AS n, sum(l_quantity) AS s,
               sum(l_quantity * l_quantity) AS ss
        FROM lineitem GROUP BY 1, 2
    ), ga AS (
        SELECT a, sum(n) AS n_a, sum(s) AS s_a FROM cells GROUP BY 1
    ), gb AS (
        SELECT b, sum(n) AS n_b, sum(s) AS s_b FROM cells GROUP BY 1
    ), g AS (
        SELECT sum(n) AS n_t, sum(s) AS s_t, sum(ss) AS ss_t,
               count(*) AS n_cells,
               (SELECT count(*) FROM ga) AS n_lev_a,
               (SELECT count(*) FROM gb) AS n_lev_b
        FROM cells
    ), terms AS (
        SELECT
            (SELECT sum(n_a * (s_a / n_a - s_t / n_t)
                        * (s_a / n_a - s_t / n_t))
             FROM ga, g) AS ss_a,
            (SELECT sum(n_b * (s_b / n_b - s_t / n_t)
                        * (s_b / n_b - s_t / n_t))
             FROM gb, g) AS ss_b,
            (SELECT sum(c.n * (c.s / c.n - ga.s_a / ga.n_a
                               - gb.s_b / gb.n_b + g.s_t / g.n_t)
                        * (c.s / c.n - ga.s_a / ga.n_a
                           - gb.s_b / gb.n_b + g.s_t / g.n_t))
             FROM cells c
             JOIN ga ON ga.a = c.a JOIN gb ON gb.b = c.b CROSS JOIN g)
                AS ss_ab,
            (SELECT sum(c.ss - c.s * c.s / c.n) FROM cells c) AS ss_w,
            g.n_t, g.n_cells, g.n_lev_a, g.n_lev_b
        FROM g
    )
    SELECT CAST(ss_a AS REAL) AS ss_flag,
           CAST(ss_b AS REAL) AS ss_status,
           CAST(ss_ab AS REAL) AS ss_interaction,
           CAST(ss_w AS REAL) AS ss_within,
           CAST(n_lev_a - 1 AS BIGINT) AS df_flag,
           CAST(n_lev_b - 1 AS BIGINT) AS df_status,
           CAST(n_cells - n_lev_a - n_lev_b + 1 AS BIGINT) AS df_interaction,
           CAST(n_t - n_cells AS BIGINT) AS df_within,
           CAST((ss_a / (n_lev_a - 1))
                / (ss_w / (n_t - n_cells)) AS REAL) AS f_flag,
           CAST((ss_b / (n_lev_b - 1))
                / (ss_w / (n_t - n_cells)) AS REAL) AS f_status,
           CAST((ss_ab / (n_cells - n_lev_a - n_lev_b + 1))
                / (ss_w / (n_t - n_cells)) AS REAL) AS f_interaction
    FROM terms
    """,
)
def anova2_qty_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cells = (
        li.groupBy(
            F.col("l_returnflag").alias("a"), F.col("l_linestatus").alias("b")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").alias("s"),
            F.sum(F.col("l_quantity") * F.col("l_quantity")).alias("ss"),
        )
        # pin the ~6-row cell rollup: it feeds EIGHT downstream branches
        # (ga/gb/g/na/nb/enriched/ssa/ssb) and Catalyst does not CSE
        # duplicate subtrees, so without the pin the final plan re-ran
        # the corpus scan + rollup once per branch — 24 Exchanges at the
        # round-12 census; with it, ONE corpus pass (guide §2.4)
        .localCheckpoint(eager=False)
    )
    ga = cells.groupBy("a").agg(
        F.sum("n").alias("n_a"), F.sum("s").alias("s_a")
    )
    gb = cells.groupBy("b").agg(
        F.sum("n").alias("n_b"), F.sum("s").alias("s_b")
    )
    g = cells.agg(
        F.sum("n").alias("n_t"),
        F.sum("s").alias("s_t"),
        F.count("*").alias("n_cells"),
    )
    na = ga.agg(F.count("*").alias("n_lev_a"))
    nb = gb.agg(F.count("*").alias("n_lev_b"))

    enriched = (
        cells.join(F.broadcast(ga), "a")
        .join(F.broadcast(gb), "b")
        .crossJoin(F.broadcast(g))
    )
    dev_ab = (
        F.col("s") / F.col("n")
        - F.col("s_a") / F.col("n_a")
        - F.col("s_b") / F.col("n_b")
        + F.col("s_t") / F.col("n_t")
    )
    parts = enriched.agg(
        F.sum(
            F.col("n") * dev_ab * dev_ab
        ).alias("ss_ab"),
        F.sum(F.col("ss") - F.col("s") * F.col("s") / F.col("n")).alias(
            "ss_w"
        ),
    )
    dev_a = F.col("s_a") / F.col("n_a") - F.col("s_t") / F.col("n_t")
    ssa = ga.crossJoin(F.broadcast(g)).agg(
        F.sum(F.col("n_a") * dev_a * dev_a).alias("ss_a")
    )
    dev_b = F.col("s_b") / F.col("n_b") - F.col("s_t") / F.col("n_t")
    ssb = gb.crossJoin(F.broadcast(g)).agg(
        F.sum(F.col("n_b") * dev_b * dev_b).alias("ss_b")
    )
    allr = (
        ssa.crossJoin(ssb)
        .crossJoin(parts)
        .crossJoin(g)
        .crossJoin(na)
        .crossJoin(nb)
    )
    df_ab = F.col("n_cells") - F.col("n_lev_a") - F.col("n_lev_b") + 1
    df_w = F.col("n_t") - F.col("n_cells")
    return allr.select(
        f32(F.col("ss_a")).alias("ss_flag"),
        f32(F.col("ss_b")).alias("ss_status"),
        f32(F.col("ss_ab")).alias("ss_interaction"),
        f32(F.col("ss_w")).alias("ss_within"),
        (F.col("n_lev_a") - 1).cast("long").alias("df_flag"),
        (F.col("n_lev_b") - 1).cast("long").alias("df_status"),
        df_ab.cast("long").alias("df_interaction"),
        df_w.cast("long").alias("df_within"),
        f32(
            (F.col("ss_a") / (F.col("n_lev_a") - 1)) / (F.col("ss_w") / df_w)
        ).alias("f_flag"),
        f32(
            (F.col("ss_b") / (F.col("n_lev_b") - 1)) / (F.col("ss_w") / df_w)
        ).alias("f_status"),
        f32((F.col("ss_ab") / df_ab) / (F.col("ss_w") / df_w)).alias(
            "f_interaction"
        ),
    )


# --------------------------------------------------------------------------
# paired_classifier_agreement — McNemar's paired test + Cohen's kappa
# for two frozen row-local return-prediction rules evaluated on the
# SAME rows: rule A = the calibration query's frozen logistic score
# thresholded at 1/3 (f32-quantized before the compare, the
# return_model_calibration_bins bin-key trick), rule B = a quantity
# stump (l_quantity >= 25). Emits the correctness-discordance cells
# (the McNemar b/c counts), the continuity-corrected chi-square, both
# accuracies, and prediction-agreement kappa. The paired-comparison
# primitive the eval family lacks: AUC/calibration score ONE model —
# this is the test you run to claim model A beats model B on the same
# benchmark rows.
#
# Replay contract: both rules are row-local with f32-quantized
# decision boundaries, so every row's (pred_a, pred_b, y) triple is
# identical cross-engine; all cells are exact integers and the
# statistics are literal arithmetic on them at the f32 boundary.
#
# Scale shape: ONE conditional map-combinable rollup to a single row —
# whole-stage-codegen scan, no join, no window, no second pass.
# --------------------------------------------------------------------------
@CATALOG.query(
    "paired_classifier_agreement",
    oracle="""
    WITH scored AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
               CASE WHEN CAST(1.0 / (1.0 + exp(-(-3.0 + 30.0 * l_discount
                                       + 0.08 * l_quantity))) AS REAL)
                         > CAST(1.0 / 3.0 AS REAL)
                    THEN 1 ELSE 0 END AS pa,
               CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS pb
        FROM lineitem
    ), cells AS (
        SELECT count(*) AS n,
               CAST(sum(CASE WHEN pa = y AND pb = y THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_both_correct,
               CAST(sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_only_a,
               CAST(sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_only_b,
               CAST(sum(CASE WHEN pa <> y AND pb <> y THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_neither,
               sum(CASE WHEN pa = pb THEN 1 ELSE 0 END) AS n_agree,
               sum(pa) AS n_a1, sum(pb) AS n_b1
        FROM scored
    )
    SELECT n_both_correct, n_only_a, n_only_b, n_neither,
           CAST(CAST(n_both_correct + n_only_a AS DOUBLE) / n AS REAL)
               AS accuracy_a,
           CAST(CAST(n_both_correct + n_only_b AS DOUBLE) / n AS REAL)
               AS accuracy_b,
           CAST(CASE WHEN n_only_a + n_only_b > 0 THEN
                (abs(CAST(n_only_a AS DOUBLE) - n_only_b) - 1.0)
                * (abs(CAST(n_only_a AS DOUBLE) - n_only_b) - 1.0)
                / (n_only_a + n_only_b) END AS REAL) AS mcnemar_chi2,
           CAST((CAST(n_agree AS DOUBLE) / n
                 - (CAST(n_a1 AS DOUBLE) / n * (CAST(n_b1 AS DOUBLE) / n)
                    + (1.0 - CAST(n_a1 AS DOUBLE) / n)
                      * (1.0 - CAST(n_b1 AS DOUBLE) / n)))
                / (1.0
                   - (CAST(n_a1 AS DOUBLE) / n * (CAST(n_b1 AS DOUBLE) / n)
                      + (1.0 - CAST(n_a1 AS DOUBLE) / n)
                        * (1.0 - CAST(n_b1 AS DOUBLE) / n)))
               AS REAL) AS prediction_kappa
    FROM cells
    """,
)
def paired_classifier_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    score = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(
            -(
                F.lit(-3.0)
                + 30.0 * F.col("l_discount")
                + 0.08 * F.col("l_quantity")
            )
        )
    )
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    pa = F.when(
        score.cast("float") > F.lit(1.0 / 3.0).cast("float"), 1
    ).otherwise(0)
    pb = F.when(F.col("l_quantity") >= 25, 1).otherwise(0)
    scored = _t(spark, sf_dir, "lineitem").select(
        y.alias("y"), pa.alias("pa"), pb.alias("pb")
    )
    c = scored.agg(
        F.count("*").alias("n"),
        F.sum(
            F.when((F.col("pa") == F.col("y")) & (F.col("pb") == F.col("y")), 1)
            .otherwise(0)
        ).cast("long").alias("n_both_correct"),
        F.sum(
            F.when((F.col("pa") == F.col("y")) & (F.col("pb") != F.col("y")), 1)
            .otherwise(0)
        ).cast("long").alias("n_only_a"),
        F.sum(
            F.when((F.col("pa") != F.col("y")) & (F.col("pb") == F.col("y")), 1)
            .otherwise(0)
        ).cast("long").alias("n_only_b"),
        F.sum(
            F.when((F.col("pa") != F.col("y")) & (F.col("pb") != F.col("y")), 1)
            .otherwise(0)
        ).cast("long").alias("n_neither"),
        F.sum(F.when(F.col("pa") == F.col("pb"), 1).otherwise(0)).alias(
            "n_agree"
        ),
        F.sum("pa").alias("n_a1"),
        F.sum("pb").alias("n_b1"),
    )
    nd = F.col("n").cast("double")
    pa1 = F.col("n_a1").cast("double") / nd
    pb1 = F.col("n_b1").cast("double") / nd
    pe = pa1 * pb1 + (1.0 - pa1) * (1.0 - pb1)
    po = F.col("n_agree").cast("double") / nd
    disc = F.col("n_only_a") + F.col("n_only_b")
    absdiff = F.abs(F.col("n_only_a").cast("double") - F.col("n_only_b"))
    return c.select(
        "n_both_correct", "n_only_a", "n_only_b", "n_neither",
        f32(
            (F.col("n_both_correct") + F.col("n_only_a")).cast("double") / nd
        ).alias("accuracy_a"),
        f32(
            (F.col("n_both_correct") + F.col("n_only_b")).cast("double") / nd
        ).alias("accuracy_b"),
        f32(
            F.when(disc > 0, (absdiff - 1.0) * (absdiff - 1.0) / disc)
        ).alias("mcnemar_chi2"),
        f32((po - pe) / (1.0 - pe)).alias("prediction_kappa"),
    )


# --------------------------------------------------------------------------
# ab_power_mde_by_priority — experiment-design power analysis from
# logged data: per order priority, take the observed fulfillment rate
# (o_orderstatus = 'F') as the baseline conversion p and the observed
# arm size n (half the priority's orders) and emit (a) the minimum
# detectable absolute effect at alpha = 0.05 (two-sided) / power = 0.8
# given that n, and (b) the required per-arm n to detect a 2-point
# absolute lift. The pre-experiment sizing readout the A/B family
# (cuped / sprt / did / ips) reads BEFORE collecting data; the normal
# quantiles are literal constants of the contract.
#
# Replay contract: p and n are exact-count arithmetic; mde/n_required
# are literal closed-form expressions (one sqrt) at the f32 boundary;
# n_required is additionally ceil'd into an exact BIGINT on both
# engines (ceil of a double is representation-stable at these
# magnitudes).
#
# Scale shape: ONE map-combinable 5-row rollup; everything after is
# row-local arithmetic on the 5-row frame.
# --------------------------------------------------------------------------
Z_ALPHA_2 = 1.9599639845400545  # Phi^-1(0.975)
Z_BETA = 0.8416212335729143  # Phi^-1(0.8)
AB_MDE_TARGET_LIFT = 0.02


@CATALOG.query(
    "ab_power_mde_by_priority",
    oracle=f"""
    WITH g AS (
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_filled
        FROM orders GROUP BY 1
    )
    SELECT o_orderpriority,
           n_orders, n_filled,
           CAST(CAST(n_filled AS DOUBLE) / n_orders AS REAL) AS base_rate,
           CAST(({Z_ALPHA_2} + {Z_BETA})
                * sqrt(2.0 * (CAST(n_filled AS DOUBLE) / n_orders)
                       * (1.0 - CAST(n_filled AS DOUBLE) / n_orders)
                       / (CAST(n_orders AS DOUBLE) / 2.0)) AS REAL)
               AS mde_abs,
           CAST(ceil(({Z_ALPHA_2} + {Z_BETA}) * ({Z_ALPHA_2} + {Z_BETA})
                * 2.0 * (CAST(n_filled AS DOUBLE) / n_orders)
                * (1.0 - CAST(n_filled AS DOUBLE) / n_orders)
                / ({AB_MDE_TARGET_LIFT} * {AB_MDE_TARGET_LIFT}))
                AS BIGINT) AS n_required_per_arm
    FROM g
    """,
)
def ab_power_mde_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("long")
            .alias("n_filled"),
        )
    )
    p = F.col("n_filled").cast("double") / F.col("n_orders")
    zsum = F.lit(Z_ALPHA_2 + Z_BETA)
    mde = zsum * F.sqrt(
        2.0 * p * (1.0 - p) / (F.col("n_orders").cast("double") / 2.0)
    )
    n_req = F.ceil(
        zsum * zsum * 2.0 * p * (1.0 - p)
        / F.lit(AB_MDE_TARGET_LIFT * AB_MDE_TARGET_LIFT)
    )
    return g.select(
        "o_orderpriority",
        "n_orders",
        "n_filled",
        f32(p).alias("base_rate"),
        f32(mde).alias("mde_abs"),
        n_req.cast("long").alias("n_required_per_arm"),
    )


# --------------------------------------------------------------------------
# logreg_newton_returnflag — distributed LOGISTIC-REGRESSION TRAINING:
# three Newton-Raphson (IRLS) rounds for P(returnflag = 'R') on
# (1, l_discount, l_quantity / 50) over lineitem, from a zero init,
# followed by a distributed scoring pass (train log-loss + accuracy at
# 0.5). The model-TRAINING axis of the ML-primitive family (gini/tree
# = induction, NB = counting, the rest = eval): each round is one
# map-combinable 9-sum rollup (gradient + symmetric Hessian), a 3x3
# Cramer solve on the driver, and nothing else — the k-means/pagerank
# bounded-driver-state contract.
#
# Replay contract (the r11 f32-round pattern, plus one new trick): the
# nine per-round sums are f32-QUANTIZED at the aggregation boundary
# (absorbing summation order and per-row libm exp() ulps), and the
# Cramer/Newton update is arithmetic on those f32 scalars whose
# formula TEXT is generated from one template for BOTH engines
# (_CRAMER_* below) — Python driver and DuckDB evaluate structurally
# identical binary64 expressions, so the post-round f32 betas are
# bit-equal and divergence cannot compound. Scoring-pass aggregates
# cross at the f32 output boundary.
#
# Scale shape: per round, ONE whole-stage-codegen scan into a 9-value
# partial-aggregated rollup (the shuffle carries 9 doubles per task);
# driver state is 3 betas. The scoring pass is one more scan. No
# window, no join, nothing vector-grain ever leaves the executors.
# --------------------------------------------------------------------------
LOGREG_ROUNDS = 3

# one formula text, two engines: substitute either python variable
# names or SQL column refs. H is symmetric: [[h00,h01,h02],
# [h01,h11,h12],[h02,h12,h22]]; solve H * delta = g by Cramer.
_CRAMER_DET = (
    "({h00}) * (({h11}) * ({h22}) - ({h12}) * ({h12}))"
    " - ({h01}) * (({h01}) * ({h22}) - ({h12}) * ({h02}))"
    " + ({h02}) * (({h01}) * ({h12}) - ({h11}) * ({h02}))"
)
_CRAMER_D0 = (
    "({g0}) * (({h11}) * ({h22}) - ({h12}) * ({h12}))"
    " - ({h01}) * (({g1}) * ({h22}) - ({h12}) * ({g2}))"
    " + ({h02}) * (({g1}) * ({h12}) - ({h11}) * ({g2}))"
)
_CRAMER_D1 = (
    "({h00}) * (({g1}) * ({h22}) - ({h12}) * ({g2}))"
    " - ({g0}) * (({h01}) * ({h22}) - ({h12}) * ({h02}))"
    " + ({h02}) * (({h01}) * ({g2}) - ({g1}) * ({h02}))"
)
_CRAMER_D2 = (
    "({h00}) * (({h11}) * ({g2}) - ({g1}) * ({h12}))"
    " - ({h01}) * (({h01}) * ({g2}) - ({g1}) * ({h02}))"
    " + ({g0}) * (({h01}) * ({h12}) - ({h11}) * ({h02}))"
)


def _logreg_oracle() -> str:
    """Unroll LOGREG_ROUNDS Newton rounds as chained CTEs; each round's
    sums CTE f32-quantizes the nine aggregates and each solve CTE runs
    the shared Cramer formula text, f32-quantizing the updated betas."""
    names = {k: k for k in
             ("h00", "h01", "h02", "h11", "h12", "h22", "g0", "g1", "g2")}
    det = _CRAMER_DET.format(**names)
    d0, d1, d2 = (t.format(**names) for t in
                  (_CRAMER_D0, _CRAMER_D1, _CRAMER_D2))
    parts = ["WITH feat AS (\n"
             "    SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END"
             " AS y,\n"
             "           l_discount AS x1, l_quantity / 50.0 AS x2\n"
             "    FROM lineitem\n"
             "), b0 AS (SELECT CAST(0.0 AS REAL) AS b0,"
             " CAST(0.0 AS REAL) AS b1, CAST(0.0 AS REAL) AS b2)"]
    prev = "b0"
    for r in range(1, LOGREG_ROUNDS + 1):
        parts.append(f""", s{r} AS (
        SELECT
            CAST(sum(y - p) AS REAL) AS g0,
            CAST(sum((y - p) * x1) AS REAL) AS g1,
            CAST(sum((y - p) * x2) AS REAL) AS g2,
            CAST(sum(p * (1.0 - p)) AS REAL) AS h00,
            CAST(sum(p * (1.0 - p) * x1) AS REAL) AS h01,
            CAST(sum(p * (1.0 - p) * x2) AS REAL) AS h02,
            CAST(sum(p * (1.0 - p) * x1 * x1) AS REAL) AS h11,
            CAST(sum(p * (1.0 - p) * x1 * x2) AS REAL) AS h12,
            CAST(sum(p * (1.0 - p) * x2 * x2) AS REAL) AS h22
        FROM (
            SELECT y, x1, x2,
                   1.0 / (1.0 + exp(-(CAST(b.b0 AS DOUBLE)
                       + CAST(b.b1 AS DOUBLE) * x1
                       + CAST(b.b2 AS DOUBLE) * x2))) AS p
            FROM feat CROSS JOIN {prev} b
        ) t
    ), q{r} AS (
        SELECT CAST(g0 AS DOUBLE) AS g0, CAST(g1 AS DOUBLE) AS g1,
               CAST(g2 AS DOUBLE) AS g2, CAST(h00 AS DOUBLE) AS h00,
               CAST(h01 AS DOUBLE) AS h01, CAST(h02 AS DOUBLE) AS h02,
               CAST(h11 AS DOUBLE) AS h11, CAST(h12 AS DOUBLE) AS h12,
               CAST(h22 AS DOUBLE) AS h22
        FROM s{r}
    ), b{r} AS (
        SELECT CAST(CAST(b.b0 AS DOUBLE) + ({d0}) / ({det}) AS REAL) AS b0,
               CAST(CAST(b.b1 AS DOUBLE) + ({d1}) / ({det}) AS REAL) AS b1,
               CAST(CAST(b.b2 AS DOUBLE) + ({d2}) / ({det}) AS REAL) AS b2
        FROM q{r} CROSS JOIN {prev} b
    )""")
        prev = f"b{r}"
    parts.append(f"""
    SELECT count(*) AS n_rows,
           CAST(b.b0 AS REAL) AS beta0,
           CAST(b.b1 AS REAL) AS beta1,
           CAST(b.b2 AS REAL) AS beta2,
           CAST(avg(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))) AS REAL)
               AS train_logloss,
           CAST(CAST(sum(CASE WHEN (CASE WHEN p > 0.5 THEN 1.0 ELSE 0.0 END)
                                    = y THEN 1 ELSE 0 END) AS DOUBLE)
                / count(*) AS REAL) AS train_accuracy
    FROM (
        SELECT y,
               1.0 / (1.0 + exp(-(CAST(b.b0 AS DOUBLE)
                   + CAST(b.b1 AS DOUBLE) * x1
                   + CAST(b.b2 AS DOUBLE) * x2))) AS p,
               b.b0, b.b1, b.b2
        FROM feat CROSS JOIN {prev} b
    ) sc CROSS JOIN {prev} b
    GROUP BY b.b0, b.b1, b.b2
    """)
    return "".join(parts)


@CATALOG.query("logreg_newton_returnflag", oracle=_logreg_oracle())
def logreg_newton_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np  # noqa: PLC0415

    feat = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("y"),
        F.col("l_discount").alias("x1"),
        (F.col("l_quantity") / 50.0).alias("x2"),
    )

    def q32(v: float) -> float:
        return float(np.float32(v))

    b = (0.0, 0.0, 0.0)
    for _ in range(LOGREG_ROUNDS):
        p = F.lit(1.0) / (
            F.lit(1.0)
            + F.exp(
                -(
                    F.lit(b[0])
                    + F.lit(b[1]) * F.col("x1")
                    + F.lit(b[2]) * F.col("x2")
                )
            )
        )
        w = p * (F.lit(1.0) - p)
        r = feat.agg(
            f32(F.sum(F.col("y") - p)).alias("g0"),
            f32(F.sum((F.col("y") - p) * F.col("x1"))).alias("g1"),
            f32(F.sum((F.col("y") - p) * F.col("x2"))).alias("g2"),
            f32(F.sum(w)).alias("h00"),
            f32(F.sum(w * F.col("x1"))).alias("h01"),
            f32(F.sum(w * F.col("x2"))).alias("h02"),
            f32(F.sum(w * F.col("x1") * F.col("x1"))).alias("h11"),
            f32(F.sum(w * F.col("x1") * F.col("x2"))).alias("h12"),
            f32(F.sum(w * F.col("x2") * F.col("x2"))).alias("h22"),
        ).first()
        # binary64 Cramer solve on the f32 scalars — the SAME formula
        # text the oracle evaluates (template above), so the update is
        # bit-identical cross-engine
        env = {k: float(r[k]) for k in r.asDict()}
        det = eval(_CRAMER_DET.format(**{k: k for k in env}), {}, env)  # noqa: S307
        d0 = eval(_CRAMER_D0.format(**{k: k for k in env}), {}, env)  # noqa: S307
        d1 = eval(_CRAMER_D1.format(**{k: k for k in env}), {}, env)  # noqa: S307
        d2 = eval(_CRAMER_D2.format(**{k: k for k in env}), {}, env)  # noqa: S307
        b = (
            q32(b[0] + d0 / det),
            q32(b[1] + d1 / det),
            q32(b[2] + d2 / det),
        )

    p = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(
            -(
                F.lit(b[0])
                + F.lit(b[1]) * F.col("x1")
                + F.lit(b[2]) * F.col("x2")
            )
        )
    )
    pred = F.when(p > 0.5, 1.0).otherwise(0.0)
    return feat.agg(
        F.count("*").alias("n_rows"),
        f32(F.lit(b[0])).alias("beta0"),
        f32(F.lit(b[1])).alias("beta1"),
        f32(F.lit(b[2])).alias("beta2"),
        f32(
            F.avg(
                -(
                    F.col("y") * F.log(p)
                    + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - p)
                )
            )
        ).alias("train_logloss"),
        f32(
            F.sum(F.when(pred == F.col("y"), 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("train_accuracy"),
    )
