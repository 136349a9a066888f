"""Relational query corpus over the driver's TPC-H-ish tables.

Covers the analytics layer of SURVEY.md §2: scans, projections, filters,
every join type, hash/rollup/cube aggregation, windows, sorts/top-k, set ops,
and scalar functions (string/date/math/json).  The reference has none of these
as operators (SURVEY.md §2.4-§2.9 mark them [not in reference]/[ext]); they are
the Spark-native analytics surface the hierarchy data model implies.

Scale notes per query are in the docstrings; the common themes:
- dimension tables (region/nation/supplier/customer at these SFs) are
  broadcast explicitly so the fact-table scan never shuffles for them;
- aggregates are expressed declaratively so Catalyst generates partial
  (map-side) aggregation;
- top-k uses sort+limit, which Spark executes as per-partition TakeOrdered
  (no global sort materialization).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from heparchy_spark.functions.literals import array_lit
from heparchy_spark.operators.sweep import bin_of
from heparchy_spark.queries import register
from heparchy_spark.queries.numeric import (
    davg,
    dsum,
    scaled_long,
    sql_davg,
    sql_dsum,
    sql_scaled_long,
    sql_xavg,
    sql_xsum,
    xavg,
    xsum,
)
from heparchy_spark.queries.tables import load

# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_xsum(sql_scaled_long('l_quantity', 2), 2)} AS sum_qty,
           {sql_xsum(sql_scaled_long('l_extendedprice', 2), 2)} AS sum_base_price,
           {sql_xsum(sql_scaled_long('l_extendedprice * (1 - l_discount)', 4), 4)} AS sum_disc_price,
           {sql_xsum(sql_scaled_long('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6), 6)} AS sum_charge,
           {sql_xavg(sql_scaled_long('l_quantity', 2), 2)} AS avg_qty,
           {sql_xavg(sql_scaled_long('l_extendedprice', 2), 2)} AS avg_price,
           {sql_xavg(sql_scaled_long('l_discount', 2), 2)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1: flagship scan + filter + hash aggregate. Partial agg "
    "map-side; 2 grouping keys x ~3 values -> tiny shuffle at any scale. "
    "Every measure sits on an intrinsic decimal grid (qty/price 2-dec, "
    "disc_price 4-dec, charge 6-dec), so the exact split-long sums "
    "(numeric.xsum) reproduce the decimal(38,10) accumulation values "
    "bit-for-bit at ~10x less aggregate cost; n-per-group beyond the "
    "4.3e9-row xsum envelope flips back to dsum.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # No outer round: xsum output IS on the 10^-scale grid, and
            # a same-scale ROUND is where the engines can disagree by 1
            # ulp (DuckDB rounds via v*10^s — representation error can
            # cross the .5 boundary on 16-digit values; caught by the
            # r5 cross-scale sweep on sum_charge at sf0.1).
            xsum(scaled_long("l_quantity", 2), 2).alias("sum_qty"),
            xsum(scaled_long("l_extendedprice", 2), 2).alias(
                "sum_base_price"
            ),
            xsum(scaled_long(disc_price, 4), 4).alias("sum_disc_price"),
            xsum(scaled_long(charge, 6), 6).alias("sum_charge"),
            xavg(scaled_long("l_quantity", 2), 2).alias("avg_qty"),
            xavg(scaled_long("l_extendedprice", 2), 2).alias("avg_price"),
            xavg(scaled_long("l_discount", 2), 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q6_forecast_revenue",
    f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6: pure filter+sum; every predicate pushes to the Parquet scan.",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


@register(
    "agg_global_stats",
    f"""
    SELECT COUNT(*) AS n_rows,
           {sql_dsum('l_quantity', 2)} AS total_qty,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           {sql_davg('l_extendedprice')} AS avg_price
    FROM lineitem
    """,
    doc="Global (no-key) aggregate: single-stage partial+final reduce.",
)
def agg_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity", 2).alias("total_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        davg("l_extendedprice").alias("avg_price"),
    )


@register(
    "agg_count_distinct",
    """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="count(distinct) -> Spark expand+two-phase agg; exact, shuffle on "
    "(status, custkey) first.",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "rollup_flag_status",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 2)} AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP grouping sets; Spark Expand operator, still one shuffle.",
)
def rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "cube_status_priority",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           {sql_dsum('o_totalprice', 2)} AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE grouping sets over orders.",
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", 2).alias("total"),
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3: join the filtered customers into orders, then lineitem "
    "on orderkey; top-10 via TakeOrdered (no global sort). customer and "
    "orders both scale with SF, so NEITHER side is hinted — AQE/"
    "autoBroadcastJoinThreshold picks BHJ while the filtered side fits "
    "and SMJ beyond Spark's 8 GB broadcast cap (an explicit hint would "
    "be honored at any size and hard-fail at 100x).",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-30 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-30 00:00:00").cast("timestamp")
    )
    return (
        li.join(
            o.join(c, o.o_custkey == c.c_custkey),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier",
    f"""
    SELECT n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    doc="TPC-H Q5: 6-way join. Only the fixed-cardinality region/nation "
    "dims are hinted; supplier and customer SCALE with SF so their joins "
    "are left to AQE (BHJ while they fit, SMJ past the 8 GB cap).",
    expects_broadcast="nation/region fixed dims (25/5 rows at every SF)",
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    snr = s.join(F.broadcast(nr), s.s_nationkey == nr.n_nationkey)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(snr, li.l_suppkey == snr.s_suppkey)
        .join(
            c,
            (o.o_custkey == c.c_custkey) & (c.c_nationkey == snr.n_nationkey),
        )
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@register(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
      AND l_returnflag = 'R'
      AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10: returned-item revenue by customer. Only nation (fixed "
    "25 rows) is hinted; customer scales with SF so its join is left to "
    "AQE sizing.",
    expects_broadcast="nation fixed dim (25 rows at every SF)",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-06-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "join_left_order_counts",
    """
    SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
    doc="Left outer join + count; preserves customers with zero orders.",
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_semi_active_customers",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
    doc="Left-semi join (EXISTS): customers with at least one big order.",
)
def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti_idle_customers",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                        AND o_orderdate < TIMESTAMP '1997-03-01 00:00:00')
    """,
    doc="Left-anti join (NOT EXISTS): customers with no order in early 1997.",
)
def join_anti_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-03-01 00:00:00").cast("timestamp"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_parts_by_brand_volume",
    f"""
    SELECT p_brand,
           COUNT(*) AS n_lineitems,
           {sql_dsum('l_quantity')} AS total_qty
    FROM lineitem, part
    WHERE l_partkey = p_partkey AND p_size >= 20
    GROUP BY p_brand
    """,
    doc="Fact-dim join on partkey with dim filter. part scales with SF, "
    "so the join is unhinted — AQE broadcasts it while it fits and "
    "falls back to SMJ past the 8 GB cap.",
)
def join_parts_by_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(F.col("p_size") >= 20)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            dsum("l_quantity", 2).alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Point lookup / projection (the reference's R3/R6 access paths)
# ---------------------------------------------------------------------------


@register(
    "point_lookup_order",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey = 4242
    """,
    doc="Point lookup by key — the R3 analog (read/hdf.py:454-466): predicate "
    "pushes to Parquet row-group stats; at scale, partition pruning.",
)
def point_lookup_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.where(F.col("o_orderkey") == 4242).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "projection_filter_pushdown",
    """
    SELECT l_orderkey, l_quantity
    FROM lineitem
    WHERE l_quantity > 45 AND l_returnflag = 'A'
    """,
    doc="2-column projection + filter — the R6 lazy-column analog "
    "(read/hdf.py:262-316): ReadSchema prunes to 3 columns, filters push down.",
)
def projection_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.where((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "A")).select(
        "l_orderkey", "l_quantity"
    )


# ---------------------------------------------------------------------------
# Windows / sort / top-k
# ---------------------------------------------------------------------------


@register(
    "window_topk_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rk
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders) t
    WHERE rk <= 3
    """,
    doc="Per-group top-k via row_number window; one shuffle on custkey. "
    "Deterministic tiebreak on orderkey.",
)
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


@register(
    "window_running_customer_spend",
    f"""
    SELECT o_custkey, o_orderkey,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE), 2) AS running_spend
    FROM orders
    """,
    doc="Running-total window (decimal accumulation for cross-engine hash "
    "stability).",
)
def window_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,10)"))
            .over(w)
            .cast("double"),
            2,
        ).alias("running_spend"),
    )


@register(
    "window_lag_user_events",
    """
    SELECT user_id, event_id, value,
           LAG(value) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS prev_value
    FROM events
    """,
    doc="lag() over per-user event time — the as-of-previous primitive.",
)
def window_lag_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id", "value", F.lag("value").over(w).alias("prev_value")
    )


@register(
    "topk_orders_global",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    doc="Global top-k: orderBy+limit compiles to TakeOrderedAndProject — "
    "per-partition heap, no full sort, no single-node shuffle of all rows.",
)
def topk_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Set operations / distinct
# ---------------------------------------------------------------------------


@register(
    "setop_union_nations",
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="UNION (distinct) of customer & supplier nation keys.",
)
def setop_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.union(s).distinct()


@register(
    "setop_intersect_nations",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="INTERSECT: nations with both customers and suppliers.",
)
def setop_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


@register(
    "setop_except_nations",
    """
    SELECT o_custkey AS custkey FROM orders
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
    """,
    doc="EXCEPT: customers whose every order predates 1999.",
)
def setop_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    all_c = o.select(F.col("o_custkey").alias("custkey"))
    recent = o.where(
        F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp")
    ).select(F.col("o_custkey").alias("custkey"))
    return all_c.subtract(recent)  # EXCEPT DISTINCT semantics


@register(
    "distinct_segments",
    "SELECT DISTINCT c_mktsegment FROM customer",
    doc="DISTINCT — partial dedup map-side, then tiny shuffle.",
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "customer").select("c_mktsegment").distinct()


# ---------------------------------------------------------------------------
# Scalar functions: string / date / math / json / conditional
# ---------------------------------------------------------------------------


@register(
    "string_funcs_part",
    """
    SELECT p_partkey,
           UPPER(p_brand) AS brand_upper,
           LOWER(p_type) AS type_lower,
           LENGTH(p_name) AS name_len,
           SUBSTRING(p_type, 1, 5) AS type_prefix,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           REPLACE(p_name, ' ', '_') AS name_snake
    FROM part
    WHERE p_name LIKE '%a%'
    """,
    doc="String function battery (upper/lower/length/substr/concat/replace/like).",
)
def string_funcs_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.where(F.col("p_name").like("%a%")).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
    )


@register(
    "date_funcs_orders",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    """,
    doc="Date extraction + aggregate by (year, month).",
)
def date_funcs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "math_funcs_lineitem",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount), 4) AS net_price,
           CAST(FLOOR(l_quantity / 10) AS BIGINT) AS qty_bucket,
           ABS(l_discount - 0.05) AS disc_dev,
           CAST(POWER(l_quantity, 2) AS DOUBLE) AS qty_sq,
           SQRT(l_extendedprice) AS price_sqrt
    FROM lineitem
    WHERE l_linenumber <= 2
    """,
    doc="Math function battery (round/floor/abs/power/sqrt) — all JVM codegen.",
)
def math_funcs_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.where(F.col("l_linenumber") <= 2).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "net_price"
        ),
        F.floor(F.col("l_quantity") / 10).alias("qty_bucket"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.pow("l_quantity", F.lit(2)).alias("qty_sq"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
    )


@register(
    "case_when_price_tiers",
    f"""
    SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
                WHEN o_totalprice < 300000 THEN 'mid'
                ELSE 'high' END AS tier,
           COUNT(*) AS n,
           {sql_dsum('o_totalprice', 2)} AS total
    FROM orders
    GROUP BY 1
    """,
    doc="CASE WHEN bucketing + aggregate.",
)
def case_when_price_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    tier = (
        F.when(F.col("o_totalprice") < 100000, "low")
        .when(F.col("o_totalprice") < 300000, "mid")
        .otherwise("high")
    )
    return (
        o.groupBy(tier.alias("tier"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice", 2).alias("total"),
        )
    )


@register(
    "json_extract_events",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
    FROM events
    WHERE event_type = 'purchase'
    """,
    doc="JSON-in-string extraction (events.props) -> typed column.",
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


@register(
    "agg_percentiles_quantity",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.25), 6) AS q25,
           ROUND(quantile_cont(l_quantity, 0.5), 6) AS q50,
           ROUND(quantile_cont(l_quantity, 0.75), 6) AS q75,
           ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS price_p90
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles per group (Spark percentile == "
    "DuckDB quantile_cont, both linear interpolation). The scale path is "
    "approx_percentile (t-digest) — see agg_approx_percentile.",
)
def agg_percentiles_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 6).alias("q25"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("q50"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 6).alias("q75"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6).alias(
            "price_p90"
        ),
    )


@register(
    "agg_approx_percentile",
    """
    SELECT l_returnflag,
           quantile_disc(l_quantity, 0.25) AS q25_approx,
           quantile_disc(l_quantity, 0.5) AS q50_approx,
           quantile_disc(l_quantity, 0.75) AS q75_approx,
           quantile_disc(l_extendedprice, 0.9) AS price_p90_approx
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="The percentile SCALE path beside agg_percentiles_quantity: "
    "approx_percentile is a mergeable quantile sketch (Greenwald-Khanna "
    "variant), so partials combine map-side and the shuffle carries one "
    "sketch per group instead of every value — exact percentile must "
    "materialize the full sorted group. The sketch's rank-error bound is "
    "1/accuracy of the group size, so with accuracy >= n it degenerates "
    "to the exact discrete quantile (the dataset element at rank "
    "ceil(p*n)) — the same rank rule as DuckDB's quantile_disc, which "
    "makes the query hash-checkable at validation scale while remaining "
    "the one-pass mergeable operator at 100 TB (where accuracy < n and "
    "the bound is approximate).",
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # >= any validation-scale group size (max ~300k at sf0.1, 3.3x
    # margin) -> exact-mode sketch, hash-identical to quantile_disc
    # (measured identical at sf0.001/0.01/0.1 for 1e6 AND the previous
    # 1e7).  1e6 instead of 1e7 because the summary's stored-sample
    # bound (and so per-task memory and the <=|groups|-task final-merge
    # cost at real scale, where n >> accuracy) is O(accuracy): the
    # tighter budget is 10x less sketch state at 100 TB and measured 3x
    # faster at sf0.1 (6.7 s -> 2.1 s) with identical output.
    acc = F.lit(1_000_000)
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_quantity", F.lit(0.25), acc).alias("q25_approx"),
        F.approx_percentile("l_quantity", F.lit(0.5), acc).alias("q50_approx"),
        F.approx_percentile("l_quantity", F.lit(0.75), acc).alias("q75_approx"),
        F.approx_percentile("l_extendedprice", F.lit(0.9), acc).alias(
            "price_p90_approx"
        ),
    )


@register(
    "pivot_qty_by_status",
    f"""
    SELECT l_returnflag,
           {sql_dsum('CASE WHEN l_linestatus = chr(70) THEN l_quantity END', 2)} AS qty_F,
           {sql_dsum('CASE WHEN l_linestatus = chr(79) THEN l_quantity END', 2)} AS qty_O
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Pivot (long->wide): sum(quantity) per returnflag x linestatus. "
    "Spark native pivot(); oracle uses conditional aggregation.",
)
def pivot_qty_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(dsum("l_quantity", 2))
        .select(
            "l_returnflag",
            F.col("F").alias("qty_F"),
            F.col("O").alias("qty_O"),
        )
    )


@register(
    "array_funcs_embeddings",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(CAST(list_aggregate(embedding, 'sum') AS DOUBLE), 4) AS vec_sum,
           ROUND(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS vec_max,
           ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_component,
           ROUND(CAST(list_aggregate(list_slice(embedding, 1, 4), 'sum') AS DOUBLE), 6) AS head4_sum
    FROM embeddings
    WHERE vec_id <= 100
    """,
    doc="Array/list scalar functions over array<float> embeddings: size, "
    "aggregate-sum, max, indexing, slice (JVM-side, no UDF).",
)
def array_funcs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") <= 100)
    dsum_arr = lambda c, g: F.round(  # noqa: E731
        F.aggregate(
            c, F.lit(0.0), lambda acc, x: acc + x.cast("double")
        ),
        g,
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        dsum_arr(F.col("embedding"), 4).alias("vec_sum"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("vec_max"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias(
            "first_component"
        ),
        dsum_arr(F.slice("embedding", 1, 4), 6).alias("head4_sum"),
    )


@register(
    "window_ntile_rank_customers",
    """
    WITH spend AS (
      SELECT o_custkey, SUM(o_totalprice) AS total_spend,
             COUNT(*) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           ROUND(total_spend, 2) AS total_spend,
           n_orders,
           NTILE(10) OVER (ORDER BY total_spend DESC, o_custkey) AS decile,
           DENSE_RANK() OVER (ORDER BY n_orders DESC) AS order_count_rank,
           ROUND(PERCENT_RANK() OVER (ORDER BY total_spend), 6) AS spend_pctl
    FROM spend
    """,
    doc="Ranking-family window functions (ntile, dense_rank, percent_rank) "
    "over a pre-aggregated spend table.  Scale shape: NONE of the three "
    "rankings runs an unpartitioned window over the SF-scaling customer "
    "frame.  The exact global row order under (total_spend, o_custkey) "
    "is recovered distributed — range-bucket total_spend from collected "
    "literal bounds (monotone, so bucket-major order == total order), "
    "in-bucket row_number over PARTITIONED windows, then a bounded "
    "<=64-row bucket-count scan turned into a literal offset map.  "
    "NTILE(10) is the closed-form arithmetic on that exact rank "
    "(descending rank = n+1-ascending rank); PERCENT_RANK's tie-aware "
    "rank is min(row order) within each total_spend tie group (a "
    "partitioned window over tie groups); DENSE_RANK over n_orders "
    "ranks the DISTINCT order counts — a bounded value domain (orders "
    "per customer is SF-independent in TPC-H) collected into a literal "
    "lookup map.  Same machinery as orders_rfm_segments below.",
)
def window_ntile_rank_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("total_spend"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    # 1-row global stats -> driver literals (bounded collect): row
    # count, spend bounds, and the distinct n_orders value domain
    # (bounded: TPC-H order count per customer is SF-independent)
    srow = spend.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.col("total_spend").cast("double")).alias("lo"),
        F.max(F.col("total_spend").cast("double")).alias("hi"),
        F.collect_set("n_orders").alias("ovals"),
    ).collect()[0]
    n = int(srow["n"])
    dense_pairs: list = []
    for rk, v in enumerate(sorted(srow["ovals"], reverse=True), start=1):
        dense_pairs.extend([F.lit(int(v)), F.lit(rk)])
    dense_map = F.create_map(*dense_pairs)
    # exact ascending global rank: range-bucket + partitioned in-bucket
    # row_number + bucket offsets (<=64-row bounded collect)
    nb = 64
    base = spend.withColumn(
        "__b",
        bin_of(
            F.col("total_spend").cast("double"),
            F.lit(float(srow["lo"])),
            F.lit(float(srow["hi"])),
            nb,
        ),
    )
    w_in = Window.partitionBy("__b").orderBy(
        F.asc("total_spend"), F.desc("o_custkey")
    )
    base = base.withColumn("__rn", F.row_number().over(w_in))
    crows = base.groupBy("__b").agg(F.count(F.lit(1)).alias("c")).collect()
    acc, pairs = 0, []
    for b, c in sorted((r["__b"], r["c"]) for r in crows):
        pairs.extend([F.lit(b), F.lit(acc)])
        acc += c
    offmap = F.create_map(*pairs)
    # ascending order here is (total_spend ASC, o_custkey DESC) — the
    # exact reverse of the NTILE order, so desc rank = n + 1 - asc rank
    rn_asc = (F.element_at(offmap, F.col("__b")) + F.col("__rn")).cast("long")
    base = base.withColumn("__rn_asc", rn_asc).withColumn(
        "__rn_desc", (F.lit(n + 1) - F.col("__rn_asc")).cast("long")
    )
    # PERCENT_RANK's rank() is tie-aware: min row order within each
    # total_spend tie group (partitioned window over tie groups, which
    # are bounded — distinct customers rarely share an exact sum)
    rank_asc = F.min("__rn_asc").over(Window.partitionBy("total_spend"))
    denom = float(max(n - 1, 1))
    return base.select(
        "o_custkey",
        F.round("total_spend", 2).alias("total_spend"),
        "n_orders",
        _ntile_from_rank("__rn_desc", n, 10).alias("decile"),
        F.element_at(dense_map, F.col("n_orders").cast("int"))
        .cast("int")
        .alias("order_count_rank"),
        F.round(
            (rank_asc - F.lit(1)).cast("double") / F.lit(denom), 6
        ).alias("spend_pctl"),
    )


@register(
    "join_range_events_after_order",
    """
    WITH win AS (
      SELECT o_orderkey, o_custkey % 150 AS user_id,
             TIMESTAMP '2024-01-01 00:00:00'
               + INTERVAL (o_orderkey % 28) DAY AS start_ts
      FROM orders WHERE o_orderkey <= 500
    )
    SELECT w.o_orderkey, COUNT(*) AS n_events
    FROM win w
    JOIN events e
      ON e.user_id = w.user_id
     AND e.ts >= w.start_ts
     AND e.ts < w.start_ts + INTERVAL 2 DAY
    GROUP BY w.o_orderkey
    """,
    doc="Range/interval join: events within 2 days after each order, "
    "equi-key on user + range condition on ts. The equi key carries the "
    "shuffle; the range predicate filters within matched groups (no "
    "cross-join explosion).",
)
def join_range_events_after_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    start = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
        days=(F.col("o_orderkey") % 28).cast("int")
    )
    o = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 500)
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 150).alias("user_id"),
            start.alias("start_ts"),
            (start + F.expr("INTERVAL 2 DAYS")).alias("end_ts"),
        )
    )
    e = load(spark, sf_dir, "events").select("user_id", "ts")
    joined = o.join(
        e,
        (o.user_id == e.user_id)
        & (e.ts >= o.start_ts)
        & (e.ts < o.end_ts),
    )
    return joined.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n_events"))


@register(
    "map_funcs_events",
    """
    SELECT event_id,
           array_to_string(list_sort(json_keys(props)), ',') AS prop_keys,
           len(json_keys(props)) AS n_keys,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value
    FROM events
    WHERE event_id <= 2000
    """,
    doc="Map functions over parsed JSON: from_json -> map<string,int>, "
    "map_keys / size / element_at (JVM-side, no UDF). prop_keys is "
    "flattened to a comma-joined string: the driver's pandas "
    "canonicalizer cannot sort list-typed columns, and scalar outputs "
    "keep the result portable across engines.",
)
def map_funcs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(F.col("event_id") <= 2000)
    m = F.from_json("props", "map<string,int>")
    return ev.select(
        "event_id",
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("prop_keys"),
        F.size(m).alias("n_keys"),
        F.element_at(m, "k").alias("k_value"),
    )


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 (adapted: late-shipped = l_shipdate > o_orderdate since "
    "the driver tables carry no commit/receipt dates): EXISTS decorrelates "
    "to a left-semi hash join before the priority count.",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    window = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    late = window.join(
        li,
        (window.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > window.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q7_nation_volume",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q7: shipping volume between two nations per year. Both "
    "nation sides (fixed 25 rows) are hinted; supplier scales with SF so "
    "its join is left to AQE. The big shuffles are lineitem-orders and "
    "orders-customer on their join keys.",
    expects_broadcast="two nation projections (fixed 25 rows each)",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    joined = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(sup, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nk") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("c_nk") == F.col("c_nationkey"))
        .where(pair)
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


@register(
    "q14_promo_revenue",
    f"""
    SELECT ROUND(
             100.0 * {sql_dsum(
                 "CASE WHEN p_type = 'PROMO'"
                 " THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
             / {sql_dsum('l_extendedprice * (1 - l_discount)')}, 6)
           AS promo_revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
    """,
    doc="TPC-H Q14: promo revenue share for one month (adapted: p_type = "
    "'PROMO' exact match — the driver's p_type carries no TPC-H sub-type "
    "suffixes). part scales with SF, so the join is unhinted — AQE picks "
    "BHJ while part fits and SMJ beyond the broadcast cap.",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    joined = li.where(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    ).join(p, F.col("p_partkey") == F.col("l_partkey"))
    return joined.agg(
        F.round(100.0 * dsum(promo) / dsum(disc), 6).alias("promo_revenue")
    )


@register(
    "q18_large_orders",
    f"""
    WITH big AS (
      SELECT l_orderkey, {sql_dsum('l_quantity', 2)} AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING {sql_dsum('l_quantity', 2)} > 300
    )
    SELECT c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
    doc="TPC-H Q18: orders whose total quantity exceeds 300. The HAVING "
    "prunes to a tiny key set BEFORE the orders/customer joins, which AQE "
    "then converts to broadcasts at runtime.",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", 2).alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


@register(
    "window_user_value_zscore",
    """
    WITH __m AS (
      SELECT user_id, event_id, value,
             CAST(SUM(CAST(value AS DECIMAL(38,10)))
                  OVER (PARTITION BY user_id) AS DOUBLE) AS __s1,
             CAST(SUM(CAST(value * value AS DECIMAL(38,10)))
                  OVER (PARTITION BY user_id) AS DOUBLE) AS __s2,
             CAST(COUNT(value) OVER (PARTITION BY user_id) AS DOUBLE) AS __n
      FROM events
    )
    SELECT user_id, event_id,
           CASE WHEN __n > 1
                 AND (__s2 - __s1 * __s1 / __n) / (__n - 1) > 1e-12
                THEN ROUND((value - __s1 / __n)
                     / sqrt((__s2 - __s1 * __s1 / __n) / (__n - 1)), 6)
           END AS zscore
    FROM __m
    """,
    doc="Per-user value z-score (windowed anomaly signal). Moments come "
    "from decimal-accumulated window sums so both engines derive identical "
    "doubles before the identical IEEE mean/variance arithmetic; "
    "single-event users and ~zero variance yield NULL.",
)
def window_user_value_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    s1 = F.sum(F.col("value").cast("decimal(38,10)")).over(w).cast("double")
    s2 = (
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,10)"))
        .over(w)
        .cast("double")
    )
    n = F.count("value").over(w).cast("double")
    var = (s2 - s1 * s1 / n) / (n - 1)
    z = F.round((F.col("value") - s1 / n) / F.sqrt(var), 6)
    return ev.select(
        "user_id",
        "event_id",
        F.when((n > 1) & (var > 1e-12), z).alias("zscore"),
    )


@register(
    "agg_grouping_sets",
    f"""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
           count(*) AS n_rows,
           {sql_dsum('l_quantity', 2)} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="Explicit GROUPING SETS (flag-only, status-only, grand total) with "
    "grouping_id disambiguation — the general form under cube/rollup; one "
    "Expand + one shuffle, partial aggregation preserved.",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            dsum("l_quantity", 2).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n_rows", "sum_qty")
    )


@register(
    "join_full_outer_daily_types",
    """
    WITH __c AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n_clicks
      FROM events WHERE event_type = 'click' GROUP BY 1
    ), __p AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n_purchases
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT coalesce(__c.day, __p.day) AS day,
           coalesce(n_clicks, 0) AS n_clicks,
           coalesce(n_purchases, 0) AS n_purchases
    FROM __c FULL OUTER JOIN __p ON __c.day = __p.day
    """,
    doc="Full-outer join of two per-day aggregates (clicks vs purchases): "
    "days where either side is absent survive with zero-filled counts — "
    "the one outer-join shape the corpus didn't already cover.",
)
def join_full_outer_daily_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    c = (
        ev.where(F.col("event_type") == "click")
        .groupBy(day)
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(day)
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return (
        c.join(p, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        )
    )


@register(
    "events_cohort_retention",
    """
    WITH __f AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ), __a AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
    )
    SELECT cohort_day,
           CAST(date_diff('day', cohort_day, active_day) AS BIGINT)
             AS days_since,
           count(*) AS n_users
    FROM __f JOIN __a USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Cohort retention matrix: users bucketed by first-seen day, "
    "counted on each later active day. Two aggregates on user_id reuse "
    "one partitioning; the cohort join is an equi join on the same key.",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    active = ev.select(
        "user_id", F.to_date("ts").alias("active_day")
    ).distinct()
    return (
        first.join(active, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("active_day", "cohort_day")
            .cast("long")
            .alias("days_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "orders_above_avg_value",
    f"""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT {sql_davg('o_totalprice')} FROM orders)
    """,
    doc="Uncorrelated scalar subquery: filter against a whole-table "
    "aggregate. The single-row average broadcasts (cross join) under the "
    "filter — two passes over orders, no shuffle of the filtered stream; "
    "the decimal-accumulated average makes the threshold engine-identical.",
    expects_bnlj=True,
    expects_broadcast="1-row global average",
)
def orders_above_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    avg_row = o.agg(davg("o_totalprice").alias("__avg"))
    return (
        o.crossJoin(F.broadcast(avg_row))
        .where(F.col("o_totalprice") > F.col("__avg"))
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "window_trailing_30d_customer_spend",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                OVER (PARTITION BY o_custkey
                      ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
                      RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
                AS DOUBLE), 2) AS spend_30d
    FROM orders
    """,
    doc="RANGE-frame window: per order, the customer's trailing-30-day "
    "spend by EVENT TIME (peers at the same timestamp aggregate "
    "together, so the result is deterministic under ties — unlike a "
    "ROWS frame over a non-unique order key). One shuffle on custkey; "
    "decimal accumulation for cross-engine hash stability.",
)
def window_trailing_30d_customer_spend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-2_592_000, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,10)"))
            .over(w)
            .cast("double"),
            2,
        ).alias("spend_30d"),
    )


@register(
    "unpivot_lineitem_measures",
    """
    SELECT l_orderkey, l_linenumber, measure, ROUND(value, 2) AS value
    FROM (
      UNPIVOT (SELECT l_orderkey, l_linenumber,
                      l_quantity, l_extendedprice, l_discount
               FROM lineitem WHERE l_orderkey < 100)
      ON l_quantity, l_extendedprice, l_discount
      INTO NAME measure VALUE value
    )
    """,
    doc="UNPIVOT (stack): wide measure columns to long (measure, value) "
    "rows — the inverse of pivot, a pure generator projection (no "
    "shuffle).  Spark expresses it as the stack() table function.",
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'l_quantity', l_quantity,"
            " 'l_extendedprice', l_extendedprice,"
            " 'l_discount', l_discount) AS (measure, value)"
        ),
    ).select(
        "l_orderkey", "l_linenumber", "measure", F.round("value", 2).alias("value")
    )


@register(
    "merge_upsert_orders",
    f"""
    WITH upd AS (
      SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice,
             '1-URGENT' AS o_orderpriority
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 13 = 0
    ),
    m AS (
      SELECT CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                  WHEN u.o_orderkey IS NULL THEN 'keep'
                  WHEN b.o_totalprice IS DISTINCT FROM u.o_totalprice
                    OR b.o_orderpriority IS DISTINCT FROM u.o_orderpriority
                    THEN 'update'
                  ELSE 'unchanged' END AS action,
             COALESCE(u.o_totalprice, b.o_totalprice) AS new_price
      FROM orders b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
    )
    SELECT action, CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum('new_price')} AS sum_price
    FROM m GROUP BY action
    """,
    doc="Lakehouse MERGE classification (operators/upsert.py): a derived "
    "update batch (changed prices + no-op rows + new keys) full-outer "
    "joins the base on the merge key; per-key actions "
    "(insert/update/unchanged/keep) use null-safe comparison, matching "
    "Delta/Iceberg WHEN MATCHED semantics. One shuffle — the "
    "irreducible MERGE cost; bucketing both sides on the key removes "
    "even that (test_bucketed_join_zero_shuffle).",
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.upsert import merge_actions

    orders = load(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    cols = ["o_orderkey", "o_totalprice", "o_orderpriority"]
    base = orders.select(*cols)
    upd_changed = orders.where(key % 7 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
        F.lit("1-URGENT").alias("o_orderpriority"),
    )
    upd_same = orders.where((key % 11 == 0) & (key % 7 != 0)).select(*cols)
    inserts = orders.where(key % 13 == 0).select(
        (key + 100000000).alias("o_orderkey"), "o_totalprice", "o_orderpriority"
    )
    updates = upd_changed.unionByName(upd_same).unionByName(inserts)
    acts = merge_actions(
        base, updates, ["o_orderkey"], ["o_orderpriority", "o_totalprice"]
    )
    return acts.groupBy("action").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.coalesce("u_o_totalprice", "b_o_totalprice")).alias("sum_price"),
    )


@register(
    "agg_robust_stats_value",
    f"""
    WITH med AS (
      SELECT event_type,
             quantile_cont(value, 0.5) AS med,
             quantile_cont(value, 0.1) AS p10,
             quantile_cont(value, 0.9) AS p90
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           ROUND(MAX(med), 6) AS median_value,
           ROUND(quantile_cont(abs(e.value - med), 0.5), 6) AS mad,
           {sql_davg('CASE WHEN e.value BETWEEN p10 AND p90 THEN e.value END')}
             AS trimmed_mean,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events e JOIN med USING (event_type)
    GROUP BY e.event_type
    """,
    doc="Robust per-type statistics over event values: exact median, MAD "
    "(median absolute deviation), and a 10%-trimmed mean — the outlier-"
    "resistant profile a data-quality monitor wants where mean/stddev "
    "mislead. Two passes: a group-percentile aggregate (broadcast back, "
    "|types| rows) then one deviation aggregate; exact percentiles are "
    "the parity form, approx_percentile is the documented scale path.",
    expects_broadcast="per-event-type percentile frame (bounded type domain)",
)
def agg_robust_stats_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med"),
        F.percentile("value", F.lit(0.1)).alias("p10"),
        F.percentile("value", F.lit(0.9)).alias("p90"),
    )
    j = ev.join(F.broadcast(med), "event_type")
    v = F.col("value")
    return j.groupBy("event_type").agg(
        F.round(F.max("med"), 6).alias("median_value"),
        F.round(
            F.percentile(F.abs(v - F.col("med")), F.lit(0.5)), 6
        ).alias("mad"),
        davg(F.when((v >= F.col("p10")) & (v <= F.col("p90")), v)).alias(
            "trimmed_mean"
        ),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_equidepth_histogram",
    """
    WITH b AS (
      SELECT quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                   0.6, 0.7, 0.8, 0.9]) AS bs
      FROM events
    ),
    assigned AS (
      SELECT CAST(1 + len(list_filter(bs, x -> x <= value)) AS INT)
               AS bucket,
             value
      FROM events, b
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(value), 6) AS min_v, ROUND(MAX(value), 6) AS max_v
    FROM assigned GROUP BY bucket
    """,
    doc="Equi-depth decile histogram of event values: exact interpolated "
    "decile boundaries (one group-percentile pass, broadcast back as a "
    "single row), bucket = count of boundaries <= value, then one "
    "combinable aggregate. The scale path swaps approx_percentile "
    "boundaries in (mergeable sketch, no full sort) — same plan shape.",
    expects_bnlj=True,
    expects_broadcast="1-row decile-boundary array",
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    probs = array_lit([p / 10.0 for p in range(1, 10)])
    b = ev.agg(F.percentile("value", probs).alias("bs"))
    v = F.col("value")
    assigned = ev.join(F.broadcast(b)).select(
        (
            F.lit(1)
            + F.size(F.filter("bs", lambda x: x <= v))
        ).cast("int").alias("bucket"),
        "value",
    )
    return assigned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 6).alias("min_v"),
        F.round(F.max("value"), 6).alias("max_v"),
    )


@register(
    "events_robust_outliers",
    """
    WITH med AS (
      SELECT event_type,
             quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, MAX(med) AS med,
             quantile_cont(abs(e.value - med), 0.5) AS mad
      FROM events e JOIN med USING (event_type)
      GROUP BY e.event_type
    ),
    scored AS (
      SELECT e.event_id, e.event_type,
             ROUND(e.value, 6) AS value,
             ROUND(abs(e.value - mad.med) / (1.4826 * mad.mad), 6)
               AS robust_z
      FROM events e JOIN mad USING (event_type)
      WHERE mad.mad > 0
    )
    SELECT event_id, event_type, value, robust_z,
           CAST(rk AS INT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_type ORDER BY robust_z DESC, event_id
      ) AS rk
      FROM scored
    ) WHERE rk <= 10
    """,
    doc="Robust anomaly flags: top-10 events per type by modified "
    "z-score |v - median| / (1.4826 * MAD) — the outlier detector that "
    "survives the outliers it hunts (mean/stddev z-scores get dragged "
    "by the tail). Two percentile passes broadcast back, then a "
    "bounded per-type ranking window over the scored scan.",
    expects_broadcast="per-event-type median/MAD frames (bounded type domain)",
)
def events_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("med").alias("med"),
            F.percentile(
                F.abs(F.col("value") - F.col("med")), F.lit(0.5)
            ).alias("mad"),
        )
    )
    scored = (
        ev.join(F.broadcast(mad), "event_type")
        .where(F.col("mad") > 0)
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(
                F.abs(F.col("value") - F.col("med"))
                / (1.4826 * F.col("mad")),
                6,
            ).alias("robust_z"),
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("robust_z"), F.asc("event_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("event_id", "event_type", "value", "robust_z", "rk")
    )


# ---------------------------------------------------------------------------
# agg_bootstrap_ci_value — Poisson-bootstrap confidence interval
# ---------------------------------------------------------------------------

# Poisson(1) inverse-CDF thresholds (cumulative e^-1/k!), shared literals in
# both engines so the hash-derived replicate weights are identical doubles.
_POIS_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
    0.999998874797402,
]
_N_REPS = 32


def _bootstrap_sql() -> str:
    # Replicate b (1-based) draws its uniform from 8 hex chars of
    # sha256(event_id || 'boot' || group), group = (b-1) div 8 — one hash
    # feeds 8 replicates (the hash is the scan's dominant per-row cost).
    w_case = "CASE " + " ".join(
        f"WHEN u < {t!r} THEN {k}" for k, t in enumerate(_POIS_CDF)
    ) + " ELSE 9 END"
    return f"""
    WITH reps AS (SELECT unnest(range(1, {_N_REPS + 1})) AS b),
    weighted AS (
      SELECT b,
             {w_case} AS w, sv
      FROM (
        SELECT b, sv,
               CAST(('0x' || substr(
                 sha256(CAST(event_id AS VARCHAR) || 'boot'
                        || CAST((b - 1) // 8 AS VARCHAR)),
                 ((b - 1) % 8) * 8 + 1, 8)) AS BIGINT)
               / 4294967296.0 AS u
        FROM (SELECT event_id,
                     CAST(ROUND(value * 1000000.0) AS BIGINT) AS sv
              FROM events), reps
      )
    ),
    means AS (
      SELECT b,
             ROUND(CAST(CAST(SUM(w * sv) AS BIGINT) AS DOUBLE)
                   / 1000000.0 / SUM(w), 6) AS rep_mean
      FROM weighted GROUP BY b HAVING SUM(w) > 0
    ),
    pt AS (
      SELECT CAST(CAST(SUM(CAST(ROUND(value * 1000000.0) AS BIGINT))
                       AS BIGINT) AS DOUBLE)
             / 1000000.0 / COUNT(*) AS m
      FROM events
    )
    SELECT ROUND(pt.m, 6) AS point_mean,
           ROUND(quantile_cont(rep_mean, 0.025), 6) AS ci_lo,
           ROUND(quantile_cont(rep_mean, 0.975), 6) AS ci_hi,
           CAST(COUNT(*) AS BIGINT) AS n_replicates
    FROM means, pt GROUP BY pt.m
    """


@register(
    "agg_bootstrap_ci_value",
    _bootstrap_sql(),
    doc="95% bootstrap CI for mean(events.value) via the POISSON bootstrap "
    "— the resampling scheme that works at 100 TB: classic bootstrap "
    "needs n draws with replacement per replicate (a global shuffle per "
    "replicate); Poisson(1) weights are independent PER ROW, so all 32 "
    "replicates ride ONE scan as an explode(x32) + combinable weighted "
    "aggregate.  Weights are hash-derived (sha256 slice -> inverse CDF), "
    "so replicates are deterministic and the oracle replays them "
    "exactly; the CI is the 2.5/97.5 interpolated percentile of the 32 "
    "replicate means (Spark percentile == DuckDB quantile_cont).",
    expects_bnlj=True,
    expects_broadcast="1-row point-estimate aggregate",
)
def agg_bootstrap_ci_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # One sha256 per (row, replicate-GROUP of 8): replicate b reads hex
    # chars [((b-1)%8)*8, +8) of hash group (b-1)//8 — 4 hashes/row for
    # 32 replicates instead of 32 (hashing dominates the scan cost).
    # Hashes land in their own projection so each sha256 is evaluated
    # ONCE per row (inlining them into the 32 generator fields defeats
    # common-subexpression elimination — measured 2x slower).
    hashed = ev.select(
        F.round(F.col("value") * F.lit(1000000.0)).cast("long").alias("sv"),
        *[
            F.sha2(
                F.concat(
                    F.col("event_id").cast("string"),
                    F.lit("boot"),
                    F.lit(str(g)),
                ),
                256,
            ).alias(f"h{g}")
            for g in range(_N_REPS // 8)
        ],
    )
    draws = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("b"),
                    (
                        F.conv(
                            F.substring(
                                F.col(f"h{(b - 1) // 8}"),
                                ((b - 1) % 8) * 8 + 1,
                                8,
                            ),
                            16,
                            10,
                        ).cast("long")
                        / F.lit(4294967296.0)
                    ).alias("u"),
                )
                for b in range(1, _N_REPS + 1)
            ]
        )
    ).alias("d")
    w = F.lit(9)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(F.col("d.u") < F.lit(_POIS_CDF[k]), F.lit(k)).otherwise(w)
    # Exact integer accumulation: value snaps to the 1e-6 grid as a LONG,
    # so the weighted sums are exact integers and their double images are
    # bit-identical across engines while |sum| < 2^53 (holds to ~1e9 rows
    # of |value| <= 1e3 — beyond that, flip to the decimal dsum path).
    weighted = hashed.select("sv", draws).select(
        "sv", F.col("d.b").alias("b"), w.alias("w")
    )
    means = (
        weighted.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("sv")).alias("ws"),
            F.sum("w").alias("wn"),
        )
        .where(F.col("wn") > 0)
        .select(
            F.round(
                F.col("ws").cast("double")
                / F.lit(1000000.0)
                / F.col("wn"),
                6,
            ).alias("rep_mean")
        )
    )
    pt = ev.agg(
        (
            F.sum(
                F.round(F.col("value") * F.lit(1000000.0)).cast("long")
            ).cast("double")
            / F.lit(1000000.0)
            / F.count(F.lit(1))
        ).alias("m")
    )
    return (
        means.agg(
            F.round(F.percentile("rep_mean", F.lit(0.025)), 6).alias("ci_lo"),
            F.round(F.percentile("rep_mean", F.lit(0.975)), 6).alias("ci_hi"),
            F.count(F.lit(1)).cast("long").alias("n_replicates"),
        )
        .join(F.broadcast(pt))
        .select(
            F.round(F.col("m"), 6).alias("point_mean"),
            "ci_lo",
            "ci_hi",
            "n_replicates",
        )
    )


@register(
    "agg_incremental_merge",
    """
    SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(38,10)))
                      AS DOUBLE), 2) AS total_value
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    doc="Incremental materialized-aggregate maintenance: the daily order "
    "rollup is maintained as BASE partial aggregates (3/4 of the "
    "stream) merged with a late-arriving DELTA batch (orderkey % 4 — "
    "every day straddles both sides), combining counts by addition and "
    "decimal-grid sums by re-accumulation, never rescanning base "
    "facts.  The oracle recomputes the rollup from scratch, so parity "
    "PROVES merge == recompute — the algebraic property that makes "
    "partial aggregation, AQE re-use, and incremental view maintenance "
    "sound.  On-grid partials re-enter decimal exactly, so the merged "
    "double is bit-identical to the full-scan aggregate.",
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.queries.numeric import DEC, dsum

    orders = load(spark, sf_dir, "orders")

    def daily(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.to_date(F.date_trunc("day", F.col("o_orderdate"))).alias("day")
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.round(F.col("o_totalprice"), 2), 2).alias("total_value"),
        )

    base = daily(orders.where(F.col("o_orderkey") % 4 != 0))
    delta = daily(orders.where(F.col("o_orderkey") % 4 == 0))
    return (
        base.unionByName(delta)
        .groupBy("day")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.round(
                F.sum(F.col("total_value").cast(DEC)).cast("double"), 2
            ).alias("total_value"),
        )
        .orderBy("day")
    )


@register(
    "agg_moments_skew_kurtosis",
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT) AS v
      FROM lineitem
    ),
    sums AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(v) AS s1, SUM(v * v) AS s2,
             SUM(v * v * v) AS s3, SUM(v * v * v * v) AS s4
      FROM s GROUP BY l_returnflag
    ),
    a AS (
      SELECT l_returnflag, n,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS a1,
             CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 AS a2,
             CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS a3,
             CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) / 100000000.0 AS a4
      FROM sums
    ),
    m AS (
      SELECT l_returnflag, n, a1,
             a2 - a1 * a1 AS m2,
             a3 - 3.0 * a1 * a2 + 2.0 * a1 * a1 * a1 AS m3,
             a4 - 4.0 * a1 * a3 + 6.0 * a1 * a1 * a2
                - 3.0 * a1 * a1 * a1 * a1 AS m4
      FROM a
    )
    SELECT l_returnflag, n,
           ROUND(a1, 6) AS mean_qty,
           ROUND(m2, 6) AS var_qty,
           ROUND(m3 / (m2 * SQRT(m2)), 6) AS skewness,
           ROUND(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
    FROM m ORDER BY l_returnflag
    """,
    doc="Moments sketch (Gan et al., VLDB 2018 shape): per-group "
    "MERGEABLE state is just (n, S1..S4) — exact power sums of the "
    "1e-2-grid scaled-long quantity, map-side combinable and "
    "re-mergeable across shards/windows with plain addition — from "
    "which mean/variance/skewness/excess-kurtosis derive in closed "
    "form.  Powers of the scaled long stay within int64 per row "
    "(|v| <= 5000 here -> v^4 <= 6.25e14) and the sums accumulate in "
    "decimal(38,0)/HUGEINT, so both engines hold the identical exact "
    "integers and every derived double is the same literal expression "
    "sequence — no float-order dependence anywhere.",
)
def agg_moments_skew_kurtosis(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    v = F.floor(F.col("l_quantity") * F.lit(100.0) + F.lit(0.5)).cast(
        "long"
    )
    dec = "decimal(38,0)"
    sums = (
        li.select("l_returnflag", v.alias("v"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast(dec)).alias("s1"),
            F.sum((F.col("v") * F.col("v")).cast(dec)).alias("s2"),
            F.sum(
                (F.col("v") * F.col("v") * F.col("v")).cast(dec)
            ).alias("s3"),
            F.sum(
                (F.col("v") * F.col("v") * F.col("v") * F.col("v")).cast(
                    dec
                )
            ).alias("s4"),
        )
    )
    nd = F.col("n").cast("double")
    a = sums.select(
        "l_returnflag",
        "n",
        (F.col("s1").cast("double") / nd / F.lit(100.0)).alias("a1"),
        (F.col("s2").cast("double") / nd / F.lit(10000.0)).alias("a2"),
        (F.col("s3").cast("double") / nd / F.lit(1000000.0)).alias("a3"),
        (F.col("s4").cast("double") / nd / F.lit(100000000.0)).alias(
            "a4"
        ),
    )
    a1, a2, a3, a4 = (F.col(c) for c in ("a1", "a2", "a3", "a4"))
    m = a.select(
        "l_returnflag",
        "n",
        a1,
        (a2 - a1 * a1).alias("m2"),
        (a3 - F.lit(3.0) * a1 * a2 + F.lit(2.0) * a1 * a1 * a1).alias(
            "m3"
        ),
        (
            a4
            - F.lit(4.0) * a1 * a3
            + F.lit(6.0) * a1 * a1 * a2
            - F.lit(3.0) * a1 * a1 * a1 * a1
        ).alias("m4"),
    )
    m2, m3, m4 = (F.col(c) for c in ("m2", "m3", "m4"))
    return m.select(
        "l_returnflag",
        "n",
        F.round(a1, 6).alias("mean_qty"),
        F.round(m2, 6).alias("var_qty"),
        F.round(m3 / (m2 * F.sqrt(m2)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - F.lit(3.0), 6).alias("kurtosis_excess"),
    ).orderBy("l_returnflag")


def _ntile_from_rank(rank_col: str, n: int, k: int):
    """Closed-form ``NTILE(k)`` from an exact 1-based global rank —
    same first-buckets-get-the-extra split as the SQL window."""
    q, rm = n // k, n % k
    if q == 0:
        return F.col(rank_col).cast("int")
    thresh = rm * (q + 1)
    return F.expr(
        f"CAST(CASE WHEN {rank_col} <= {thresh} "
        f"THEN ({rank_col} + {q}) div {q + 1} "
        f"ELSE {rm} + ({rank_col} - {thresh} + {q - 1}) div {q} "
        f"END AS INT)"
    )


@register(
    "orders_rfm_segments",
    """
    WITH base AS (
      SELECT o_custkey AS c_custkey,
             date_diff('day', MAX(o_orderdate),
                       (SELECT MAX(o_orderdate) FROM orders))
               AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT c_custkey, recency_days, frequency, monetary,
           6 - NTILE(5) OVER (ORDER BY recency_days, c_custkey) AS r_score,
           NTILE(5) OVER (ORDER BY frequency, c_custkey) AS f_score,
           NTILE(5) OVER (ORDER BY monetary, c_custkey) AS m_score,
           CAST(6 - NTILE(5) OVER (ORDER BY recency_days, c_custkey)
                AS VARCHAR)
           || CAST(NTILE(5) OVER (ORDER BY frequency, c_custkey) AS VARCHAR)
           || CAST(NTILE(5) OVER (ORDER BY monetary, c_custkey) AS VARCHAR)
             AS rfm_code
    FROM base
    """,
    doc="RFM customer segmentation — the classic curation of a customer "
    "base (recency since last order vs the corpus max date, order "
    "frequency, exact-decimal monetary total) quintile-scored with "
    "(metric, c_custkey) total orders so ties are deterministic; "
    "r_score inverts (recent = 5).  Scale shape: ONE combinable "
    "fact-table aggregate, then each quintile is an EXACT distributed "
    "NTILE — range-bucket the metric, in-bucket row_number windows "
    "(partitioned, parallel), a bucket-offset scan over the bounded "
    "<=64-row bucket frame, and the closed-form NTILE(rank, n) "
    "arithmetic — bit-identical to the single-partition NTILE window "
    "the oracle uses but with no 'WindowExec: No Partition Defined' "
    "stage, so the customer frame never funnels through one task.  "
    "Full SQL oracle.",
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    # ONE combinable fact-table aggregate
    per_cust = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max("o_orderdate").alias("__last"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(38,2)"))
        .cast("double")
        .alias("monetary"),
    )
    # 1-row global stats -> driver literals (bounded collect): corpus
    # max date, row count, and per-metric value bounds in one pass
    srow = per_cust.agg(
        F.max("__last").alias("gmax"),
        F.min("__last").alias("lmin"),
        F.count(F.lit(1)).alias("n"),
        F.min("frequency").alias("flo"),
        F.max("frequency").alias("fhi"),
        F.min("monetary").alias("mlo"),
        F.max("monetary").alias("mhi"),
    ).collect()[0]
    n = int(srow["n"])
    base = per_cust.select(
        "c_custkey",
        F.datediff(F.lit(srow["gmax"]), F.col("__last")).alias(
            "recency_days"
        ),
        "frequency",
        "monetary",
    )
    nb = 64
    metrics = {
        "r": ("recency_days", 0.0, float((srow["gmax"] - srow["lmin"]).days)),
        "f": ("frequency", float(srow["flo"]), float(srow["fhi"])),
        "m": ("monetary", float(srow["mlo"]), float(srow["mhi"])),
    }
    # range-bucket each metric from the literal bounds, then exact
    # in-bucket row_number — PARTITIONED windows, never a global one
    for t, (col, lo, hi) in metrics.items():
        base = base.withColumn(
            f"__b{t}",
            bin_of(F.col(col).cast("double"), F.lit(lo), F.lit(hi), nb),
        )
        w = Window.partitionBy(f"__b{t}").orderBy(col, "c_custkey")
        base = base.withColumn(f"__rn{t}", F.row_number().over(w))
    # one bounded counts pass (<= 3*nb rows) -> per-bucket rank
    # offsets as literal lookup maps, so the rank is a pure projection
    crows = (
        base.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("t"),
                            F.col(f"__b{t}").alias("b"),
                        )
                        for t in metrics
                    ]
                )
            ).alias("e")
        )
        .groupBy("e.t", "e.b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    offmaps: dict[str, list] = {}
    for t in metrics:
        acc, pairs = 0, []
        for b, c in sorted(
            (r["b"], r["c"]) for r in crows if r["t"] == t
        ):
            pairs.extend([F.lit(b), F.lit(acc)])
            acc += c
        offmaps[t] = F.create_map(*pairs)
    for t in metrics:
        rank = (
            F.element_at(offmaps[t], F.col(f"__b{t}")) + F.col(f"__rn{t}")
        ).cast("long")
        base = base.withColumn(f"__rk{t}", rank).withColumn(
            f"__t{t}", _ntile_from_rank(f"__rk{t}", n, 5)
        )
    r = (F.lit(6) - F.col("__tr")).alias("r_score")
    return base.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        r,
        F.col("__tf").alias("f_score"),
        F.col("__tm").alias("m_score"),
        F.concat(
            (F.lit(6) - F.col("__tr")).cast("string"),
            F.col("__tf").cast("string"),
            F.col("__tm").cast("string"),
        ).alias("rfm_code"),
    )


@register(
    "agg_theil_inequality",
    """
    WITH rev AS (
      SELECT o.o_custkey AS c, c.c_nationkey AS nation,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,2)))
                  AS DECIMAL(38,2)) AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY o.o_custkey, c.c_nationkey
    ),
    tot AS (
      SELECT CAST(SUM(x) AS DECIMAL(38,2)) AS xt, COUNT(*) AS n
      FROM rev
    ),
    pernation AS (
      SELECT r.nation,
             CAST(SUM(r.x) AS DECIMAL(38,2)) AS xg,
             COUNT(*) AS ng,
             MAX(t.xt) AS xt, MAX(t.n) AS n,
             SUM(CAST(ROUND(
               (CAST(r.x AS DOUBLE) / CAST(t.xt AS DOUBLE))
               * ROUND(LN((CAST(r.x AS DOUBLE) / CAST(t.xt AS DOUBLE))
                          * t.n), 8), 10)
               AS DECIMAL(38,10))) AS t_total_part
      FROM rev r JOIN tot t ON 1 = 1
      GROUP BY r.nation
    ),
    final AS (
      SELECT CAST(SUM(ng) AS BIGINT) AS n_customers,
             CAST(SUM(t_total_part) AS DOUBLE) AS t_total,
             CAST(SUM(CAST(ROUND(
               (CAST(xg AS DOUBLE) / CAST(xt AS DOUBLE))
               * ROUND(LN((CAST(xg AS DOUBLE) / CAST(xt AS DOUBLE))
                          * (CAST(n AS DOUBLE) / ng)), 8), 10)
               AS DECIMAL(38,10))) AS DOUBLE) AS t_between
      FROM pernation
    )
    SELECT n_customers,
           ROUND(t_total, 6) + 0.0 AS theil_total,
           ROUND(t_between, 6) + 0.0 AS theil_between,
           ROUND(t_total - t_between, 6) + 0.0 AS theil_within
    FROM final
    """,
    doc="Theil-T inequality of customer revenue with the "
    "between/within-nation decomposition (the additive property Gini "
    "lacks — answers 'is revenue concentration a geography story or "
    "an in-market story' in one pass): T = sum (x_i/X) ln(n x_i/X), "
    "between-group = sum (X_g/X) ln((X_g/X)(n/n_g)), within = "
    "difference.  Revenues stay exact DECIMAL(38,2) through every sum "
    "(order-free — no shuffle-arrival float drift at any SF); each "
    "ratio casts to double once; LN rounds to 8 dp (cross-engine ULP "
    "guard), terms round to 10 dp into DECIMAL(38,10) order-free "
    "sums, final round 6 (+0.0 for -0.0).  Scale shape: one fact "
    "aggregate, the 1-row global total collected to driver LITERALS "
    "(the bounded-collect exception class — no BNLJ, no global "
    "window, no plan-subtree duplication), per-nation partial term "
    "sums, and ONE final 1-row aggregate over the bounded nation "
    "frame — no single-partition stage anywhere.  Full SQL oracle.",
)
def agg_theil_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    rev = (
        # customer scales with SF: no broadcast hint — AQE picks BHJ
        # while the 2-column projection fits, SMJ past the 8 GB cap.
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .groupBy(
            F.col("o_custkey").alias("c"),
            F.col("c_nationkey").alias("nation"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,2)"))
            .cast("decimal(38,2)")
            .alias("x")
        )
    )
    # 1-row global totals -> driver literals (bounded collect): the
    # exact decimal total and count are constants of the dataset, so
    # embedding them beats a 1-row nested-loop join or a global window
    trow = rev.agg(
        F.sum("x").cast("decimal(38,2)").alias("xt"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    xt = F.lit(trow["xt"]).cast("decimal(38,2)")
    n = F.lit(int(trow["n"]))
    ratio = F.col("x").cast("double") / xt.cast("double")
    term_total = F.round(
        ratio * F.round(F.log(ratio * n), 8), 10
    ).cast("decimal(38,10)")
    pernation = rev.groupBy("nation").agg(
        F.sum("x").cast("decimal(38,2)").alias("xg"),
        F.count(F.lit(1)).alias("ng"),
        F.sum(term_total).alias("t_total_part"),
    )
    gratio = F.col("xg").cast("double") / xt.cast("double")
    term_between = F.round(
        gratio
        * F.round(
            F.log(gratio * (n.cast("double") / F.col("ng"))), 8
        ),
        10,
    ).cast("decimal(38,10)")
    final = pernation.agg(
        F.sum("ng").cast("long").alias("n_customers"),
        F.sum("t_total_part").cast("double").alias("t_total"),
        F.sum(term_between).cast("double").alias("t_between"),
    )
    return final.select(
        "n_customers",
        (F.round(F.col("t_total"), 6) + 0.0).alias("theil_total"),
        (F.round(F.col("t_between"), 6) + 0.0).alias("theil_between"),
        (F.round(F.col("t_total") - F.col("t_between"), 6) + 0.0).alias(
            "theil_within"
        ),
    )


@register(
    "orders_cohort_ltv",
    """
    WITH fm AS (
      SELECT o_custkey,
             date_trunc('month', MIN(o_orderdate)) AS cohort_month
      FROM orders GROUP BY o_custkey
    ),
    cs AS (
      SELECT cohort_month, COUNT(*) AS cohort_size FROM fm GROUP BY 1
    ),
    rev AS (
      SELECT f.cohort_month,
             date_diff('month', f.cohort_month,
                       date_trunc('month', o.o_orderdate)) AS month_offset,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,2)))
                  AS DECIMAL(38,2)) AS revenue,
             COUNT(DISTINCT o.o_custkey) AS active_customers
      FROM orders o JOIN fm f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2
    )
    SELECT r.cohort_month,
           CAST(r.month_offset AS BIGINT) AS month_offset,
           CAST(cs.cohort_size AS BIGINT) AS cohort_size,
           CAST(r.active_customers AS BIGINT) AS active_customers,
           CAST(r.revenue AS DOUBLE) AS revenue,
           ROUND(CAST(SUM(r.revenue) OVER (
                   PARTITION BY r.cohort_month ORDER BY r.month_offset
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / cs.cohort_size, 6) AS cum_ltv_per_customer
    FROM rev r JOIN cs USING (cohort_month)
    """,
    doc="Cohort lifetime-value curves — the revenue twin of the "
    "retention matrix: customers bucketed by first-order month, "
    "per-(cohort, month-offset) exact-decimal revenue and active "
    "count, and the running cumulative LTV per cohort member (the "
    "curve a growth team reads payback periods off).  Revenue stays "
    "DECIMAL(38,2) through the grouped sum AND the running window "
    "(order-free / exact), one double cast + round 6 at the end; the "
    "cumulative window is PARTITIONED by cohort (parallel across "
    "cohorts, ~tens of offsets per partition); cohort sizes broadcast "
    "back on the month key.  Full SQL oracle.",
    expects_broadcast="per-cohort-month size frame (bounded month domain)",
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    fm = orders.groupBy("o_custkey").agg(
        F.trunc(F.min("o_orderdate"), "month").alias("cohort_month")
    )
    cs = fm.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    rev = (
        orders.join(fm, "o_custkey")
        .groupBy(
            "cohort_month",
            F.months_between(
                F.trunc("o_orderdate", "month"), F.col("cohort_month")
            )
            .cast("long")
            .alias("month_offset"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,2)"))
            .cast("decimal(38,2)")
            .alias("revenue"),
            F.countDistinct("o_custkey").alias("active_customers"),
        )
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(cs), "cohort_month")
        .select(
            "cohort_month",
            F.col("month_offset").cast("long").alias("month_offset"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
            F.col("active_customers").cast("long").alias("active_customers"),
            F.col("revenue").cast("double").alias("revenue"),
            F.round(
                F.sum("revenue").over(w).cast("double")
                / F.col("cohort_size"),
                6,
            ).alias("cum_ltv_per_customer"),
        )
    )
