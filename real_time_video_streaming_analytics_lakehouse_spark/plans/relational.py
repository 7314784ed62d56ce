"""Relational core over the TPC-H-ish test tables.

Covers SURVEY.md §2 operator rows: P1-P12 (projection/filter/CASE), J1-J6
(join shapes), A1/A5-A10 (aggregation shapes), W3/W5 (rank, percent-of-
total), O1/O2 (sort/top-k), S13 (row generator → dim_time), F11-F14
(date-dialect functions).

Plans are declared with the DataFrame API and left to Catalyst: filters
sit directly on scan columns (parquet pushdown), small dimension tables
are broadcast, aggregates are partial/final hash aggregates. Round-trip
notes per query describe the intended physical shape at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.dialect import day_name, money_sum, month_name, time_key
from ..sources.readers import load_table
from .catalog import QuerySpec


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- pricing_summary (TPC-H Q1 shape; scan → filter → hash agg) ----------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit("2000-12-02 00:00:00").cast("timestamp_ntz")
    )
    # Arithmetic policy: every money/measure SUM runs on its exact
    # decimal grid via money_sum (price 2dp, price*(1-disc) 4dp,
    # *(1+tax) 6dp) — exact int128 totals in both engines, identical
    # under any summation order; averages divide that exact total by
    # the count, so both engines perform one IEEE division on identical
    # operands. (Plain double sums rounded at 6dp over ~6e4 rows are
    # order-SENSITIVE: the --perturb gate flips them between
    # partitionings.)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        money_sum(F.col("l_quantity"), 2).alias("sum_qty"),
        money_sum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
        money_sum(disc_price, 4).alias("sum_disc_price"),
        money_sum(charge, 6).alias("sum_charge"),
        (money_sum(F.col("l_quantity"), 2) / F.count("*")).alias("avg_qty"),
        (money_sum(F.col("l_extendedprice"), 2) / F.count("*")).alias(
            "avg_price"
        ),
        (money_sum(F.col("l_discount"), 2) / F.count("*")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate < TIMESTAMP '2000-12-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- top_revenue_orders (TPC-H Q3 shape; 3-way join → agg → rank top-k) --

def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # No broadcast hint: the filtered customer side scales with data
        # volume — AQE converts to broadcast at runtime when it fits.
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", F.to_date("o_orderdate").alias("order_date"))
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue")
        )
    )
    # Top-k via orderBy+limit (parallel per-partition TakeOrdered +
    # merge), NOT a global rank window — a single-partition sort of
    # every order's revenue is the bottleneck at scale (same pattern
    # as ngram_jaccard_top_pairs). The order is total
    # (o_orderkey tiebreak), so rank == row_number and recomputing the
    # rank over just the 10 survivors is result-identical.
    order = [F.col("revenue").desc(), F.col("o_orderkey")]
    top = rev.orderBy(*order).limit(10)
    w = Window.orderBy(*order)
    return top.withColumn("rk", F.rank().over(w))


TOP_REVENUE_ORDERS_SQL = """
WITH rev AS (
  SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
         CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2)
SELECT * FROM (
  SELECT rev.*, RANK() OVER (ORDER BY revenue DESC, o_orderkey) AS rk FROM rev)
WHERE rk <= 10
"""


# --- region_revenue_rollup (broadcast dim chain J2) ----------------------

def region_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = F.broadcast(_t(spark, sf_dir, "region"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count_distinct("n_nationkey").alias("nations"),
            F.count_distinct("c_custkey").alias("customers"),
            F.count("*").alias("orders_cnt"),
            money_sum(F.col("o_totalprice"), 2).alias("total_price"),
        )
    )


REGION_REVENUE_ROLLUP_SQL = """
SELECT r.r_name,
       COUNT(DISTINCT n.n_nationkey) AS nations,
       COUNT(DISTINCT c.c_custkey) AS customers,
       COUNT(*) AS orders_cnt,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_price
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


# --- part_type_share (join + agg + percent-of-total window W5) -----------

def part_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # part scales with SF — let AQE pick broadcast vs shuffle join.
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    agg = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_type")
        .agg(
            money_sum(F.col("l_quantity"), 2).alias("sum_qty"),
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
        )
    )
    total = Window.partitionBy()
    return agg.withColumn(
        "pct_revenue",
        F.round(F.col("revenue") * 100.0 / F.sum("revenue").over(total), 4),
    )


PART_TYPE_SHARE_SQL = """
WITH agg AS (
  SELECT p.p_type,
         CAST(SUM(CAST(l.l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1)
SELECT p_type, sum_qty, revenue,
       ROUND(revenue * 100.0 / SUM(revenue) OVER (), 4) AS pct_revenue
FROM agg
"""


# --- customer_order_profile (left-outer join + coalesce J1) --------------

def customer_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer profile (J1: left-outer + coalesce).

    The INTERVAL-JOIN arm (operators/temporal.py::interval_join): each
    order's fulfillment interval is [o_orderdate, max lineitem ship
    date], and ``overlapping_order_pairs`` counts the pairs of a
    customer's orders whose fulfillment intervals overlap — "orders in
    flight simultaneously". The operator is the bin-replication rewrite (equi
    join on (30-day bin, custkey), exact overlap + canonical-bin filter
    in-stage — no nested-loop join, no candidate blow-up at a hot
    customer), oracled against DuckDB's brute-force pair join, which is
    exact at sf0.01 scale. Pairs are canonical (left orderkey < right
    orderkey), so each overlapping pair counts once."""
    from ..operators.temporal import interval_join

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("*").alias("cnt"), F.sum("o_totalprice").alias("total")
    )
    # Pre-aggregate the fact side BEFORE the join (max shipdate per
    # order is a map-side-combinable partial agg over two narrow
    # columns), so the shuffle carries 150k (key, date) rows instead of
    # 600k wide joined rows — the shape that survives 100 TB.
    ship = lineitem.groupBy("l_orderkey").agg(
        F.max(F.col("l_shipdate").cast("timestamp")).alias("fe")
    )
    iv = (
        orders.select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("timestamp").alias("fs"),
        )
        .join(ship, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_orderkey", "o_custkey", "fs", "fe")
        .localCheckpoint(eager=False)  # both sides of the self-join
    )
    # Bin width is DERIVED from the observed interval lengths (the
    # operator's p75 default — here ~2.5 years, since synthetic ship
    # dates are uncorrelated with order dates and fulfillment intervals
    # run ~2 years): replication stays ~2 copies/order without the
    # hard-coded 730-day constant this plan carried before, and the
    # bound holds unchanged if the data's interval scale shifts.
    # max_bins_per_row=None: the embedding_cosine_pairs precedent —
    # the catalog entry's plan stays free of the library-level lazy
    # guard (its pinned shape and measured walls are load-bearing), and
    # the derived p75 width already bounds replication at ~2
    # copies/order here by construction.
    pairs = interval_join(
        iv,
        iv,
        left_start="fs",
        left_end="fe",
        right_start="fs",
        right_end="fe",
        on="o_custkey",
        max_bins_per_row=None,
    ).filter(F.col("o_orderkey") < F.col("o_orderkey_right"))
    overlaps = pairs.groupBy("o_custkey").agg(
        F.count("*").alias("overlapping_order_pairs")
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left_outer")
        .join(overlaps, cust.c_custkey == overlaps.o_custkey, "left_outer")
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("order_cnt"),
            F.round(F.coalesce(F.col("total"), F.lit(0.0)), 2).alias(
                "total_spent"
            ),
            F.coalesce(
                F.col("overlapping_order_pairs"), F.lit(0).cast("long")
            ).alias("overlapping_order_pairs"),
        )
    )


CUSTOMER_ORDER_PROFILE_SQL = """
WITH iv AS (
  SELECT o.o_orderkey, o.o_custkey,
         CAST(o.o_orderdate AS TIMESTAMP) AS fs,
         CAST(MAX(l.l_shipdate) AS TIMESTAMP) AS fe
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2, 3),
pairs AS (
  SELECT a.o_custkey, CAST(COUNT(*) AS BIGINT) AS overlapping_order_pairs
  FROM iv a JOIN iv b
    ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
   AND a.fs <= b.fe AND b.fs <= a.fe
  GROUP BY 1)
SELECT c.c_custkey, c.c_name, c.c_mktsegment,
       COALESCE(o.cnt, 0) AS order_cnt,
       ROUND(COALESCE(o.total, 0), 2) AS total_spent,
       COALESCE(p.overlapping_order_pairs, 0) AS overlapping_order_pairs
FROM customer c
LEFT JOIN (
  SELECT o_custkey, COUNT(*) AS cnt, SUM(o_totalprice) AS total
  FROM orders GROUP BY 1) o
ON c.c_custkey = o.o_custkey
LEFT JOIN pairs p ON c.c_custkey = p.o_custkey
"""


# --- customers_without_orders (anti join J6) -----------------------------

def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal")
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# --- segment_buyers (semi join + groupBy) --------------------------------

def segment_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment buyer stats: semi-join buyer counts PLUS the
    correlated-subquery shape ('orders above their segment's average
    price') rewritten as a window aggregate — one shuffle instead of a
    per-row subquery (formerly the separate ``orders_above_segment_avg``
    query, folded here so the catalog fits the driver's 50-query check
    window). The window average divides an exact decimal-grid sum by
    the count, so both engines compare against the identical threshold
    double."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    buyers = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("customers_with_orders"))
    )
    joined = orders.join(
        cust.select("c_custkey", "c_mktsegment"),
        orders.o_custkey == F.col("c_custkey"),
    )
    w = Window.partitionBy("c_mktsegment")
    # money_sum's shape, windowed: exact decimal SUM over the partition,
    # cast to double once (over() must wrap the SUM itself).
    seg_avg = (
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).over(w).cast("double")
        / F.count("*").over(w)
    )
    above = (
        joined.withColumn("segment_avg", seg_avg)
        .filter(F.col("o_totalprice") > F.col("segment_avg"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("above_avg_orders"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )
    # LEFT join: a segment whose orders are all equal (nothing strictly
    # above its own average) must keep its buyer count, with NULL
    # above-avg stats — an inner join would drop the segment entirely.
    return buyers.join(above, "c_mktsegment", "left_outer")


SEGMENT_BUYERS_SQL = """
WITH buyers AS (
  SELECT c_mktsegment, COUNT(*) AS customers_with_orders
  FROM customer c
  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
  GROUP BY 1),
joined AS (
  SELECT o.o_totalprice, c.c_mktsegment,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,2)))
              OVER (PARTITION BY c.c_mktsegment) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY c.c_mktsegment) AS segment_avg
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
above AS (
  SELECT c_mktsegment,
         COUNT(*) AS above_avg_orders,
         ROUND(MAX(o_totalprice), 2) AS max_price
  FROM joined WHERE o_totalprice > segment_avg
  GROUP BY 1)
SELECT b.c_mktsegment, b.customers_with_orders, a.above_avg_orders, a.max_price
FROM buyers b LEFT JOIN above a ON b.c_mktsegment = a.c_mktsegment
"""


# --- part_supp_multikey (compound-key join J5) ---------------------------

def part_supp_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    qty = li.groupBy("l_partkey", "l_suppkey").agg(
        money_sum(F.col("l_quantity"), 2).alias("total_qty")
    )
    rev = (
        li.filter(F.col("l_returnflag") != "R")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue")
        )
    )
    return qty.join(rev, ["l_partkey", "l_suppkey"]).select(
        "l_partkey", "l_suppkey", "total_qty", "revenue"
    )


PART_SUPP_MULTIKEY_SQL = """
WITH q AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY 1, 2),
r AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
  FROM lineitem WHERE l_returnflag <> 'R' GROUP BY 1, 2)
SELECT q.l_partkey, q.l_suppkey, q.total_qty, r.revenue
FROM q JOIN r ON q.l_partkey = r.l_partkey AND q.l_suppkey = r.l_suppkey
"""


# --- order_priority_profile (conditional distinct counts A8) -------------

def order_priority_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_cnt"),
        F.count_distinct("o_custkey").alias("customers"),
        F.count_distinct(
            F.when(F.col("o_orderstatus") == "F", F.col("o_custkey"))
        ).alias("finished_customers"),
        F.count(F.when(F.col("o_totalprice") > 200000, 1)).alias("big_orders"),
        (money_sum(F.col("o_totalprice"), 2) / F.count("*")).alias("avg_price"),
    )


ORDER_PRIORITY_PROFILE_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS order_cnt,
       COUNT(DISTINCT o_custkey) AS customers,
       COUNT(DISTINCT CASE WHEN o_orderstatus = 'F' THEN o_custkey END) AS finished_customers,
       COUNT(CASE WHEN o_totalprice > 200000 THEN 1 END) AS big_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_price
FROM orders GROUP BY 1
"""


# --- customer_ltv_segments (CTE-staged agg A10 + CASE bucketing P11) -----

def customer_ltv_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    # total_spent is an exact decimal-grid sum (money_sum): the CASE
    # bucket boundaries (>= 3M / >= 1.5M) compare against it, and a
    # float sum that lands within one ulp of a boundary could bucket a
    # customer differently per engine/summation order.
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.coalesce(money_sum(F.col("o_totalprice"), 2), F.lit(0.0)).alias(
                "total_spent"
            ),
            F.count("o_orderkey").alias("order_cnt"),
        )
    )
    seg = spend.withColumn(
        "ltv_segment",
        F.when(F.col("total_spent") >= 3_000_000, "whale")
        .when(F.col("total_spent") >= 1_500_000, "big")
        .when(F.col("total_spent") > 0, "regular")
        .otherwise("inactive"),
    )
    return seg.groupBy("c_mktsegment", "ltv_segment").agg(
        F.count("*").alias("customers"),
        (money_sum(F.col("total_spent"), 2) / F.count("*")).alias("avg_spent"),
        money_sum(F.col("total_spent"), 2).alias("seg_revenue"),
        F.sum("order_cnt").alias("orders_cnt"),
    )


CUSTOMER_LTV_SEGMENTS_SQL = """
WITH spend AS (
  SELECT c.c_custkey, c.c_mktsegment,
         COALESCE(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,2))) AS DOUBLE), 0) AS total_spent,
         COUNT(o.o_orderkey) AS order_cnt
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2),
seg AS (
  SELECT c_mktsegment,
         CASE WHEN total_spent >= 3000000 THEN 'whale'
              WHEN total_spent >= 1500000 THEN 'big'
              WHEN total_spent > 0 THEN 'regular'
              ELSE 'inactive' END AS ltv_segment,
         total_spent, order_cnt
  FROM spend)
SELECT c_mktsegment, ltv_segment, COUNT(*) AS customers,
       CAST(SUM(CAST(total_spent AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_spent,
       CAST(SUM(CAST(total_spent AS DECIMAL(30,2))) AS DOUBLE) AS seg_revenue,
       CAST(SUM(order_cnt) AS BIGINT) AS orders_cnt
FROM seg GROUP BY 1, 2
"""


# --- supplier_nation_revenue (dim-chain join over supplier side) ---------

def supplier_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _t(spark, sf_dir, "supplier")  # scales with SF → AQE decides
    nation = F.broadcast(_t(spark, sf_dir, "nation"))  # bounded: 25 rows
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count_distinct("s_suppkey").alias("suppliers"),
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
        )
    )


SUPPLIER_NATION_REVENUE_SQL = """
SELECT n.n_name,
       COUNT(DISTINCT s.s_suppkey) AS suppliers,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1
"""


# --- dim_time_generate (row generator S13 + date-dialect functions F11) --

def dim_time_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = spark.range(0, 366).select(
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias(
            "date_value"
        )
    )
    d = F.col("date_value")
    return days.select(
        d,
        time_key(d).alias("time_key"),
        F.year(d).alias("year_num"),
        F.quarter(d).alias("quarter_num"),
        F.month(d).alias("month_num"),
        month_name(d).alias("month_name"),
        day_name(d).alias("day_name"),
        (F.weekday(d) >= 5).alias("is_weekend"),
        F.dayofyear(d).alias("day_of_year"),
    )


DIM_TIME_GENERATE_SQL = """
SELECT CAST(d AS DATE) AS date_value,
       CAST(year(d) * 10000 + month(d) * 100 + day(d) AS INTEGER) AS time_key,
       CAST(year(d) AS INTEGER) AS year_num,
       CAST(quarter(d) AS INTEGER) AS quarter_num,
       CAST(month(d) AS INTEGER) AS month_num,
       monthname(d) AS month_name,
       dayname(d) AS day_name,
       isodow(d) >= 6 AS is_weekend,
       CAST(dayofyear(d) AS INTEGER) AS day_of_year
FROM generate_series(DATE '2024-01-01', DATE '2024-12-31', INTERVAL 1 DAY) t(d)
"""


QUERIES: dict[str, QuerySpec] = {
    "pricing_summary": QuerySpec(
        pricing_summary, PRICING_SUMMARY_SQL, "scan→filter→hash agg (TPC-H Q1 shape)"
    ),
    "top_revenue_orders": QuerySpec(
        top_revenue_orders, TOP_REVENUE_ORDERS_SQL, "3-way join→agg→rank top-k"
    ),
    "region_revenue_rollup": QuerySpec(
        region_revenue_rollup, REGION_REVENUE_ROLLUP_SQL, "broadcast dim chain"
    ),
    "part_type_share": QuerySpec(
        part_type_share, PART_TYPE_SHARE_SQL, "percent-of-total window (W5)"
    ),
    "customer_order_profile": QuerySpec(
        customer_order_profile, CUSTOMER_ORDER_PROFILE_SQL, "left join + coalesce (J1)"
    ),
    "customers_without_orders": QuerySpec(
        customers_without_orders, CUSTOMERS_WITHOUT_ORDERS_SQL, "anti join (J6)"
    ),
    "segment_buyers": QuerySpec(
        segment_buyers, SEGMENT_BUYERS_SQL, "semi join + groupBy"
    ),
    "part_supp_multikey": QuerySpec(
        part_supp_multikey, PART_SUPP_MULTIKEY_SQL, "compound-key join (J5)"
    ),
    "order_priority_profile": QuerySpec(
        order_priority_profile, ORDER_PRIORITY_PROFILE_SQL, "conditional distinct counts (A8)"
    ),
    "customer_ltv_segments": QuerySpec(
        customer_ltv_segments, CUSTOMER_LTV_SEGMENTS_SQL, "CTE agg + CASE buckets (A10/P11)"
    ),
    "supplier_nation_revenue": QuerySpec(
        supplier_nation_revenue, SUPPLIER_NATION_REVENUE_SQL, "supplier dim chain"
    ),
    "dim_time_generate": QuerySpec(
        dim_time_generate, DIM_TIME_GENERATE_SQL, "row generator → DIM_TIME (S13/F11)"
    ),
}
