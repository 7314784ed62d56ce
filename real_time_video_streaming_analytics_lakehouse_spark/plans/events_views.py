"""The reference's 11-view analytics workload re-expressed over the
driver's generic ``events`` table (FIXTURES.md §6 mapping: user_id =
entity key, event_type = category, ts = timestamp, value = measure).

View correspondence (reference ``sql-scripts/snowflake/analytics_views.sql``):
  daily_active_users     ≙ V_DAILY_ACTIVE_USERS   (:9-24)
  user_cohorts           ≙ V_USER_COHORTS         (:27-60, J9 range join
                            rewritten as week-bucket arithmetic)
  user_segments          ≙ V_USER_SEGMENTS        (:63-102)
  event_type_rank        ≙ V_TOP_CONTENT          (:109-128, RANK W3)
  value_bucket_dropoff   ≙ V_CONTENT_DROPOFF      (:149-181, CASE buckets
                            P11 + percent-of-total W5)
  executive_kpis         ≙ V_EXECUTIVE_KPIS       (:256-295, cross join J4
                            + guarded growth ratios A9)
  weekly_revenue_growth  ≙ V_MRR_ANALYSIS         (:298-330, LAG W4)
  churn_risk             ≙ V_CHURN_RISK           (:333-375)

Plus the streaming aggregations' batch-equivalents (same grouping logic
the Structured Streaming pipelines emit — reference
``spark-jobs/real_time_streaming.py:273-403``) and the ETL-framework
operators (keep-latest dedup W1, window enrichment W2, sessionization/
rollup A1, MERGE upsert J7, single-pass DQ).

Determinism: all dates are anchored to AS_OF = 2024-01-31 (the test
corpus covers Jan 2024) instead of current_date(), per SURVEY §7.3(5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.dialect import epoch_us, floor_div, money_sum, window_start_sec
from ..operators.dedup import dedup_keep_latest
from ..operators.merge import merge_upsert
from ..operators.quality import dq_summary
from ..operators.sessionize import gap_sessionize, session_rollup
from ..sources.readers import load_table
from .catalog import QuerySpec

AS_OF_DATE = "2024-01-31"
AS_OF_TS = "2024-01-31 00:00:00"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# --- daily_active_users ---------------------------------------------------

def daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    is_type = lambda t: F.when(F.col("event_type") == t, 1)  # noqa: E731
    return e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count_distinct("user_id").alias("dau"),
        F.count("*").alias("total_events"),
        F.count(is_type("view")).alias("views"),
        F.count(is_type("click")).alias("clicks"),
        F.count(is_type("error")).alias("errors"),
        F.count_distinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("purchasers"),
        money_sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                0.0
            ),
            2,
        ).alias("revenue"),
        (F.count(is_type("error")) * 100.0 / F.count("*")).alias(
            "error_rate_pct"
        ),
    )


DAILY_ACTIVE_USERS_SQL = """
SELECT CAST(ts AS DATE) AS day,
       COUNT(DISTINCT user_id) AS dau,
       COUNT(*) AS total_events,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS views,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS errors,
       COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS purchasers,
       CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END AS DECIMAL(30,2))) AS DOUBLE) AS revenue,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) * 100.0 / COUNT(*) AS error_rate_pct
FROM events GROUP BY 1
"""


# --- user_cohorts ---------------------------------------------------------

def user_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    # first_seen has one row per user — scales with data; no broadcast
    # hint (AQE broadcasts at runtime when small enough).
    activity = e.join(first_seen, "user_id").select(
        "user_id",
        "cohort_week",
        F.floor(
            F.datediff(F.to_date("ts"), F.col("cohort_week")) / 7
        ).alias("weeks_since"),
    )
    return activity.groupBy("cohort_week", "weeks_since").agg(
        F.count_distinct("user_id").alias("active_users"),
        F.count("*").alias("events_cnt"),
    )


USER_COHORTS_SQL = """
WITH first_seen AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY 1),
activity AS (
  SELECT e.user_id, f.cohort_week,
         CAST(floor(date_diff('day', f.cohort_week, CAST(e.ts AS DATE)) / 7.0) AS BIGINT) AS weeks_since
  FROM events e JOIN first_seen f ON e.user_id = f.user_id)
SELECT cohort_week, weeks_since,
       COUNT(DISTINCT user_id) AS active_users,
       COUNT(*) AS events_cnt
FROM activity GROUP BY 1, 2
"""


# --- user_segments --------------------------------------------------------

def user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    per_user = e.groupBy("user_id").agg(
        F.count("*").alias("events_cnt"),
        F.count_distinct(F.to_date("ts")).alias("active_days"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
        money_sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                0.0
            ),
            2,
        ).alias("revenue"),
    )
    seg = per_user.withColumn(
        "segment",
        F.when(
            (F.col("purchases") >= 20) & (F.col("revenue") >= 3000), "vip"
        )
        .when(F.col("purchases") >= 5, "buyer")
        .when(F.col("events_cnt") >= 30, "engaged")
        .otherwise("casual"),
    )
    return seg.groupBy("segment").agg(
        F.count("*").alias("users"),
        (F.sum("events_cnt") / F.count("*")).alias("avg_events"),
        (money_sum(F.col("revenue"), 2) / F.count("*")).alias("avg_revenue"),
        F.sum("purchases").alias("total_purchases"),
    )


USER_SEGMENTS_SQL = """
WITH per_user AS (
  SELECT user_id, COUNT(*) AS events_cnt,
         COUNT(DISTINCT CAST(ts AS DATE)) AS active_days,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
         CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END AS DECIMAL(30,2))) AS DOUBLE) AS revenue
  FROM events GROUP BY 1)
SELECT CASE WHEN purchases >= 20 AND revenue >= 3000 THEN 'vip'
            WHEN purchases >= 5 THEN 'buyer'
            WHEN events_cnt >= 30 THEN 'engaged'
            ELSE 'casual' END AS segment,
       COUNT(*) AS users,
       SUM(events_cnt) / COUNT(*) AS avg_events,
       CAST(SUM(CAST(revenue AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_revenue,
       CAST(SUM(purchases) AS BIGINT) AS total_purchases
FROM per_user GROUP BY 1
"""


# --- event_type_rank (V_TOP_CONTENT shape) --------------------------------

def event_type_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V_TOP_CONTENT rank analog, plus the exact interpolated value
    percentiles (formerly the separate ``value_percentiles`` query,
    folded here so the catalog fits the driver's 50-query check
    window — same grouping, one aggregation pass).

    Scale note (exact ``F.percentile``): Spark's exact percentile
    buffers a value→count map per group (map-side combined), so its
    memory is O(distinct values per group), NOT O(rows). ``value`` is
    two-decimal money in a bounded range (~56k possible values), so
    the buffer is bounded at ANY corpus size and the exact aggregate
    is 100 TB-safe for this column. For genuinely continuous columns
    (unbounded distinct values) use ``percentile_approx`` — the
    sketch path already used by the quantile-gating operator
    (operators/text.py::filter_by_quantile)."""
    e = _events(spark, sf_dir)
    agg = e.groupBy("event_type").agg(
        F.count("*").alias("events_cnt"),
        F.count_distinct("user_id").alias("users"),
        money_sum(F.col("value"), 2).alias("total_value"),
        (money_sum(F.col("value"), 2) / F.count("*")).alias("avg_value"),
        F.percentile("value", F.lit(0.5)).alias("p50"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    return agg.withColumn(
        "value_rank", F.rank().over(Window.orderBy(F.col("total_value").desc()))
    ).withColumn(
        "volume_rank", F.rank().over(Window.orderBy(F.col("events_cnt").desc()))
    )


EVENT_TYPE_RANK_SQL = """
WITH t AS (
  SELECT event_type, COUNT(*) AS events_cnt, COUNT(DISTINCT user_id) AS users,
         CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value,
         CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_value,
         quantile_cont(value, 0.5) AS p50,
         quantile_cont(value, 0.95) AS p95,
         MIN(value) AS min_value,
         MAX(value) AS max_value
  FROM events GROUP BY 1)
SELECT event_type, events_cnt, users, total_value, avg_value,
       p50, p95, min_value, max_value,
       RANK() OVER (ORDER BY total_value DESC) AS value_rank,
       RANK() OVER (ORDER BY events_cnt DESC) AS volume_rank
FROM t
"""


# --- value_bucket_dropoff (CASE buckets + pct-of-total) -------------------

def value_bucket_dropoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    bucket = (
        F.when(F.col("value") < 50, "0-49")
        .when(F.col("value") < 100, "50-99")
        .when(F.col("value") < 200, "100-199")
        .when(F.col("value") < 300, "200-299")
        .when(F.col("value") < 400, "300-399")
        .otherwise("400+")
    )
    agg = e.groupBy(
        "event_type", bucket.alias("value_bucket")
    ).agg(F.count("*").alias("events_cnt"))
    w = Window.partitionBy("event_type")
    return agg.withColumn(
        "pct_of_type",
        F.col("events_cnt") * 100.0 / F.sum("events_cnt").over(w),
    )


VALUE_BUCKET_DROPOFF_SQL = """
WITH bucketed AS (
  SELECT event_type,
         CASE WHEN value < 50 THEN '0-49' WHEN value < 100 THEN '50-99'
              WHEN value < 200 THEN '100-199' WHEN value < 300 THEN '200-299'
              WHEN value < 400 THEN '300-399' ELSE '400+' END AS value_bucket
  FROM events)
SELECT event_type, value_bucket, COUNT(*) AS events_cnt,
       COUNT(*) * 100.0 / SUM(COUNT(*)) OVER (PARTITION BY event_type) AS pct_of_type
FROM bucketed GROUP BY 1, 2
"""


# --- executive_kpis (cross join + growth ratios) --------------------------

def executive_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)

    def period(start: str, end: str, prefix: str) -> DataFrame:
        return e.filter(
            (F.col("ts") >= F.lit(start).cast("timestamp_ntz"))
            & (F.col("ts") < F.lit(end).cast("timestamp_ntz"))
        ).agg(
            F.count("*").alias(f"{prefix}_events"),
            F.count_distinct("user_id").alias(f"{prefix}_active_users"),
            money_sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value")
                ).otherwise(0.0),
                2,
            ).alias(f"{prefix}_revenue"),
        )

    cur = period("2024-01-16 00:00:00", "2024-01-31 00:00:00", "cur")
    prev = period("2024-01-01 00:00:00", "2024-01-16 00:00:00", "prev")
    return cur.crossJoin(prev).select(
        "cur_events",
        "prev_events",
        "cur_active_users",
        "prev_active_users",
        "cur_revenue",
        "prev_revenue",
        (
            (F.col("cur_events") - F.col("prev_events"))
            * 100.0
            / F.col("prev_events")
        ).alias("events_growth_pct"),
        F.when(
            F.col("prev_revenue") > 0,
            (F.col("cur_revenue") - F.col("prev_revenue"))
            * 100.0
            / F.col("prev_revenue"),
        ).alias("revenue_growth_pct"),
    )


EXECUTIVE_KPIS_SQL = """
WITH cur AS (
  SELECT COUNT(*) AS cur_events, COUNT(DISTINCT user_id) AS cur_active_users,
         CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END AS DECIMAL(30,2))) AS DOUBLE) AS cur_revenue
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' AND ts < TIMESTAMP '2024-01-31 00:00:00'),
prev AS (
  SELECT COUNT(*) AS prev_events, COUNT(DISTINCT user_id) AS prev_active_users,
         CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END AS DECIMAL(30,2))) AS DOUBLE) AS prev_revenue
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-01-16 00:00:00')
SELECT cur_events, prev_events, cur_active_users, prev_active_users,
       cur_revenue, prev_revenue,
       (cur_events - prev_events) * 100.0 / prev_events AS events_growth_pct,
       CASE WHEN prev_revenue > 0
            THEN (cur_revenue - prev_revenue) * 100.0 / prev_revenue
       END AS revenue_growth_pct
FROM cur CROSS JOIN prev
"""


# --- weekly_revenue_growth (LAG analytics W4) -----------------------------

def weekly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    weekly = e.groupBy(
        "event_type",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
    ).agg(money_sum(F.col("value"), 2).alias("revenue"))
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        "event_type",
        "week",
        "revenue",
        prev.alias("prev_revenue"),
        (
            (F.col("revenue") - prev) * 100.0 / F.nullif(prev, F.lit(0.0))
        ).alias("wow_growth_pct"),
    )


WEEKLY_REVENUE_GROWTH_SQL = """
WITH weekly AS (
  SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
         CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS revenue
  FROM events GROUP BY 1, 2)
SELECT event_type, week, revenue,
       LAG(revenue) OVER (PARTITION BY event_type ORDER BY week) AS prev_revenue,
       (revenue - LAG(revenue) OVER (PARTITION BY event_type ORDER BY week)) * 100.0
             / NULLIF(LAG(revenue) OVER (PARTITION BY event_type ORDER BY week), 0) AS wow_growth_pct
FROM weekly
"""


# --- churn_risk -----------------------------------------------------------

def churn_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    last_active = e.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"), F.count("*").alias("lifetime_events")
    )
    days_inactive = F.datediff(
        F.lit(AS_OF_DATE).cast("date"), F.to_date("last_ts")
    )
    return last_active.select(
        "user_id",
        F.to_date("last_ts").alias("last_day"),
        days_inactive.alias("days_inactive"),
        "lifetime_events",
        F.when(days_inactive > 14, "high")
        .when(days_inactive > 7, "medium")
        .otherwise("low")
        .alias("churn_risk"),
    )


CHURN_RISK_SQL = f"""
WITH last_active AS (
  SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS lifetime_events
  FROM events GROUP BY 1)
SELECT user_id, CAST(last_ts AS DATE) AS last_day,
       CAST(date_diff('day', CAST(last_ts AS DATE), DATE '{AS_OF_DATE}') AS INTEGER) AS days_inactive,
       lifetime_events,
       CASE WHEN date_diff('day', CAST(last_ts AS DATE), DATE '{AS_OF_DATE}') > 14 THEN 'high'
            WHEN date_diff('day', CAST(last_ts AS DATE), DATE '{AS_OF_DATE}') > 7 THEN 'medium'
            ELSE 'low' END AS churn_risk
FROM last_active
"""


# --- device_analytics / platform_quality (V_DEVICE_ANALYTICS :188-205,
# V_PLATFORM_QUALITY :208-224) — the driver's events table has no device
# columns, so the device/platform dimension is DERIVED deterministically
# from user_id in BOTH engines (FIXTURES.md §6 fallback), preserving the
# views' aggregation shapes exactly.

def _device_col():
    # Built lazily: Column construction needs an active SparkContext,
    # and this module is imported before any session exists.
    return (
        F.when(F.col("user_id") % 5 == 0, "mobile")
        .when(F.col("user_id") % 5 == 1, "tablet")
        .when(F.col("user_id") % 5 == 2, "desktop")
        .when(F.col("user_id") % 5 == 3, "tv")
        .otherwise("gaming_console")
    )


def _platform_col():
    return (
        F.when(F.col("user_id") % 3 == 0, "web")
        .when(F.col("user_id") % 3 == 1, "ios")
        .otherwise("android")
    )
_DEVICE_SQL = """CASE WHEN user_id % 5 = 0 THEN 'mobile'
              WHEN user_id % 5 = 1 THEN 'tablet'
              WHEN user_id % 5 = 2 THEN 'desktop'
              WHEN user_id % 5 = 3 THEN 'tv'
              ELSE 'gaming_console' END"""
_PLATFORM_SQL = """CASE WHEN user_id % 3 = 0 THEN 'web'
              WHEN user_id % 3 = 1 THEN 'ios'
              ELSE 'android' END"""


def device_platform_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V_DEVICE_ANALYTICS and V_PLATFORM_QUALITY in one output, stacked
    by ``dim`` ('device' | 'platform') — both views share the same
    aggregation shape, so one rollup covers them (folded so the catalog
    fits the driver's 50-query check window). Each view remains fully
    represented: its dimension column becomes ``dim_value`` and every
    measure of BOTH original views is computed for both dimensions.

    Spark-first shape: GROUPING SETS ((device), (platform)) — ONE scan
    of events with an Expand feeding a single hash aggregate, instead
    of a two-scan union (halves fact-table IO at scale; the dimension
    domains are disjoint and non-null, so the active dimension of each
    output row is just the non-null grouping column)."""
    e = _events(spark, sf_dir)
    err = F.count(F.when(F.col("event_type") == "error", 1))
    views = F.count(F.when(F.col("event_type") == "view", 1))
    agg = (
        e.select("*", _device_col().alias("_device"), _platform_col().alias("_platform"))
        .groupingSets([["_device"], ["_platform"]], "_device", "_platform")
        .agg(
            F.count_distinct("user_id").alias("users"),
            F.count("*").alias("events_cnt"),
            err.alias("errors"),
            (err * 100.0 / F.count("*")).alias("error_rate_pct"),
            (views * 100.0 / F.count("*")).alias("view_rate_pct"),
            (money_sum(F.col("value"), 2) / F.count("*")).alias("avg_value"),
            money_sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value")
                ).otherwise(0.0),
                2,
            ).alias("revenue"),
        )
    )
    return agg.select(
        F.when(F.col("_device").isNotNull(), "device")
        .otherwise("platform")
        .alias("dim"),
        F.coalesce("_device", "_platform").alias("dim_value"),
        "users",
        "events_cnt",
        "errors",
        "error_rate_pct",
        "view_rate_pct",
        "avg_value",
        "revenue",
        F.coalesce("_device", "_platform")
        .isin("mobile", "tablet", "ios", "android")
        .cast("int")
        .alias("is_mobile_flag"),
    )


def _quality_rollup_sql(dim: str, dim_sql: str, mobile_list: str) -> str:
    return f"""
SELECT '{dim}' AS dim,
       {dim_sql} AS dim_value,
       COUNT(DISTINCT user_id) AS users,
       COUNT(*) AS events_cnt,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS errors,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) * 100.0 / COUNT(*) AS error_rate_pct,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) * 100.0 / COUNT(*) AS view_rate_pct,
       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_value,
       CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END AS DECIMAL(30,2))) AS DOUBLE) AS revenue,
       CASE WHEN {dim_sql} IN ({mobile_list}) THEN 1 ELSE 0 END AS is_mobile_flag
FROM events GROUP BY 2
"""


DEVICE_PLATFORM_QUALITY_SQL = (
    _quality_rollup_sql("device", _DEVICE_SQL, "'mobile', 'tablet'")
    + "UNION ALL"
    + _quality_rollup_sql("platform", _PLATFORM_SQL, "'ios', 'android'")
)


# --- purchase_attribution (batch analog of the stream-stream interval
# join, streaming/pipelines.py::purchase_attribution_stream): per-user
# purchase counts split by whether a same-user view preceded the
# purchase within 30 minutes. The attribution set uses a LEFT SEMI join
# (EXISTS) so multi-view purchases are not double-counted.
#
# The AS-OF arm (operators/temporal.py::asof_join): each purchase is
# matched to the single LATEST preceding view (union-merge
# + one per-key window — no range-join candidate blow-up), and
# ``asof_gap_us_total`` sums the view→purchase microsecond gaps of
# purchases whose latest view is within the 30-minute window. A
# purchase is attributed (EXISTS arm) iff its latest preceding view is
# within the window, so both arms agree on WHICH purchases count while
# the gap totals pin WHICH view the as-of join picked — exact integer
# arithmetic, oracled against DuckDB's native ASOF JOIN.

def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import asof_join

    e = _events(spark, sf_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"), F.col("ts").alias("view_ts")
    )
    cond = (
        (p.user_id == v.v_user_id)
        & (v.view_ts <= p.ts)
        & (v.view_ts >= p.ts - F.expr("INTERVAL 30 MINUTES"))
    )
    attributed = p.join(v, cond, "left_semi")
    totals = p.groupBy("user_id").agg(
        F.count("*").alias("purchases"),
        money_sum(F.col("value"), 2).alias("total_value"),
    )
    attr = attributed.groupBy("user_id").agg(
        F.count("*").alias("attributed_purchases"),
        money_sum(F.col("value"), 2).alias("attributed_value"),
    )
    latest_view = asof_join(
        p.select("user_id", "ts"),
        e.filter(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("view_ts")
        ),
        on="user_id",
        left_ts="ts",
        right_ts="view_ts",
        tolerance_us=1_800_000_000,
    )
    gap_us = epoch_us(F.col("ts")) - epoch_us(F.col("view_ts"))
    asof_attr = (
        latest_view.filter(F.col("view_ts").isNotNull())
        .groupBy("user_id")
        .agg(F.sum(gap_us).alias("asof_gap_us_total"))
    )
    return (
        totals.join(attr, "user_id", "left_outer")
        .join(asof_attr, "user_id", "left_outer")
        .select(
            "user_id",
            "purchases",
            "total_value",
            F.coalesce(F.col("attributed_purchases"), F.lit(0)).alias(
                "attributed_purchases"
            ),
            F.coalesce(F.col("attributed_value"), F.lit(0.0)).alias(
                "attributed_value"
            ),
            F.coalesce(
                F.col("asof_gap_us_total"), F.lit(0).cast("long")
            ).alias("asof_gap_us_total"),
        )
    )


PURCHASE_ATTRIBUTION_SQL = """
WITH p AS (
  SELECT user_id, event_id, ts, value FROM events
  WHERE event_type = 'purchase'),
a AS (
  SELECT * FROM p
  WHERE EXISTS (
    SELECT 1 FROM events v
    WHERE v.event_type = 'view' AND v.user_id = p.user_id
      AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 30 MINUTE)),
totals AS (
  SELECT user_id, COUNT(*) AS purchases,
         CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
  FROM p GROUP BY 1),
attr AS (
  SELECT user_id, COUNT(*) AS attributed_purchases,
         CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS attributed_value
  FROM a GROUP BY 1),
latest_view AS (
  SELECT p.user_id, p.ts, v.view_ts
  FROM p ASOF LEFT JOIN (
    SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view') v
    ON p.user_id = v.user_id AND v.view_ts <= p.ts),
asof_attr AS (
  SELECT user_id,
         CAST(SUM(epoch_us(ts) - epoch_us(view_ts)) AS BIGINT)
           AS asof_gap_us_total
  FROM latest_view
  WHERE view_ts IS NOT NULL
    AND epoch_us(ts) - epoch_us(view_ts) <= 1800000000
  GROUP BY 1)
SELECT totals.user_id, purchases, total_value,
       COALESCE(attributed_purchases, 0) AS attributed_purchases,
       COALESCE(attributed_value, 0.0) AS attributed_value,
       COALESCE(asof_attr.asof_gap_us_total, 0) AS asof_gap_us_total
FROM totals
LEFT JOIN attr ON totals.user_id = attr.user_id
LEFT JOIN asof_attr ON totals.user_id = asof_attr.user_id
"""


# --- daily_user_metrics gold (reference gold_daily_user_metrics,
# delta-lake/delta_setup.py:365-384) — the medallion gold rollup with
# ArrayType columns: device_types/countries are collect_set aggregates.
# Devices/countries are DERIVED per-event from event_id (the events
# table carries neither), so each (day, user) set is genuinely
# multi-element; arrays are sorted on both engines so value hashing is
# order-stable.

def _event_device_col():
    return (
        F.when(F.col("event_id") % 5 == 0, "mobile")
        .when(F.col("event_id") % 5 == 1, "tablet")
        .when(F.col("event_id") % 5 == 2, "desktop")
        .when(F.col("event_id") % 5 == 3, "tv")
        .otherwise("gaming_console")
    )


_EVENT_DEVICE_SQL = """CASE WHEN event_id % 5 = 0 THEN 'mobile'
              WHEN event_id % 5 = 1 THEN 'tablet'
              WHEN event_id % 5 = 2 THEN 'desktop'
              WHEN event_id % 5 = 3 THEN 'tv'
              ELSE 'gaming_console' END"""

_COUNTRIES = ["US", "GB", "DE", "FR", "JP", "BR", "IN"]


def _event_country_col():
    c = F.col("event_id") % 7
    expr = F.when(c == 0, _COUNTRIES[0])
    for i, name in enumerate(_COUNTRIES[1:-1], start=1):
        expr = expr.when(c == i, name)
    return expr.otherwise(_COUNTRIES[-1])


_EVENT_COUNTRY_SQL = (
    "CASE "
    + " ".join(
        f"WHEN event_id % 7 = {i} THEN '{n}'"
        for i, n in enumerate(_COUNTRIES[:-1])
    )
    + f" ELSE '{_COUNTRIES[-1]}' END"
)


def daily_user_metrics_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold daily-user-metrics rollup: per (day, user) engagement
    counters, a 30-min-bucket session count, revenue on the money grid,
    and sorted collect_set device/country/event-type arrays (the
    reference's gold schema keeps these as ARRAY columns —
    ``delta-lake/delta_setup.py:379-380``). One shuffle on the
    (day, user) grouping; collect_set states stay small (bounded label
    domains), so the agg is map-side combinable."""
    e = _events(spark, sf_dir)
    # The two COUNT(DISTINCT ...) aggregates are expressed as
    # size(collect_set(...)) — exactly equal values
    # (both ignore NULLs; cast back to the count's LONG), but the
    # single-pass set-aggregate plan replaces the planner's Expand
    # rewrite, which multiplied EVERY event row ×3 (one projection per
    # distinct column + one for the regular aggregates, each copy
    # carrying the wide device/country CASE strings) and needed a
    # second exchange. The set states stay bounded: event_type is a
    # label domain and a (day, user) group holds ≤48 distinct 30-min
    # buckets by construction, so this is safe at any scale — unlike a
    # user-id distinct, where collect_set state would grow with the
    # corpus (user_activity_5min deliberately keeps the two-phase
    # distinct plan for exactly that reason).
    return e.groupBy(F.to_date("ts").alias("day"), F.col("user_id")).agg(
        F.count("*").alias("interaction_events"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias(
            "videos_watched"
        ),
        F.size(F.collect_set("event_type")).cast("long").alias(
            "unique_content_types"
        ),
        F.size(
            F.collect_set(floor_div(epoch_us(F.col("ts")), 1_800_000_000))
        ).cast("long").alias("sessions_count"),
        money_sum(
            F.when(
                F.col("event_type") == "purchase", F.col("value")
            ).otherwise(0.0),
            2,
        ).alias("revenue"),
        F.array_sort(F.collect_set(_event_device_col())).alias(
            "device_types"
        ),
        F.array_sort(F.collect_set(_event_country_col())).alias("countries"),
        F.array_sort(F.collect_set("event_type")).alias("event_types"),
    )


def daily_user_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gradeable projection of :func:`daily_user_metrics_gold`:
    the ARRAY columns are emitted as '|'-joined sorted strings because
    the driver's pandas-based hasher cannot hash list cells
    (``TypeError: unhashable type: 'list'``). The gold operator keeps
    real ArrayType columns; only this catalog surface stringifies.
    Also the catalog home of the collect_set/array-agg evidence (F16,
    formerly the separate ``user_event_type_sets`` query — folded here
    so the whole catalog fits the driver's 50-query check window)."""
    gold = daily_user_metrics_gold(spark, sf_dir)
    return gold.select(
        "day",
        "user_id",
        "interaction_events",
        "videos_watched",
        "unique_content_types",
        "sessions_count",
        "revenue",
        F.concat_ws("|", "device_types").alias("device_types"),
        F.concat_ws("|", "countries").alias("countries"),
        F.concat_ws("|", "event_types").alias("event_types"),
    )


DAILY_USER_METRICS_SQL = f"""
SELECT CAST(ts AS DATE) AS day,
       user_id,
       COUNT(*) AS interaction_events,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS videos_watched,
       COUNT(DISTINCT event_type) AS unique_content_types,
       COUNT(DISTINCT epoch_us(ts) // 1800000000) AS sessions_count,
       CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END AS DECIMAL(30,2))) AS DOUBLE) AS revenue,
       array_to_string(list_sort(list_distinct(list({_EVENT_DEVICE_SQL}))), '|') AS device_types,
       array_to_string(list_sort(list_distinct(list({_EVENT_COUNTRY_SQL}))), '|') AS countries,
       array_to_string(list_sort(list_distinct(list(event_type))), '|') AS event_types
FROM events GROUP BY 1, 2
"""


def content_trends_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V_CONTENT_TRENDS analog with an explicit window FRAME (the one
    thing the reference's windows never customize — SURVEY §2.5 note):
    trailing-7-day moving average via ROWS BETWEEN 6 PRECEDING."""
    e = _events(spark, sf_dir)
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("events_cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        "events_cnt",
        (F.sum("events_cnt").over(w) / F.count("*").over(w)).alias(
            "trailing_7d_avg"
        ),
    )


CONTENT_TRENDS_DAILY_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS events_cnt
  FROM events GROUP BY 1, 2)
SELECT event_type, day, events_cnt,
       SUM(events_cnt) OVER w * 1.0 / COUNT(*) OVER w AS trailing_7d_avg
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


# --- props_key_distribution (JSON parse S2-analog) ------------------------

def props_key_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-key distribution, plus the COUNT-MIN-SKETCH arm
    (operators/sketches.py::cms_build/cms_estimate): a CMS over each
    group's ``event_type`` values and the sketch's frequency estimate
    for the probe value ``'click'``. The bucket hash is md5-derived
    (60 hex bits mod width — the same engine-portable content-hash
    technique as sampling.py), so the ENTIRE sketch is bit-reproducible
    in SQL and the estimate — buckets, collisions and all — is driver-
    oracled, not just its never-undercounts bound."""
    from ..operators.sketches import cms_build, cms_estimate

    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    base = e.select((k % 10).alias("k_mod"), "event_type", "value")
    rollup = base.groupBy("k_mod").agg(
        F.count("*").alias("events_cnt"),
        (money_sum(F.col("value"), 2) / F.count("*")).alias("avg_value"),
    )
    sketch = cms_build(base, keys=["k_mod"], value_col="event_type")
    probes = base.select("k_mod").distinct().withColumn(
        "event_type", F.lit("click")
    )
    est = cms_estimate(
        sketch, probes, keys=["k_mod"], value_col="event_type",
        estimate_col="cms_click_est",
    ).select("k_mod", "cms_click_est")
    cond = rollup["k_mod"].eqNullSafe(est["k_mod"])
    return rollup.join(est, cond).select(
        rollup["k_mod"], "events_cnt", "avg_value", "cms_click_est"
    )


# CMS oracle: depth=5, width=2048, seed=0x5EED ('24301' as a string);
# est(group) = min over hash rows d of the group's rows whose value
# lands in the probe's (d, bucket) — the sketch counter, closed-form.
PROPS_KEY_DISTRIBUTION_SQL = """
WITH base AS (
  SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
         event_type, value
  FROM events),
rollup AS (
  SELECT k_mod, COUNT(*) AS events_cnt,
         CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_value
  FROM base GROUP BY 1),
rows_d AS (SELECT UNNEST(generate_series(0, 4)) AS d),
buckets AS (
  SELECT b.k_mod, r.d,
         CAST(SUM(CASE WHEN
             CAST(('0x' || substr(md5('24301|' || r.d || '|' || b.event_type), 1, 15)) AS BIGINT) % 2048
           = CAST(('0x' || substr(md5('24301|' || r.d || '|click'), 1, 15)) AS BIGINT) % 2048
           THEN 1 ELSE 0 END) AS BIGINT) AS cnt
  FROM base b CROSS JOIN rows_d r
  WHERE b.event_type IS NOT NULL
  GROUP BY 1, 2),
est AS (SELECT k_mod, MIN(cnt) AS cms_click_est FROM buckets GROUP BY 1)
SELECT rollup.k_mod, events_cnt, avg_value, cms_click_est
FROM rollup JOIN est ON rollup.k_mod IS NOT DISTINCT FROM est.k_mod
"""


# --- streaming batch-equivalents (A2/A4, T2 tumbling windows) -------------

def user_activity_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling AND sliding 5-minute activity windows in one output,
    distinguished by ``window_kind`` (folded so the catalog fits the
    driver's 50-query check window; both remain the batch analogs of
    the A2 streaming pipeline).

    * tumbling: epoch-bucket arithmetic (`window_start_sec`).
    * sliding (1-min slide): native ``F.window(ts, len, slide)`` assigns
      every event to len/slide = 5 overlapping windows; the oracle
      enumerates exactly those five starts per event
      ((us DIV 60e6 - k) for k in 0..4). Emitted as epoch seconds so
      hashing is engine-neutral."""
    e = _events(spark, sf_dir)
    aggs = [
        F.count("*").alias("events_cnt"),
        F.count_distinct("user_id").alias("users"),
        money_sum(F.col("value"), 2).alias("total_value"),
    ]
    tumbling = e.groupBy(
        window_start_sec("ts", 300).alias("window_start_sec"),
        "event_type",
    ).agg(*aggs).withColumn("window_kind", F.lit("tumbling"))
    # Shuffle narrower types: ``F.window(ts, 5 min, 1 min)`` in the
    # sliding arm would make its Expand carry a struct<timestamp,
    # timestamp> grouping key through both distinct-aggregate
    # exchanges. An event at t lies in window start s iff
    # s = minute_floor(t) − k minutes for k ∈ 0..4, so the five
    # assignments are one explode over k with an 8-byte LONG key —
    # exactly the oracle's formulation ((epoch_us // 60e6 − k) · 60),
    # same rows by construction.
    sliding = (
        e.select(
            "ts", "event_type", "user_id", "value",
            F.explode(F.sequence(F.lit(0), F.lit(4))).alias("_k"),
        )
        .groupBy(
            (
                (floor_div(epoch_us(F.col("ts")), 60_000_000) - F.col("_k"))
                * 60
            ).alias("window_start_sec"),
            F.col("event_type"),
        )
        .agg(*aggs)
        .withColumn("window_kind", F.lit("sliding"))
    )
    return tumbling.unionByName(sliding)


USER_ACTIVITY_5MIN_SQL = """
SELECT (epoch_us(ts) // 300000000) * 300 AS window_start_sec,
       event_type,
       COUNT(*) AS events_cnt,
       COUNT(DISTINCT user_id) AS users,
       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value,
       'tumbling' AS window_kind
FROM events GROUP BY 1, 2
UNION ALL
SELECT (epoch_us(ts) // 60000000 - k) * 60 AS window_start_sec,
       event_type,
       COUNT(*) AS events_cnt,
       COUNT(DISTINCT user_id) AS users,
       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value,
       'sliding' AS window_kind
FROM events, unnest(generate_series(0, 4)) AS t(k)
GROUP BY 1, 2
"""


def content_popularity_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch equivalent of the content-popularity stream (A3,
    real_time_streaming.py:314-345): 10-min tumbling window, conditional
    sums, max, and the derived engagement ratio."""
    e = _events(spark, sf_dir)
    purchases = F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
    views = F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
    agg = e.groupBy(
        window_start_sec("ts", 600).alias("window_start_sec")
    ).agg(
        F.count("*").alias("events_cnt"),
        F.count_distinct("user_id").alias("users"),
        purchases.alias("purchases"),
        views.alias("views"),
        F.max("value").alias("max_value"),
    )
    return agg.withColumn(
        "purchase_per_view",
        F.when(F.col("views") > 0, F.col("purchases") / F.col("views")),
    )


CONTENT_POPULARITY_10MIN_SQL = """
SELECT (epoch_us(ts) // 600000000) * 600 AS window_start_sec,
       COUNT(*) AS events_cnt,
       COUNT(DISTINCT user_id) AS users,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
       MAX(value) AS max_value,
       CASE WHEN SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
            THEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 * 1.0 / SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
       END AS purchase_per_view
FROM events GROUP BY 1
"""


# daily_rollup_totals (ROLLUP grouping sets) was folded into
# extended.star_schema_monthly, whose final aggregation now runs as a
# ROLLUP, so the catalog fits the driver's 50-query check window.


def anomaly_1min(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = e.groupBy(
        "user_id", window_start_sec("ts", 60).alias("window_start_sec")
    ).agg(
        F.count("*").alias("events_cnt"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("errors"),
    )
    anomaly = (
        F.when((F.col("events_cnt") >= 2) & (F.col("errors") >= 1), "error_burst")
        .when(F.col("events_cnt") >= 2, "high_activity")
        .when(F.col("errors") >= 1, "error")
    )
    return w.withColumn("anomaly_type", anomaly).filter(
        (F.col("events_cnt") >= 2) | (F.col("errors") >= 1)
    )


ANOMALY_1MIN_SQL = """
WITH w AS (
  SELECT user_id, (epoch_us(ts) // 60000000) * 60 AS window_start_sec,
         COUNT(*) AS events_cnt,
         COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS errors
  FROM events GROUP BY 1, 2)
SELECT user_id, window_start_sec, events_cnt, errors,
       CASE WHEN events_cnt >= 2 AND errors >= 1 THEN 'error_burst'
            WHEN events_cnt >= 2 THEN 'high_activity'
            WHEN errors >= 1 THEN 'error' END AS anomaly_type
FROM w WHERE events_cnt >= 2 OR errors >= 1
"""


# --- ETL-framework operators over events ----------------------------------

def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    kept = dedup_keep_latest(e, ["user_id"], "ts", tiebreak=["event_id"])
    return kept.select(
        "user_id",
        "event_id",
        epoch_us(F.col("ts")).alias("ts_us"),
        "event_type",
        "value",
    )


LATEST_EVENT_PER_USER_SQL = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
"""


def user_event_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    first_us = epoch_us(F.min("ts").over(w))
    last_us = epoch_us(F.max("ts").over(w))
    return e.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("user_event_count"),
        first_us.alias("first_ts_us"),
        last_us.alias("last_ts_us"),
        ((last_us - first_us) / F.lit(1_000_000)).cast("long").alias(
            "user_span_sec"
        ),
    )


USER_EVENT_ENRICHMENT_SQL = """
SELECT event_id, user_id,
       COUNT(*) OVER (PARTITION BY user_id) AS user_event_count,
       epoch_us(MIN(ts) OVER (PARTITION BY user_id)) AS first_ts_us,
       epoch_us(MAX(ts) OVER (PARTITION BY user_id)) AS last_ts_us,
       (epoch_us(MAX(ts) OVER (PARTITION BY user_id))
        - epoch_us(MIN(ts) OVER (PARTITION BY user_id))) // 1000000 AS user_span_sec
FROM events
"""


def session_rollup_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    return session_rollup(gap_sessionize(e, gap_sec=1800))


def sessionize_rollup(
    spark: SparkSession,
    sf_dir: str,
    arms: tuple[str, ...] = ("gap_lag", "native_window"),
) -> DataFrame:
    """Both sessionization paths stacked by ``method`` (one catalog
    entry for both, so the catalog fits the driver's 50-query
    window):

    * ``gap_lag``: the LAG + running-sum rewrite
      (:func:`..operators.sessionize.gap_sessionize`, splits when
      gap > timeout),
    * ``native_window``: ``F.session_window`` (splits when gap >=
      timeout — each event holds the window open for [ts, ts+gap)).

    Both arms run end-to-end and project to the common session schema;
    the boundary-semantics difference (> vs >=) is visible in the
    per-arm rows and mirrored in the oracle. The arm-specific columns
    (``session_num``/``duration_sec``) remain on the un-stacked
    builders, which tests cover directly.

    ``arms`` (the per-arm attribution knob, same contract as the dedup
    entries): single-arm runs are row-identical to the fused
    result's slice (test-pinned), so the scale probe attributes growth
    per sessionization strategy."""
    builders = {
        "gap_lag": lambda: session_rollup_30min(spark, sf_dir).select(
            F.lit("gap_lag").alias("method"),
            "user_id",
            F.col("start_us").alias("session_start_us"),
            F.col("end_us").alias("session_end_us"),
            "events",
            "distinct_event_types",
            "total_value",
            "purchases",
        ),
        "native_window": lambda: session_window_rollup(
            spark, sf_dir
        ).select(
            F.lit("native_window").alias("method"),
            "user_id",
            "session_start_us",
            "session_end_us",
            "events",
            "distinct_event_types",
            "total_value",
            "purchases",
        ),
    }
    unknown = set(arms) - set(builders)
    if unknown:
        raise ValueError(f"unknown arms {sorted(unknown)}")
    if not arms:
        raise ValueError("arms must name at least one session strategy")
    out = None
    for a in arms:
        part = builders[a]()
        out = part if out is None else out.unionByName(part)
    return out


def session_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` sessionization — the Spark-first
    expression of what :func:`..operators.sessionize.gap_sessionize`
    builds with window functions. Boundary semantics differ by one
    instant: a session window closes when the gap is >= the timeout
    (each event holds the window open for [ts, ts+gap)), while the
    LAG-based rewrite splits only when gap > timeout; the oracle
    mirrors the native (>=) rule. One shuffle on user_id; window
    merging happens inside the session-window aggregation."""
    e = _events(spark, sf_dir)
    w = F.session_window(F.col("ts"), "30 minutes")
    return (
        e.groupBy(F.col("user_id"), w.alias("sw"))
        .agg(
            F.count("*").alias("events"),
            F.count_distinct("event_type").alias("distinct_event_types"),
            money_sum(F.col("value"), 2).alias("total_value"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "purchases"
            ),
        )
        .select(
            "user_id",
            epoch_us(F.col("sw.start")).alias("session_start_us"),
            epoch_us(F.col("sw.end")).alias("session_end_us"),
            "events",
            "distinct_event_types",
            "total_value",
            "purchases",
        )
    )


SESSION_WINDOW_ROLLUP_SQL = """
WITH marked AS (
  SELECT user_id, event_type, value, epoch_us(ts) AS us,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000 THEN 1
              ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
sess AS (
  SELECT *, SUM(new_sess) OVER (
      PARTITION BY user_id ORDER BY us
      ROWS UNBOUNDED PRECEDING) AS session_num
  FROM marked)
SELECT user_id,
       MIN(us) AS session_start_us,
       MAX(us) + 1800000000 AS session_end_us,
       COUNT(*) AS events,
       COUNT(DISTINCT event_type) AS distinct_event_types,
       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases
FROM sess GROUP BY user_id, session_num
"""


SESSION_ROLLUP_30MIN_SQL = """
WITH marked AS (
  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000 THEN 1
              ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
sess AS (
  SELECT *, CAST(SUM(new_sess) OVER (
      PARTITION BY user_id ORDER BY us, event_id
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_num
  FROM marked)
SELECT user_id, session_num,
       COUNT(*) AS events,
       COUNT(DISTINCT event_type) AS distinct_event_types,
       MIN(us) AS start_us,
       MAX(us) AS end_us,
       (MAX(us) - MIN(us)) // 1000000 AS duration_sec,
       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases
FROM sess GROUP BY 1, 2
"""


# the stacked oracle projects both arm SQLs to the common session schema
SESSIONIZE_ROLLUP_SQL = f"""
WITH gap_arm AS ({SESSION_ROLLUP_30MIN_SQL}),
native_arm AS ({SESSION_WINDOW_ROLLUP_SQL})
SELECT 'gap_lag' AS method, user_id,
       start_us AS session_start_us, end_us AS session_end_us,
       events, distinct_event_types, total_value, purchases
FROM gap_arm
UNION ALL
SELECT 'native_window' AS method, user_id,
       session_start_us, session_end_us,
       events, distinct_event_types, total_value, purchases
FROM native_arm
"""


def merge_upsert_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-driven incremental MERGE (the reference's incremental-
    extract pattern, etl_framework.py:216-249, composed with its MERGE
    upsert): the target holds the first 20 days; the source is every
    event above ``max(target.ts) - 10 days`` — a late-arriving
    reprocess window, so the merge exercises BOTH branches (updates in
    the overlap, inserts after the watermark). The watermark is a
    1-row global-max aggregate collected at the driver (A6/P5 — the
    same bounded driver boundary the reference uses; formerly the
    separate ``incremental_extract`` query, folded here so the catalog
    fits the driver's 50-query check window)."""
    import datetime

    e = _events(spark, sf_dir)
    split_ts = F.lit("2024-01-21 00:00:00").cast("timestamp_ntz")
    target = e.filter(F.col("ts") < split_ts).select(
        "event_id", "user_id", "event_type", "value", F.lit("target").alias("src")
    )
    last_ts = e.filter(F.col("ts") < split_ts).agg(F.max("ts")).collect()[0][0]
    if last_ts is None:
        # No loaded history → NULL watermark. Mirror the oracle's SQL
        # semantics (ts >= NULL is never true): empty source, so the
        # merge degrades to the (empty) target instead of crashing on
        # None - timedelta.
        source_pred = F.lit(False)
    else:
        source_pred = F.col("ts") >= F.lit(
            last_ts - datetime.timedelta(days=10)
        )
    source = e.filter(source_pred).select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 2, 2).alias("value"),
        F.lit("source").alias("src"),
    )
    return merge_upsert(target, source, ["event_id"])


MERGE_UPSERT_EVENTS_SQL = """
WITH wm AS (
  SELECT MAX(ts) - INTERVAL 10 DAY AS reprocess_from
  FROM events WHERE ts < TIMESTAMP '2024-01-21 00:00:00'),
target AS (
  SELECT event_id, user_id, event_type, value, 'target' AS src
  FROM events WHERE ts < TIMESTAMP '2024-01-21 00:00:00'),
source AS (
  SELECT event_id, user_id, event_type, ROUND(value * 2, 2) AS value, 'source' AS src
  FROM events WHERE ts >= (SELECT reprocess_from FROM wm))
SELECT * FROM source
UNION ALL
SELECT t.* FROM target t
WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.event_id = t.event_id)
"""


#: per-topic JSON schemas the registry arm registers (the reference's
#: kafka-setup/topics.py:599-663 shape: required event/identity fields
#: per topic subject).
_REG_SCHEMA = {
    "type": "object",
    "properties": {
        "event_id": {"type": "integer"},
        "event_type": {"type": "string"},
        "user_id": {"type": "integer"},
    },
    "required": ["event_id", "event_type", "user_id"],
}


def dq_validation_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass DQ profile + the SCHEMA-REGISTRY INGEST arm
    (:mod:`..sources.registry`; reference
    kafka-setup/topics.py:76-165,599-663): events are re-serialized as
    per-topic Kafka-style JSON payloads with DETERMINISTICALLY planted
    producer defects (event_id % 31 == 3 → truncated JSON, event_id %
    23 == 0 → required ``user_id`` omitted; to_json drops null fields,
    so a genuinely-null user_id routes the same way), pushed through
    ``annotate_against_registry`` (click/view → ``video_events``,
    signup/purchase → ``user_interactions``, both registered; error →
    ``ad_events``, unregistered → DLQ), and the routing counts fold
    into the same 1-row summary via 1×1 cross joins (the
    executive_kpis precedent). ``reg_parsed_event_id_sum`` totals the
    PARSED payload ids over the typed good frames (pins that from_json
    really extracted values, not just routed rows);
    ``reg_dlq_repair_event_id_sum`` re-parses the quarantined
    missing-field payloads the way a repair job would (their ids are
    still extractable — nothing was dropped). The DuckDB oracle
    re-derives every count ARITHMETICALLY from the source columns
    (never building JSON), so the whole parse→validate→route→flatten
    pipeline is checked against an independent derivation.

    Plan shape: the base DQ profile AND every registry counter ride
    ONE aggregate over ONE annotated projection of ``events`` — one
    scan total, not one each for the base profile, the routes and the
    two good-topic aggs, each recomputing the to_json→from_json
    projection. The payload column is named ``payload`` so
    the raw ``value`` double survives for the base null profile."""
    from ..sources.registry import (
        SchemaRegistry,
        annotate_against_registry,
        parsed_col_name,
    )

    e = _events(spark, sf_dir)
    reg = SchemaRegistry()
    reg.register("video_events-value", _REG_SCHEMA)
    reg.register("user_interactions-value", _REG_SCHEMA)
    raw = e.select(
        "event_id",
        "user_id",
        "value",
        "event_type",
        "ts",
        F.when(F.col("event_type").isin("click", "view"), "video_events")
        .when(
            F.col("event_type").isin("signup", "purchase"),
            "user_interactions",
        )
        .otherwise("ad_events")
        .alias("topic"),
        F.when(F.col("event_id") % 31 == 3, F.lit('{"event_id":'))
        .when(
            F.col("event_id") % 23 == 0,
            F.to_json(F.struct("event_id", "event_type")),
        )
        .otherwise(F.to_json(F.struct("event_id", "event_type", "user_id")))
        .alias("payload"),
    )
    ann = annotate_against_registry(
        raw, reg, value_col="payload", keep_parsed=True
    )
    # from_json-extracted id (NOT the source event_id column): pins
    # that the registry parse really extracted payload values. The
    # gate's own staged parse structs are reused (keep_parsed), so
    # this is a GetStructField, not a second JSON parse per row.
    parsed_id = F.when(
        F.col("topic") == "video_events",
        ann[parsed_col_name("video_events-value")].getField("event_id"),
    ).when(
        F.col("topic") == "user_interactions",
        ann[parsed_col_name("user_interactions-value")].getField("event_id"),
    )

    def routed(topic, errors):
        hit = (F.col("topic") == topic) & (F.col("_dq_errors") == errors)
        return F.count(F.when(hit, F.lit(1)))

    return dq_summary(
        ann,
        not_null_cols=["user_id", "value", "event_type"],
        id_col="event_id",
        future_ts_col="ts",
        as_of=AS_OF_TS,
        extra_aggs=[
            routed("video_events", "").alias("reg_video_valid"),
            routed("user_interactions", "").alias("reg_ui_valid"),
            routed("video_events", "missing:user_id").alias(
                "reg_video_missing"
            ),
            routed("video_events", "malformed_json").alias(
                "reg_video_malformed"
            ),
            routed("user_interactions", "missing:user_id").alias(
                "reg_ui_missing"
            ),
            routed("user_interactions", "malformed_json").alias(
                "reg_ui_malformed"
            ),
            F.count(
                F.when(F.col("_dq_errors") == "unregistered_topic", 1)
            ).alias("reg_unregistered"),
            F.sum(
                F.when(
                    F.col("_dq_errors") == "missing:user_id",
                    F.get_json_object("payload", "$.event_id").cast("long"),
                )
            ).alias("reg_dlq_repair_event_id_sum"),
            F.sum(F.when(F.col("_dq_valid") == 1, parsed_id)).alias(
                "reg_parsed_event_id_sum"
            ),
        ],
    )


DQ_VALIDATION_EVENTS_SQL = f"""
WITH reg AS (
  SELECT event_id, user_id,
         CASE WHEN event_type IN ('click', 'view') THEN 'video_events'
              WHEN event_type IN ('signup', 'purchase')
                THEN 'user_interactions'
              ELSE 'ad_events' END AS topic,
         CASE WHEN event_id % 31 = 3 THEN 'malformed'
              WHEN event_id % 23 = 0 OR user_id IS NULL THEN 'missing'
              ELSE 'valid' END AS st
  FROM events),
reg_agg AS (
  SELECT CAST(COUNT(CASE WHEN topic = 'video_events' AND st = 'valid'
                         THEN 1 END) AS BIGINT) AS reg_video_valid,
         CAST(COUNT(CASE WHEN topic = 'user_interactions' AND st = 'valid'
                         THEN 1 END) AS BIGINT) AS reg_ui_valid,
         CAST(COUNT(CASE WHEN topic = 'video_events' AND st = 'missing'
                         THEN 1 END) AS BIGINT) AS reg_video_missing,
         CAST(COUNT(CASE WHEN topic = 'video_events' AND st = 'malformed'
                         THEN 1 END) AS BIGINT) AS reg_video_malformed,
         CAST(COUNT(CASE WHEN topic = 'user_interactions' AND st = 'missing'
                         THEN 1 END) AS BIGINT) AS reg_ui_missing,
         CAST(COUNT(CASE WHEN topic = 'user_interactions'
                          AND st = 'malformed'
                         THEN 1 END) AS BIGINT) AS reg_ui_malformed,
         CAST(COUNT(CASE WHEN topic = 'ad_events' THEN 1 END) AS BIGINT)
           AS reg_unregistered,
         CAST(SUM(CASE WHEN topic <> 'ad_events' AND st = 'missing'
                       THEN event_id END) AS BIGINT)
           AS reg_dlq_repair_event_id_sum,
         CAST(SUM(CASE WHEN topic <> 'ad_events' AND st = 'valid'
                       THEN event_id END) AS BIGINT)
           AS reg_parsed_event_id_sum
  FROM reg)
SELECT total_rows, null_user_id, null_value, null_event_type, future_ts,
       duplicate_ids, valid_pct,
       reg_video_valid, reg_ui_valid, reg_video_missing,
       reg_video_malformed, reg_ui_missing, reg_ui_malformed,
       reg_unregistered, reg_dlq_repair_event_id_sum,
       reg_parsed_event_id_sum
FROM (
  SELECT COUNT(*) AS total_rows,
         COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS null_user_id,
         COUNT(CASE WHEN value IS NULL THEN 1 END) AS null_value,
         COUNT(CASE WHEN event_type IS NULL THEN 1 END) AS null_event_type,
         COUNT(CASE WHEN ts > TIMESTAMP '{AS_OF_TS}' THEN 1 END) AS future_ts,
         COUNT(*) - COUNT(DISTINCT event_id) AS duplicate_ids,
         ROUND((COUNT(*) - COUNT(CASE WHEN user_id IS NULL OR value IS NULL
                                        OR event_type IS NULL THEN 1 END))
               * 100.0 / COUNT(*), 4) AS valid_pct
  FROM events) CROSS JOIN reg_agg
"""


QUERIES: dict[str, QuerySpec] = {
    "daily_active_users": QuerySpec(
        daily_active_users, DAILY_ACTIVE_USERS_SQL, "V_DAILY_ACTIVE_USERS analog"
    ),
    "user_cohorts": QuerySpec(
        user_cohorts, USER_COHORTS_SQL, "V_USER_COHORTS (J9 → week buckets)"
    ),
    "user_segments": QuerySpec(
        user_segments, USER_SEGMENTS_SQL, "V_USER_SEGMENTS CASE segmentation"
    ),
    "event_type_rank": QuerySpec(
        event_type_rank, EVENT_TYPE_RANK_SQL, "V_TOP_CONTENT rank (W3)"
    ),
    "value_bucket_dropoff": QuerySpec(
        value_bucket_dropoff, VALUE_BUCKET_DROPOFF_SQL, "V_CONTENT_DROPOFF (P11+W5)"
    ),
    "executive_kpis": QuerySpec(
        executive_kpis, EXECUTIVE_KPIS_SQL, "V_EXECUTIVE_KPIS cross join (J4+A9)"
    ),
    "weekly_revenue_growth": QuerySpec(
        weekly_revenue_growth, WEEKLY_REVENUE_GROWTH_SQL, "V_MRR_ANALYSIS LAG (W4)"
    ),
    "churn_risk": QuerySpec(churn_risk, CHURN_RISK_SQL, "V_CHURN_RISK"),
    "props_key_distribution": QuerySpec(
        props_key_distribution, PROPS_KEY_DISTRIBUTION_SQL, "JSON parse (S2 analog)"
    ),
    "device_platform_quality": QuerySpec(
        device_platform_quality,
        DEVICE_PLATFORM_QUALITY_SQL,
        "V_DEVICE_ANALYTICS + V_PLATFORM_QUALITY analogs, stacked by dim",
    ),
    "content_trends_daily": QuerySpec(
        content_trends_daily,
        CONTENT_TRENDS_DAILY_SQL,
        "V_CONTENT_TRENDS analog w/ explicit ROWS frame",
    ),
    "daily_user_metrics": QuerySpec(
        daily_user_metrics,
        DAILY_USER_METRICS_SQL,
        "gold daily_user_metrics w/ collect_set array columns",
    ),
    "purchase_attribution": QuerySpec(
        purchase_attribution,
        PURCHASE_ATTRIBUTION_SQL,
        "interval-join view→purchase attribution (stream-stream batch "
        "analog, LEFT SEMI dedup)",
    ),
    "sessionize_rollup": QuerySpec(
        sessionize_rollup,
        SESSIONIZE_ROLLUP_SQL,
        "sessionize + rollup (A1), LAG-rewrite and native "
        "F.session_window arms stacked by method",
    ),
    "user_activity_5min": QuerySpec(
        user_activity_5min,
        USER_ACTIVITY_5MIN_SQL,
        "5-min tumbling + 1-min-slide sliding windows (A2 batch, T2), "
        "stacked by window_kind",
    ),
    "content_popularity_10min": QuerySpec(
        content_popularity_10min,
        CONTENT_POPULARITY_10MIN_SQL,
        "10-min popularity windows + engagement ratio (A3 batch)",
    ),
    "anomaly_1min": QuerySpec(
        anomaly_1min, ANOMALY_1MIN_SQL, "1-min anomaly windows (A4 batch)"
    ),
    "latest_event_per_user": QuerySpec(
        latest_event_per_user, LATEST_EVENT_PER_USER_SQL, "keep-latest dedup (W1)"
    ),
    "user_event_enrichment": QuerySpec(
        user_event_enrichment, USER_EVENT_ENRICHMENT_SQL, "partition windows (W2)"
    ),
    "merge_upsert_events": QuerySpec(
        merge_upsert_events,
        MERGE_UPSERT_EVENTS_SQL,
        "watermark-driven incremental MERGE upsert (J7 + P5/A6)",
    ),
    "dq_validation_events": QuerySpec(
        dq_validation_events, DQ_VALIDATION_EVENTS_SQL, "single-pass DQ profile"
    ),
}
