"""Extended coverage: cleaning transforms, the multimodal decode /
resize / frame-sampling pipeline, window-function coverage (W6), the
star-schema warehouse path with ROLLUP grouping sets, and set ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.dialect import money_sum
from ..operators.multimodal import attach_fake_media
from ..operators.transforms import clean_and_standardize
from ..sources.readers import load_table
from .catalog import QuerySpec


# --- clean_standardize_customers (F2-F5: trim / empty→NULL / upper / IP) --

def clean_standardize_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty columns are derived deterministically from ``customer`` in
    BOTH engines (padding, lowercasing, injected bad IPs), then cleaned
    with the reference's pipeline (etl_framework.py:337-365).

    The PII arm (``operators/text.py::pii_counts`` /
    ``redact_pii``): a deterministic ``notes_raw`` contact blob is
    synthesized per customer — one email always, a second on every 4th
    key, a phone on every 2nd, an IP always (the real corpus contains
    no PII, so the arm PLANTS it, the same anchor technique as
    hash_dedup_candidates' injected duplicates) — then the per-pattern
    detection counts and the fully redacted text are emitted and
    hash-compared against DuckDB's RE2 recomputation, pinning the
    Java-regex ∩ RE2 pattern-subset parity end-to-end."""
    from ..operators.text import pii_counts, redact_pii

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    dirty = cust.select(
        "c_custkey",
        F.concat(F.lit("  "), F.col("c_name"), F.lit("\t")).alias("name_raw"),
        F.when(k % 5 == 0, "").otherwise(F.col("c_mktsegment")).alias("segment_raw"),
        F.lower(F.col("c_mktsegment")).alias("country_raw"),
        F.when(k % 3 == 0, F.concat(F.lit("192.168.1."), (k % 256).cast("string")))
        .when(k % 3 == 1, F.lit("999.999.1.1"))
        .alias("ip_raw"),
        F.concat(
            F.lit("reach "),
            F.regexp_replace(F.lower(F.col("c_name")), "#", "."),
            F.lit("@example.com ip 10."),
            (k % 200).cast("string"),
            F.lit(".0."),
            (k % 250).cast("string"),
            F.when(
                k % 2 == 0,
                F.concat(
                    F.lit(" tel +1-555-"),
                    F.lpad((k % 1000).cast("string"), 3, "0"),
                    F.lit("-"),
                    F.lpad((k % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                k % 4 == 0,
                F.concat(
                    F.lit(" cc ops+"),
                    (k % 97).cast("string"),
                    F.lit("@mail.example.org"),
                ),
            ).otherwise(F.lit("")),
        ).alias("notes_raw"),
    )
    counts = pii_counts("notes_raw")
    return clean_and_standardize(
        dirty,
        text_cols=["name_raw", "segment_raw"],
        country_col="country_raw",
        ip_col="ip_raw",
    ).select(
        "c_custkey",
        F.col("name_raw").alias("name_clean"),
        F.col("segment_raw").alias("segment_clean"),
        F.col("country_raw").alias("country_clean"),
        F.col("ip_raw").alias("ip_clean"),
        counts["email"].alias("n_pii_email"),
        counts["phone"].alias("n_pii_phone"),
        counts["ipv4"].alias("n_pii_ip"),
        redact_pii("notes_raw").alias("notes_redacted"),
    )


CLEAN_STANDARDIZE_CUSTOMERS_SQL = r"""
WITH dirty AS (
  SELECT c_custkey,
         '  ' || c_name || chr(9) AS name_raw,
         CASE WHEN c_custkey % 5 = 0 THEN '' ELSE c_mktsegment END AS segment_raw,
         lower(c_mktsegment) AS country_raw,
         CASE WHEN c_custkey % 3 = 0
              THEN '192.168.1.' || CAST(c_custkey % 256 AS VARCHAR)
              WHEN c_custkey % 3 = 1 THEN '999.999.1.1'
         END AS ip_raw,
         'reach ' || regexp_replace(lower(c_name), '#', '.', 'g')
           || '@example.com ip 10.' || CAST(c_custkey % 200 AS VARCHAR)
           || '.0.' || CAST(c_custkey % 250 AS VARCHAR)
           || CASE WHEN c_custkey % 2 = 0
                THEN ' tel +1-555-'
                  || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                ELSE '' END
           || CASE WHEN c_custkey % 4 = 0
                THEN ' cc ops+' || CAST(c_custkey % 97 AS VARCHAR)
                  || '@mail.example.org'
                ELSE '' END AS notes_raw
  FROM customer)
SELECT c_custkey,
       NULLIF(regexp_replace(name_raw, '^\s+|\s+$', '', 'g'), '') AS name_clean,
       NULLIF(regexp_replace(segment_raw, '^\s+|\s+$', '', 'g'), '') AS segment_clean,
       upper(country_raw) AS country_clean,
       CASE WHEN regexp_matches(ip_raw,
              '^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$')
            THEN ip_raw END AS ip_clean,
       CAST(len(regexp_extract_all(notes_raw,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
            AS n_pii_email,
       CAST(len(regexp_extract_all(notes_raw,
            '\+\d{1,3}-\d{3}-\d{3}-\d{4}')) AS INTEGER) AS n_pii_phone,
       CAST(len(regexp_extract_all(notes_raw,
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER)
            AS n_pii_ip,
       regexp_replace(regexp_replace(regexp_replace(notes_raw,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
            '\+\d{1,3}-\d{3}-\d{3}-\d{4}', '[PHONE]', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')
            AS notes_redacted
FROM dirty
"""


# user_event_type_sets (collect_set / array agg, F16) was folded into
# events_views.daily_user_metrics (its event_types column) so the whole
# catalog fits the driver's 50-query check window.


# value_percentiles (exact interpolated percentiles) was folded into
# events_views.event_type_rank (same grouping, one aggregation pass);
# lang_id_confusion's corpus-trained language ID moved to
# operators/text.py::predict_language and is surfaced per-doc by
# llm_ops.text_quality — both folds keep the catalog inside the
# driver's 50-query check window.


# --- multimodal_pipeline (binary media column → decode / resize / frame
# sampling, all Arrow-batched mapInPandas) ---------------------------------

def multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal surface in one per-doc output (formerly the
    separate ``multimodal_decode_stats`` / ``multimodal_frame_samples``
    / ``multimodal_resize_dims`` queries, folded so the catalog fits
    the driver's 50-query check window): synthesized binary media →

    * :func:`..operators.multimodal.decode_media_features` — payload
      metadata (payload_bytes, n_frames) via mapInPandas decode (the
      real decoder is the documented NotImplementedError plug-in
      point; the deterministic fake reproduces in DuckDB as hex
      arithmetic over md5(text)),
    * :func:`..operators.multimodal.resize_images` — integer-exact
      aspect-preserving fit-to-box dims + resized-payload fingerprint,
    * :func:`..operators.multimodal.sample_frames` — uniform-stride
      frame sampling (≤4 frames/doc), rolled up per doc (count, last
      sampled index, frame-0 fingerprint).

    Two AQE-broadcast joins on doc_id re-attach the per-doc frame
    rollup; every operator stays partition-preserving ahead of them."""
    from ..operators.multimodal import (
        decode_media_features,
        resize_images,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = attach_fake_media(docs)
    decoded = decode_media_features(media).select(
        "doc_id", "payload_bytes", "n_frames"
    )
    resized = resize_images(media, max_w=64, max_h=64)
    frames = (
        sample_frames(media, max_frames=4)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("frames_sampled"),
            F.max("frame_idx").alias("last_frame_idx"),
            F.min(
                F.when(F.col("frame_idx") == 0, F.col("frame_fp"))
            ).alias("first_frame_fp"),
        )
    )
    return resized.join(decoded, "doc_id").join(frames, "doc_id").select(
        "doc_id",
        "media_format",
        "payload_bytes",
        "n_frames",
        "width",
        "height",
        "new_width",
        "new_height",
        "resized_fp",
        "frames_sampled",
        "last_frame_idx",
        "first_frame_fp",
    )


MULTIMODAL_PIPELINE_SQL = """
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'png'
              WHEN doc_id % 3 = 1 THEN 'jpeg'
              ELSE 'mp4' END AS media_format,
         md5(text) AS hexp,
         16 AS payload_bytes,
         ('0x' || substr(md5(text), 1, 2))::INTEGER % 128 + 1 AS w,
         ('0x' || substr(md5(text), 3, 2))::INTEGER % 128 + 1 AS h,
         ('0x' || substr(md5(text), 5, 2))::INTEGER % 120 + 1 AS n_frames
  FROM documents),
r AS (
  SELECT doc_id, media_format, hexp, payload_bytes, w, h, n_frames,
         CASE WHEN w <= 64 AND h <= 64 THEN w
              WHEN w * 64 <= h * 64 THEN greatest(1, (w * 64) // h)
              ELSE 64 END AS new_width,
         CASE WHEN w <= 64 AND h <= 64 THEN h
              WHEN w * 64 <= h * 64 THEN 64
              ELSE greatest(1, (h * 64) // w) END AS new_height
  FROM m),
frames AS (
  SELECT doc_id, hexp,
         unnest(generate_series(0, n_frames - 1,
                CAST(ceil(n_frames / 4.0) AS INTEGER))) AS frame_idx
  FROM m),
frame_rollup AS (
  SELECT doc_id,
         COUNT(*) AS frames_sampled,
         CAST(MAX(frame_idx) AS INTEGER) AS last_frame_idx,
         MIN(CASE WHEN frame_idx = 0
                  THEN md5(hexp || ':' || CAST(frame_idx AS VARCHAR)) END)
           AS first_frame_fp
  FROM frames GROUP BY 1)
SELECT r.doc_id, r.media_format,
       CAST(r.payload_bytes AS INTEGER) AS payload_bytes,
       CAST(r.n_frames AS INTEGER) AS n_frames,
       CAST(r.w AS INTEGER) AS width, CAST(r.h AS INTEGER) AS height,
       CAST(r.new_width AS INTEGER) AS new_width,
       CAST(r.new_height AS INTEGER) AS new_height,
       md5(r.hexp || ':' || CAST(r.new_width AS VARCHAR) || 'x'
           || CAST(r.new_height AS VARCHAR)) AS resized_fp,
       f.frames_sampled,
       f.last_frame_idx,
       f.first_frame_fp
FROM r JOIN frame_rollup f ON r.doc_id = f.doc_id
"""


# --- user_value_timeline (W6: lead / dense_rank / first_value) ------------

def user_value_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises the window functions the reference imports but never
    uses (etl_framework.py:29-30 — lead, dense_rank, first_value):
    per-user event timeline with next-event gap, per-user value dense
    rank, and first value.

    The SCD2 arm (operators/temporal.py::scd2_from_history
    + asof_join): each user's ``event_type`` history is compressed into
    Type-2 validity intervals (consecutive equal states collapse to one
    interval), and every event is enriched with ``state_since_us`` —
    the start of the event_type run it belongs to — via an as-of
    point-in-time lookup against those intervals. That is the canonical
    SCD2 composition (dimension from change history, facts enriched by
    as-of), and it is closed-form checkable: the oracle recomputes the
    run starts with a LAG-change-flag + running-sum group id, so the
    driver hash pins both the interval construction and the lookup.

    The as-of timestamp is a (ts_us, event_id) STRUCT, making the order
    total when timestamps tie — same tie rule as the other windows here.
    """
    from ..functions.dialect import epoch_us
    from ..operators.temporal import asof_join, scd2_from_history

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wv = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    us = epoch_us(F.col("ts"))
    ord_ = F.struct(us.alias("t"), F.col("event_id").alias("e"))
    timeline = e.select(
        "user_id",
        "event_id",
        us.alias("ts_us"),
        ((F.lead(us).over(w) - us)).alias("gap_to_next_us"),
        F.dense_rank().over(wv).alias("value_dense_rank"),
        F.first("value").over(w).alias("first_value_seen"),
    )
    intervals = scd2_from_history(
        e.select("user_id", "event_type", ord_.alias("ord")),
        keys="user_id",
        order_col="ord",
        attr_cols=["event_type"],
    )
    states = asof_join(
        e.select("user_id", "event_id", ord_.alias("ord")),
        intervals.select("user_id", F.col("valid_from").alias("vf")),
        on="user_id",
        left_ts="ord",
        right_ts="vf",
    ).select(
        "user_id",
        "event_id",
        F.col("vf").getField("t").alias("state_since_us"),
    )
    return timeline.join(states, ["user_id", "event_id"]).select(
        "user_id",
        "event_id",
        "ts_us",
        "gap_to_next_us",
        "value_dense_rank",
        "first_value_seen",
        "state_since_us",
    )


USER_VALUE_TIMELINE_SQL = """
WITH h AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value, event_type,
         CASE WHEN LAG(event_type) OVER
                (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
              IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
  FROM events),
r AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS grp
  FROM h)
SELECT user_id, event_id, ts_us,
       LEAD(ts_us) OVER w - ts_us AS gap_to_next_us,
       DENSE_RANK() OVER (PARTITION BY user_id ORDER BY value DESC, event_id)
           AS value_dense_rank,
       FIRST_VALUE(value) OVER w AS first_value_seen,
       MIN(ts_us) OVER (PARTITION BY user_id, grp) AS state_since_us
FROM r
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
"""


# incremental_extract (P5 range predicate + A6 global-max watermark
# driver boundary) was folded into events_views.merge_upsert_events,
# whose MERGE source is now the watermark-driven incremental slice.


# --- star_schema_monthly (fact ↔ generated DIM_TIME join, J2/S13) ---------

def star_schema_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse path (SURVEY §3.3): events as the fact, joined to
    the generated calendar dimension on the surrogate ``time_key``
    (snowflake_pipeline.py:305-345), rolled up by month attributes.
    The dim side is generated, bounded (366 rows), and broadcast.

    The final aggregation runs as a ROLLUP (grouping sets — beyond the
    reference, SURVEY §2.4 note), emitting month-level and grand totals
    alongside the (month, weekend) cells; formerly the separate
    ``daily_rollup_totals`` query, folded here so the catalog fits the
    driver's 50-query check window."""
    from ..functions.dialect import day_name, month_name, time_key

    e = load_table(spark, sf_dir, "events")
    days = spark.range(0, 366).select(
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias(
            "date_value"
        )
    )
    d = F.col("date_value")
    dim_time = days.select(
        time_key(d).alias("time_key"),
        F.month(d).alias("month_num"),
        month_name(d).alias("month_name"),
        (F.weekday(d) >= 5).alias("is_weekend"),
    )
    fact = e.select(
        time_key(F.to_date("ts")).alias("time_key"), "event_type", "value"
    )
    return (
        fact.join(F.broadcast(dim_time), "time_key")
        .rollup("month_name", "is_weekend")
        .agg(
            F.count("*").alias("events_cnt"),
            money_sum(F.col("value"), 2).alias("total_value"),
        )
        # Nullable BOOLEAN outputs hash differently across engines once
        # ROLLUP introduces NULLs (Spark pandas: None in an object
        # column; DuckDB .df(): float nan) — emit the flag as a
        # nullable INT, which both engines render as float64/NaN.
        .select(
            "month_name",
            F.col("is_weekend").cast("int").alias("is_weekend"),
            "events_cnt",
            "total_value",
        )
    )


STAR_SCHEMA_MONTHLY_SQL = """
WITH dim_time AS (
  SELECT CAST(year(d) * 10000 + month(d) * 100 + day(d) AS INTEGER) AS time_key,
         monthname(d) AS month_name,
         isodow(d) >= 6 AS is_weekend
  FROM generate_series(DATE '2024-01-01', DATE '2024-12-31', INTERVAL 1 DAY) t(d)),
fact AS (
  SELECT CAST(year(ts) * 10000 + month(ts) * 100 + day(ts) AS INTEGER) AS time_key,
         event_type, value
  FROM events)
SELECT d.month_name, CAST(d.is_weekend AS INTEGER) AS is_weekend,
       COUNT(*) AS events_cnt,
       CAST(SUM(CAST(f.value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
FROM fact f JOIN dim_time d ON f.time_key = d.time_key
GROUP BY ROLLUP(d.month_name, d.is_weekend)
"""


# orders_above_segment_avg (correlated subquery → window rewrite) was
# folded into relational.segment_buyers.


# --- party_union (set ops — beyond the reference, SURVEY §2.6 note) -------

def party_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"),
        F.lit("customer").alias("party_type"),
        F.col("c_acctbal").alias("acctbal"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"),
        F.lit("supplier").alias("party_type"),
        F.col("s_acctbal").alias("acctbal"),
    )
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        cust.unionByName(supp)
        .join(nation, F.col("nationkey") == nation.n_nationkey)
        .groupBy("n_name", "party_type")
        .agg(
            F.count("*").alias("parties"),
            money_sum(F.col("acctbal"), 2).alias("total_acctbal"),
        )
    )


PARTY_UNION_SQL = """
WITH parties AS (
  SELECT c_nationkey AS nationkey, 'customer' AS party_type, c_acctbal AS acctbal
  FROM customer
  UNION ALL
  SELECT s_nationkey, 'supplier', s_acctbal FROM supplier)
SELECT n.n_name, p.party_type, COUNT(*) AS parties,
       CAST(SUM(CAST(p.acctbal AS DECIMAL(30,2))) AS DOUBLE) AS total_acctbal
FROM parties p JOIN nation n ON p.nationkey = n.n_nationkey
GROUP BY 1, 2
"""


# regex_token_counts (BPE-ish regex tokenization) was folded into
# llm_ops.doc_token_stats; simhash_pairs was folded into
# llm_ops.hash_dedup_candidates (stacked with the MinHash candidates).


QUERIES: dict[str, QuerySpec] = {
    "clean_standardize_customers": QuerySpec(
        clean_standardize_customers,
        CLEAN_STANDARDIZE_CUSTOMERS_SQL,
        "trim / empty→NULL / upper / IPv4 validation (F2-F5)",
    ),
    "multimodal_pipeline": QuerySpec(
        multimodal_pipeline,
        MULTIMODAL_PIPELINE_SQL,
        "binary media → mapInPandas decode + resize + frame sampling",
    ),
    "user_value_timeline": QuerySpec(
        user_value_timeline, USER_VALUE_TIMELINE_SQL, "lead/dense_rank/first_value (W6)"
    ),
    "star_schema_monthly": QuerySpec(
        star_schema_monthly,
        STAR_SCHEMA_MONTHLY_SQL,
        "fact ↔ generated DIM_TIME join (J2+S13) + ROLLUP grouping sets",
    ),
    "party_union": QuerySpec(
        party_union, PARTY_UNION_SQL, "unionByName set op + dim join"
    ),
}
