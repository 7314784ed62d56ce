"""Scale-technique tests: bucketed co-located joins (no shuffle), Kafka
payload parsing, approx sketches."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import (
    load_table,
)
from real_time_video_streaming_analytics_lakehouse_spark.streaming import (
    parse_kafka_events,
)

from .conftest import SF_DIR


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Pre-bucketed tables joined on the bucket key produce a plan with
    no shuffle exchange on either join side — the co-located join that
    makes repeated fact-fact joins viable at 100 TB."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS btest LOCATION '{tmp_path}/wh'")
    e = load_table(spark, SF_DIR, "events")
    (e.select("event_id", "user_id", "value").write
     .bucketBy(8, "user_id").sortBy("user_id")
     .mode("overwrite").saveAsTable("btest.ev_a"))
    (e.select("event_id", "user_id", "event_type").write
     .bucketBy(8, "user_id").sortBy("user_id")
     .mode("overwrite").saveAsTable("btest.ev_b"))
    a, b = spark.table("btest.ev_a"), spark.table("btest.ev_b")
    joined = a.join(b, "user_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() > 0


def test_parse_kafka_events_flattens_payload(spark):
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    payload = json.dumps({"event_id": 7, "event_type": "view", "value": 1.5})
    raw = spark.createDataFrame(
        [(bytearray(payload.encode()), "video_events", 3, 42, None)],
        "value BINARY, topic STRING, partition INT, offset BIGINT, timestamp TIMESTAMP",
    )
    out = parse_kafka_events(raw, schema).collect()[0]
    assert (out["event_id"], out["event_type"], out["value"]) == (7, "view", 1.5)
    assert (out["topic"], out["kafka_partition"], out["kafka_offset"]) == (
        "video_events",
        3,
        42,
    )
    assert out["ingestion_timestamp"] is not None


def test_approx_sketches_close_to_exact(spark):
    """The approx toggles (SURVEY §7.2-6): HLL distinct and quantile
    sketch land within documented error of the exact values."""
    e = load_table(spark, SF_DIR, "events")
    row = e.agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile("value", F.lit(0.5)).alias("exact_p50"),
        F.percentile_approx("value", F.lit(0.5), F.lit(1000)).alias("approx_p50"),
    ).collect()[0]
    assert abs(row["approx_users"] - row["exact_users"]) <= 0.05 * row["exact_users"]
    assert abs(row["approx_p50"] - row["exact_p50"]) <= 5.0


def test_floor_div_exact_beyond_double_mantissa(spark):
    """Integer div must be exact where double division is off-by-one
    (> 2^53, i.e. epoch nanoseconds) and floor (not truncate) for
    negative inputs."""
    import pyspark.sql.functions as F

    from real_time_video_streaming_analytics_lakehouse_spark.functions.dialect import floor_div

    vals = [2**60 + 7, 2**53 + 1, 123456789, -7, -9, 0]
    df = spark.createDataFrame([(v,) for v in vals], "x BIGINT")
    got = {
        r["x"]: r["d"]
        for r in df.select("x", floor_div(F.col("x"), 1000).alias("d")).collect()
    }
    for v in vals:
        assert got[v] == v // 1000, v  # python // is exact floor division


def test_connected_components_raises_on_non_convergence(spark):
    import pytest

    from real_time_video_streaming_analytics_lakehouse_spark.operators.graph import (
        connected_components,
        connected_components_label_prop,
    )

    # path graph 0-1-...-63: the star algorithm needs ~log2 rounds, so
    # 1 round cannot reach the fixpoint; label-prop needs ~diameter.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a BIGINT, id_b BIGINT"
    )
    nodes = spark.createDataFrame([(i,) for i in range(64)], "id BIGINT")
    # driver_max_edges=0 forces the distributed star loop — the r12
    # adaptive union-find path is exact in one shot and never
    # non-converges, so the contract under test lives in the loop
    with pytest.raises(RuntimeError, match="re-pointing"):
        connected_components(edges, nodes, max_iter=1, driver_max_edges=0)
    with pytest.raises(RuntimeError, match="still changing"):
        connected_components_label_prop(edges, nodes, max_iter=2)
    # warn-only mode returns partial labels
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = connected_components(
            edges, nodes, max_iter=1, strict=False, driver_max_edges=0
        )
        assert out.count() == 64
        assert any("re-pointing" in str(x.message) for x in w)
    # enough iterations: single cluster, no raise
    out = {
        r["id"]: r["cluster_id"]
        for r in connected_components(edges, nodes, max_iter=12).collect()
    }
    assert set(out.values()) == {0}
