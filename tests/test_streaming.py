"""Streaming semantics tests (SURVEY §5.2): file-source streams drained
with Trigger.AvailableNow into parquet sinks; assertions on window
boundaries [start, end), append-mode emission (windows flush only once
the watermark passes their end), late-data drop, and checkpoint
idempotence."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import pytest
from pyspark.sql import Row

from real_time_video_streaming_analytics_lakehouse_spark.streaming import (
    anomaly_stream,
    dedup_stream,
    run_available_now,
    run_merge_stream_versioned,
    stream_events_from_files,
    user_activity_stream,
)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events_src") / "data")
    rows = [
        # window [10:00, 10:05)
        Row(event_id=1, ts=dt.datetime(2024, 1, 1, 10, 0, 30), user_id=1,
            event_type="view", value=10.0),
        Row(event_id=2, ts=dt.datetime(2024, 1, 1, 10, 4, 59), user_id=2,
            event_type="view", value=20.0),
        # boundary: 10:05:00 belongs to the NEXT window
        Row(event_id=3, ts=dt.datetime(2024, 1, 1, 10, 5, 0), user_id=1,
            event_type="view", value=30.0),
        # error burst for anomaly: 2 events same user same minute
        Row(event_id=4, ts=dt.datetime(2024, 1, 1, 10, 7, 1), user_id=3,
            event_type="error", value=1.0),
        Row(event_id=5, ts=dt.datetime(2024, 1, 1, 10, 7, 2), user_id=3,
            event_type="error", value=1.0),
        # watermark advancer: pushes the watermark past every window end
        # above so append mode flushes them; its own window never emits.
        Row(event_id=99, ts=dt.datetime(2024, 1, 1, 11, 0, 0), user_id=99,
            event_type="advance", value=0.0),
    ]
    spark.createDataFrame(rows).write.parquet(path)
    return path


def _drain(stream_df, tmp_path, name):
    out, ckpt = f"{tmp_path}/{name}_out", f"{tmp_path}/{name}_ckpt"
    q = run_available_now(stream_df, out, ckpt)
    q.awaitTermination(120)
    return out, ckpt


def test_user_activity_tumbling_windows(spark, events_dir, tmp_path):
    src = stream_events_from_files(
        spark, events_dir, spark.read.parquet(events_dir).schema
    )
    out, ckpt = _drain(user_activity_stream(src), tmp_path, "ua")
    got = {
        (r["window_start"], r["event_type"]): (r["events_cnt"], r["total_value"])
        for r in spark.read.parquet(out).collect()
    }
    w0 = dt.datetime(2024, 1, 1, 10, 0)
    w1 = dt.datetime(2024, 1, 1, 10, 5)
    assert got[(w0, "view")] == (2, 30.0)  # 10:05:00 excluded from first window
    assert got[(w1, "view")] == (1, 30.0)
    assert got[(w1, "error")] == (2, 2.0)
    # the advancer's own window ([11:00,11:05)) is still open → not emitted
    assert all(ws < dt.datetime(2024, 1, 1, 11, 0) for ws, _ in got)

    # checkpoint idempotence (T6): re-running the same drain adds nothing
    src2 = stream_events_from_files(
        spark, events_dir, spark.read.parquet(events_dir).schema
    )
    q2 = run_available_now(user_activity_stream(src2), out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == len(got)


def test_anomaly_stream_flags_error_burst_only(spark, events_dir, tmp_path):
    src = stream_events_from_files(
        spark, events_dir, spark.read.parquet(events_dir).schema
    )
    out, _ = _drain(anomaly_stream(src), tmp_path, "anom")
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["user_id"], r["anomaly_type"], r["events_cnt"]) == (3, "error_burst", 2)


def test_dedup_stream_drops_cross_batch_duplicates(spark, tmp_path):
    """A duplicated (event_id, ts) arriving in a LATER micro-batch is
    suppressed by the watermarked dropDuplicates state."""
    src_dir = str(tmp_path / "dup_src")
    e1 = Row(event_id=1, ts=dt.datetime(2024, 1, 1, 12, 0, 0), user_id=1,
             event_type="view", value=1.0)
    e2 = Row(event_id=2, ts=dt.datetime(2024, 1, 1, 12, 1, 0), user_id=1,
             event_type="view", value=2.0)
    batches = [[e1], [e1, e2]]  # e1 redelivered in batch 2
    for i, rows in enumerate(batches):
        before = set(glob.glob(f"{src_dir}/*.parquet"))
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src_dir)
        for f in set(glob.glob(f"{src_dir}/*.parquet")) - before:
            os.utime(f, (1700000000 + i * 100, 1700000000 + i * 100))
    src = stream_events_from_files(
        spark, src_dir, spark.read.parquet(src_dir).schema, max_files_per_trigger=1
    )
    out, _ = _drain(dedup_stream(src), tmp_path, "dedup")
    rows = spark.read.parquet(out).collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2]


def test_dedup_within_watermark_catches_restamped_redelivery(spark, tmp_path):
    """``dropDuplicatesWithinWatermark`` dedups on the business key
    alone: a redelivered event whose retry was RESTAMPED with a newer
    event time (the normal at-least-once producer behavior, which
    ``dropDuplicates([id, ts])`` cannot catch) is still suppressed,
    as long as the two arrivals are within the watermark delay."""
    from real_time_video_streaming_analytics_lakehouse_spark.streaming import (
        dedup_stream_within_watermark,
    )

    src_dir = str(tmp_path / "restamp_src")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    e1 = Row(event_id=1, ts=t, user_id=1, event_type="view", value=1.0)
    # redelivery of id=1, restamped 2 minutes later (< 30 min watermark)
    e1b = Row(event_id=1, ts=t + dt.timedelta(minutes=2), user_id=1,
              event_type="view", value=1.0)
    e2 = Row(event_id=2, ts=t + dt.timedelta(minutes=1), user_id=1,
             event_type="view", value=2.0)
    batches = [[e1], [e1b, e2]]
    for i, rows in enumerate(batches):
        before = set(glob.glob(f"{src_dir}/*.parquet"))
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src_dir)
        for f in set(glob.glob(f"{src_dir}/*.parquet")) - before:
            os.utime(f, (1700000000 + i * 100, 1700000000 + i * 100))
    src = stream_events_from_files(
        spark, src_dir, spark.read.parquet(src_dir).schema, max_files_per_trigger=1
    )
    out, _ = _drain(dedup_stream_within_watermark(src), tmp_path, "dedup_wm")
    rows = spark.read.parquet(out).collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2]
    # the SURVIVING id=1 row is the first arrival, not the restamp
    assert [r["ts"] for r in rows if r["event_id"] == 1] == [t]


def test_quarantine_stream_splits_good_and_bad(spark, tmp_path):
    """Streaming DQ gate: valid rows land in the good table, violating
    rows land in quarantine WITH their rule names; a second drain
    commits nothing to either table."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.quality import DQRuleSet
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import TxTable
    from real_time_video_streaming_analytics_lakehouse_spark.streaming import (
        run_quarantine_stream,
    )
    from pyspark.sql import functions as F

    src_dir = str(tmp_path / "dq_src")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    batches = [
        [Row(event_id=1, ts=t, user_id=1, event_type="view", value=1.0),
         Row(event_id=2, ts=t, user_id=None, event_type="view", value=2.0)],
        [Row(event_id=3, ts=t, user_id=3, event_type="view", value=-5.0),
         Row(event_id=4, ts=t, user_id=4, event_type="view", value=4.0)],
    ]
    for i, rows in enumerate(batches):
        before = set(glob.glob(f"{src_dir}/*.parquet"))
        spark.createDataFrame(
            rows,
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
            "event_type STRING, value DOUBLE",
        ).coalesce(1).write.mode("append").parquet(src_dir)
        for f in set(glob.glob(f"{src_dir}/*.parquet")) - before:
            os.utime(f, (1700000000 + i * 100,) * 2)

    rules = (
        DQRuleSet()
        .not_null("user_id")
        .add_rule("value", "non_negative", F.col("value") < 0)
    )
    good_p, quar_p = str(tmp_path / "good"), str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "dq_ckpt")

    def drain():
        src = stream_events_from_files(
            spark, src_dir, spark.read.parquet(src_dir).schema,
            max_files_per_trigger=1,
        )
        q = run_quarantine_stream(src, rules, good_p, quar_p, ckpt)
        q.awaitTermination(120)

    drain()
    good = TxTable(spark, good_p).read()
    quar = TxTable(spark, quar_p).read()
    assert sorted(r["event_id"] for r in good.collect()) == [1, 4]
    bad = {r["event_id"]: r["_dq_errors"] for r in quar.collect()}
    assert bad == {2: "user_id.not_null", 3: "value.non_negative"}
    assert "_dq_errors" not in good.columns  # good table stays clean

    vg = TxTable(spark, good_p).snapshot().version
    vq = TxTable(spark, quar_p).snapshot().version
    drain()  # no new files
    assert TxTable(spark, good_p).snapshot().version == vg
    assert TxTable(spark, quar_p).snapshot().version == vq


def test_run_merge_stream_upserts_per_batch(spark, tmp_path):
    """foreachBatch MERGE sink: later micro-batches update matching keys
    and insert new ones; final target holds exactly the latest row per
    key (the reference's streaming run + MERGE load path), read back
    through TxTable."""
    src_dir = str(tmp_path / "merge_src")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    batches = [
        [Row(event_id=1, ts=t, user_id=1, event_type="view", value=1.0),
         Row(event_id=2, ts=t, user_id=2, event_type="view", value=2.0)],
        # update id=1 (newer ts), insert id=3
        [Row(event_id=1, ts=t + dt.timedelta(minutes=1), user_id=1,
             event_type="click", value=10.0),
         Row(event_id=3, ts=t, user_id=3, event_type="view", value=3.0)],
    ]
    for i, rows in enumerate(batches):
        before = set(glob.glob(f"{src_dir}/*.parquet"))
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src_dir)
        for f in set(glob.glob(f"{src_dir}/*.parquet")) - before:
            os.utime(f, (1700000000 + i * 100, 1700000000 + i * 100))
    src = stream_events_from_files(
        spark, src_dir, spark.read.parquet(src_dir).schema, max_files_per_trigger=1
    )
    target = f"{tmp_path}/merge_target"
    q = run_merge_stream_versioned(src, target, f"{tmp_path}/merge_ckpt",
                                   keys=["event_id"], precedence_col="ts")
    q.awaitTermination(120)
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import TxTable

    out = {r["event_id"]: (r["event_type"], r["value"])
           for r in TxTable(spark, target).read().collect()}
    assert out == {1: ("click", 10.0), 2: ("view", 2.0), 3: ("view", 3.0)}


def test_run_merge_stream_keeps_the_same_row_of_a_precedence_tie(
    spark, tmp_path
):
    """Two rows of one key with equal precedence in one micro-batch: the
    sink keeps the same row whichever order the file holds them in, so a
    replayed batch rebuilds the same table."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import TxTable

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    tied = [Row(event_id=1, ts=t, user_id=1, event_type="view", value=1.0),
            Row(event_id=1, ts=t, user_id=2, event_type="click", value=2.0)]
    kept = []
    for name, rows in (("fwd", tied), ("rev", tied[::-1])):
        src_dir = str(tmp_path / f"{name}_src")
        spark.createDataFrame(rows).coalesce(1).write.parquet(src_dir)
        src = stream_events_from_files(
            spark, src_dir, spark.read.parquet(src_dir).schema
        )
        target = str(tmp_path / f"{name}_target")
        q = run_merge_stream_versioned(
            src, target, str(tmp_path / f"{name}_ckpt"), keys=["event_id"],
            precedence_col="ts",
        )
        q.awaitTermination(120)
        kept.append([tuple(r) for r in TxTable(spark, target).read().collect()])
    assert len(kept[0]) == 1
    assert kept[0] == kept[1]


def test_run_merge_stream_accepts_file_uri_target(spark, tmp_path):
    """A file:// target URI must behave identically to a plain path:
    the sink normalizes it before its table-exists check, so batch 2
    MERGES into batch 1's table instead of creating a fresh one."""
    src_dir = str(tmp_path / "uri_src")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    batches = [
        [Row(event_id=1, ts=t, user_id=1, event_type="view", value=1.0)],
        [Row(event_id=2, ts=t, user_id=2, event_type="view", value=2.0)],
    ]
    for i, rows in enumerate(batches):
        before = set(glob.glob(f"{src_dir}/*.parquet"))
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src_dir)
        for f in set(glob.glob(f"{src_dir}/*.parquet")) - before:
            os.utime(f, (1700000000 + i * 100, 1700000000 + i * 100))
    src = stream_events_from_files(
        spark, src_dir, spark.read.parquet(src_dir).schema, max_files_per_trigger=1
    )
    q = run_merge_stream_versioned(
        src, f"file://{tmp_path}/uri_target", f"{tmp_path}/uri_ckpt",
        keys=["event_id"], precedence_col="ts",
    )
    q.awaitTermination(120)
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import TxTable

    rows = TxTable(spark, f"{tmp_path}/uri_target").read().collect()
    # both batches' keys survive — batch 2 merged, not overwrote
    assert sorted(r["event_id"] for r in rows) == [1, 2]


def test_run_merge_stream_versioned_no_data_batch_commits_nothing(
    spark, tmp_path
):
    """Watermarked dedup into the versioned MERGE sink: the watermark
    advance after batch 2 triggers a no-data micro-batch, and that batch
    must leave no version — history holds exactly one MERGE per batch
    that carried rows, and the last txnVersion is the last such batch."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import TxTable
    from real_time_video_streaming_analytics_lakehouse_spark.streaming import (
        dedup_stream_within_watermark,
    )

    src_dir = str(tmp_path / "nodata_src")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    batches = [
        [Row(event_id=1, ts=t, user_id=1, event_type="view", value=1.0)],
        # two hours later: the 30-minute watermark passes id 1's expiry
        [Row(event_id=2, ts=t + dt.timedelta(hours=2), user_id=2,
             event_type="view", value=2.0)],
    ]
    for i, rows in enumerate(batches):
        before = set(glob.glob(f"{src_dir}/*.parquet"))
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src_dir)
        for f in set(glob.glob(f"{src_dir}/*.parquet")) - before:
            os.utime(f, (1700000000 + i * 100, 1700000000 + i * 100))
    src = stream_events_from_files(
        spark, src_dir, spark.read.parquet(src_dir).schema, max_files_per_trigger=1
    )
    target = f"{tmp_path}/nodata_target"
    q = run_merge_stream_versioned(
        dedup_stream_within_watermark(src), target, f"{tmp_path}/nodata_ckpt",
        keys=["event_id"], precedence_col="ts", app_id="nodata",
    )
    q.awaitTermination(120)
    progress = q.recentProgress
    data_batches = [p["batchId"] for p in progress if p["numInputRows"] > 0]
    assert data_batches == [0, 1]
    assert any(p["numInputRows"] == 0 for p in progress)  # the no-data batch

    tx = TxTable(spark, target)
    history = tx.history().collect()
    merges = [r for r in history if r.operation == "MERGE"]
    assert len(merges) == len(data_batches)
    assert [r.operation for r in history] == ["MERGE", "MERGE", "CREATE TABLE"]
    assert tx.txn_version("nodata") == data_batches[-1]
    assert sorted(r["event_id"] for r in tx.read().collect()) == [1, 2]


_ROCKSDB = ("org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")


def _dedup_sink_drains(spark, root, provider=None):
    """Two drains of a file source -> ``dedup_stream_within_watermark``
    -> ``run_merge_stream_versioned`` into ``root/bronze``, each landing
    one file first. The second file redelivers id 1 and carries an event
    two hours later, so its data batch is followed by a no-data batch.
    ``provider`` is the state store provider class for the run (set for
    it, then restored). Returns the second drain's jobs
    (:func:`~tests.conftest.job_stage_tasks`) and the table."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import TxTable
    from real_time_video_streaming_analytics_lakehouse_spark.streaming import (
        dedup_stream_within_watermark,
    )

    from .conftest import job_stage_tasks
    from .test_dml_write import _land

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    files = [
        [Row(event_id=i, ts=t, user_id=i, event_type="view", value=float(i))
         for i in range(8)],
        [Row(event_id=1, ts=t + dt.timedelta(minutes=2), user_id=1,
             event_type="click", value=9.0),
         Row(event_id=8, ts=t + dt.timedelta(hours=2), user_id=8,
             event_type="view", value=8.0)],
    ]
    src_dir, target = str(root / "src"), str(root / "bronze")
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    if provider:
        spark.conf.set(key, provider)
    try:
        def drain():
            src = stream_events_from_files(spark, src_dir, schema)
            run_merge_stream_versioned(
                dedup_stream_within_watermark(src), target,
                str(root / "ckpt"), keys=["event_id"], precedence_col="ts",
            ).awaitTermination(120)

        _land(spark, src_dir, files[:1])
        schema = spark.read.parquet(src_dir).schema
        drain()
        _land(spark, src_dir, files[1:], first=1)
        stages, _ = job_stage_tasks(spark, drain)
    finally:
        spark.conf.set(key, old)
    return stages, TxTable(spark, target)


@pytest.fixture(scope="module")
def dedup_sink(spark, tmp_path_factory):
    return _dedup_sink_drains(spark, tmp_path_factory.mktemp("dedup_sink"))


def _rows(tx) -> list[tuple]:
    return sorted(tuple(r) for r in tx.read().collect())


def _silver_drains(spark, root, provider=None):
    """Two drains of a ``txtable`` stream over ``root/bronze`` ->
    ``user_activity_stream`` -> ``run_merge_stream_versioned`` into
    ``root/silver``; bronze gains one commit before each. The second
    commit updates a window of the first and opens one two hours later,
    so its data batch is followed by a no-data batch. ``provider`` is
    the state store provider class for the run (set for it, then
    restored). Returns both drains' jobs
    (:func:`~tests.conftest.job_stage_tasks`) and the silver table."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import TxTable
    from real_time_video_streaming_analytics_lakehouse_spark.sources.txstream import (
        TxTableDataSource,
    )

    from .conftest import job_stage_tasks

    spark.dataSource.register(TxTableDataSource)
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    commits = [
        [Row(event_id=i, ts=t, user_id=i, event_type="view", value=float(i))
         for i in range(8)],
        [Row(event_id=8, ts=t + dt.timedelta(minutes=2), user_id=1,
             event_type="view", value=9.0),
         Row(event_id=9, ts=t + dt.timedelta(hours=2), user_id=9,
             event_type="click", value=8.0)],
    ]
    bronze = TxTable.create(spark, str(root / "bronze"),
                            spark.createDataFrame(commits[0]).schema)
    silver = str(root / "silver")
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    if provider:
        spark.conf.set(key, provider)
    try:
        def drain():
            src = (spark.readStream.format("txtable")
                   .option("path", bronze.root).load())
            run_merge_stream_versioned(
                user_activity_stream(src), silver, str(root / "ckpt"),
                keys=["window_start", "event_type"],
                precedence_col="events_cnt", output_mode="update",
            ).awaitTermination(120)

        drains = []
        for rows in commits:
            bronze.write(spark.createDataFrame(rows))
            drains.append(job_stage_tasks(spark, drain)[0])
    finally:
        spark.conf.set(key, old)
    return drains, TxTable(spark, silver)


@pytest.fixture(scope="module")
def silver_sink(spark, tmp_path_factory):
    return _silver_drains(spark, tmp_path_factory.mktemp("silver_sink"))


def test_run_merge_stream_sizes_a_micro_batch_to_its_input(dedup_sink,
                                                           silver_sink):
    """The sink sizes each micro-batch before the keep-latest: a batch
    of a few KB from a file source, sized by Catalyst's estimate, runs
    its stateful dedup, the keep-latest and the staged write in one
    task after the scan, its no-data batch in one task, and each commit
    stages one data file. A ``txtable`` upstream, which Catalyst cannot
    size, is sized from the bytes its offsets record: its window
    aggregate's state stage and the keep-latest run in one task after
    the scan too, and so does every later job of the drain."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators import txlog

    stages, bronze = dedup_sink
    # the staged write (scan, then one task), the no-data batch
    assert len(stages) == 2
    assert len(stages[0]) == 2 and stages[0][1] == 1
    assert stages[1:] == [[1]]
    merges = [r.version for r in bronze.history().collect()
              if r.operation == "MERGE"]
    assert len(merges) == 2
    for v in merges:
        assert len(txlog._read_commit(bronze.root, v)["add"]) == 1
    assert 9.0 not in {r.value for r in bronze.read().collect()}

    (first, second), silver = silver_sink
    # the first MERGE is one job: the scan, then the state stage and
    # the keep-latest in one task
    assert [s[1:] for s in first] == [[1]]
    # the data batch's staged write, probe and rewrite, then the no-data
    # batch
    assert [s[1:] for s in second[:1]] == [[1]]
    assert all(s == [1] for s in second[1:]) and len(second) > 1
    assert silver.read().count() == 2


def test_run_merge_stream_new_keys_commit_in_one_job(dedup_sink):
    """Bronze's tick: a file source -> ``dedup_stream_within_watermark``
    -> the sink. The second drain's data batch holds only keys above
    every live file's range (its redelivery is dropped by the dedup), so
    it commits in one job, the write that stages it, as a pure append;
    the no-data batch its watermark advance triggers runs one job and
    commits no version."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators import txlog

    stages, bronze = dedup_sink
    ckpt = os.path.join(os.path.dirname(bronze.root), "ckpt")
    # each drain runs a data batch, then the no-data batch the
    # watermark advance triggers, which commits no version
    assert sorted(int(n) for n in os.listdir(f"{ckpt}/commits")
                  if n.isdigit()) == [0, 1, 2, 3]
    merges = {json.loads(r.operationParameters)["txnVersion"]: r.version
              for r in bronze.history().collect() if r.operation == "MERGE"}
    assert sorted(merges) == [0, 2]
    # the second drain: batches 2 and 3, each runs at least one job
    assert len(stages) == 2
    c = txlog._read_commit(bronze.root, merges[2])
    assert c["remove"] == [] and "cdc" not in c
    assert c["operationParameters"]["mode"] == "append"
    assert sum(a["numRecords"] for a in c["add"]) == 1  # id 8


def test_run_merge_stream_rocksdb_state_store_builds_the_same_table(
    spark, dedup_sink, silver_sink, tmp_path
):
    """The sized micro-batch opens every state store partition in one
    task. Under the RocksDB state store provider the sink runs the same
    jobs and builds the table the default provider builds, behind a
    file source's dedup and behind a ``txtable`` source's window
    aggregate."""
    stages, tx = _dedup_sink_drains(spark, tmp_path / "dedup",
                                    provider=_ROCKSDB)
    with open(tmp_path / "dedup" / "ckpt" / "offsets" / "0") as f:
        assert _ROCKSDB in f.read()  # the checkpoint records the provider
    assert stages == dedup_sink[0]
    assert _rows(tx) == _rows(dedup_sink[1])

    drains, silver = _silver_drains(spark, tmp_path / "silver",
                                    provider=_ROCKSDB)
    with open(tmp_path / "silver" / "ckpt" / "offsets" / "1") as f:
        assert _ROCKSDB in f.read()
    assert drains == silver_sink[0]
    assert _rows(silver) == _rows(silver_sink[1])


def test_late_data_dropped_after_watermark(spark, tmp_path):
    """Rows older than the current watermark are dropped (T1/T3).

    Four single-file micro-batches (maxFilesPerTrigger=1, file order
    pinned via mtime): 12:00 → watermark 11:50; 13:00 → watermark
    12:50; then a 9:00 straggler arrives hours behind the watermark in
    its own batch and is dropped (numRowsDroppedByWatermark); a 14:00
    advancer flushes [13:00,13:05). The straggler's window must never
    appear. (Observed Spark nuance: a straggler SHARING a micro-batch
    with the row that advances the watermark can still be admitted —
    the drop is enforced against the watermark at batch start.)"""
    src_dir = str(tmp_path / "late_src")
    batches = [
        [Row(event_id=1, ts=dt.datetime(2024, 1, 1, 12, 0, 0), user_id=1,
             event_type="view", value=1.0)],
        [Row(event_id=2, ts=dt.datetime(2024, 1, 1, 13, 0, 0), user_id=1,
             event_type="view", value=1.0)],
        [Row(event_id=3, ts=dt.datetime(2024, 1, 1, 9, 0, 0), user_id=1,
             event_type="view", value=1.0)],  # hours late, own batch
        [Row(event_id=4, ts=dt.datetime(2024, 1, 1, 14, 0, 0), user_id=1,
             event_type="view", value=1.0)],
    ]
    for i, rows in enumerate(batches):
        before = set(glob.glob(f"{src_dir}/*.parquet"))
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src_dir)
        # FileStreamSource orders files by modification time; pin it so
        # micro-batch order matches write order.
        for f in set(glob.glob(f"{src_dir}/*.parquet")) - before:
            os.utime(f, (1700000000 + i * 100, 1700000000 + i * 100))

    src = stream_events_from_files(
        spark, src_dir, spark.read.parquet(src_dir).schema, max_files_per_trigger=1
    )
    out, _ = _drain(
        user_activity_stream(src, watermark="10 minutes"), tmp_path, "late"
    )
    emitted = {r["window_start"] for r in spark.read.parquet(out).collect()}
    assert emitted == {
        dt.datetime(2024, 1, 1, 12, 0),
        dt.datetime(2024, 1, 1, 13, 0),
    }


def test_run_merge_stream_partitioned_rewrites_only_touched(spark, tmp_path):
    """A partitioned target (TxTable created with partition_by) under
    the streaming MERGE sink: a micro-batch touching one partition
    rewrites only files there. The untouched partition's file stays in
    the snapshot at every later version, and no commit removes it."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import (
        TxTable,
        _list_versions,
        _read_commit,
    )

    src_dir = str(tmp_path / "pmerge_src")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    batches = [
        # batch 1 seeds both partitions
        [Row(event_id=1, day=d1, ts=t, value=1.0),
         Row(event_id=2, day=d2, ts=t, value=2.0)],
        # batch 2 touches only day=2024-01-02
        [Row(event_id=2, day=d2, ts=t + dt.timedelta(minutes=1), value=20.0),
         Row(event_id=3, day=d2, ts=t, value=3.0)],
    ]
    for i, rows in enumerate(batches):
        before = set(glob.glob(f"{src_dir}/*.parquet"))
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src_dir)
        for f in set(glob.glob(f"{src_dir}/*.parquet")) - before:
            os.utime(f, (1700000000 + i * 100, 1700000000 + i * 100))
    target = f"{tmp_path}/pmerge_target"
    schema = spark.read.parquet(src_dir).schema
    tx = TxTable.create(spark, target, schema, partition_by=["day"])

    def drain():
        # maxFilesPerTrigger=1 + a shared checkpoint keeps batch
        # boundaries deterministic across the two runs
        src = stream_events_from_files(
            spark, src_dir, schema, max_files_per_trigger=1
        )
        q = run_merge_stream_versioned(
            src, target, f"{tmp_path}/pmerge_ckpt",
            keys=["event_id"], precedence_col="ts",
        )
        q.awaitTermination(120)

    drain()  # processes both files as two sequential micro-batches
    out = {r["event_id"]: r["value"] for r in tx.read().collect()}
    assert out == {1: 1.0, 2: 20.0, 3: 3.0}
    snap = tx.snapshot()
    assert snap.partition_by == ["day"]
    untouched = [
        p for p, f in snap.files.items()
        if f["partitionValues"] == {"day": "2024-01-01"}
    ]
    assert len(untouched) == 1 and untouched[0].startswith("day=2024-01-01/")
    v_seeded = snap.version

    # batch 3: update partition day=2024-01-02 again
    rows3 = [Row(event_id=3, day=d2, ts=t + dt.timedelta(minutes=2),
                 value=30.0)]
    before = set(glob.glob(f"{src_dir}/*.parquet"))
    spark.createDataFrame(rows3).coalesce(1).write.mode("append").parquet(src_dir)
    for f in set(glob.glob(f"{src_dir}/*.parquet")) - before:
        os.utime(f, (1700000300, 1700000300))
    drain()
    out = {r["event_id"]: r["value"] for r in tx.read().collect()}
    assert out == {1: 1.0, 2: 20.0, 3: 30.0}

    versions = _list_versions(tx.root)
    assert versions[-1] == v_seeded + 1  # one commit per micro-batch
    commits = {v: _read_commit(tx.root, v) for v in versions}
    added = next(v for v, c in commits.items()
                 if untouched[0] in {a["path"] for a in c["add"]})
    for c in commits.values():
        assert untouched[0] not in c.get("remove", [])
    for v in range(added, versions[-1] + 1):
        assert untouched[0] in tx.snapshot(version=v).files


def test_run_merge_stream_rejects_object_store_paths(spark, tmp_path):
    import pytest

    from real_time_video_streaming_analytics_lakehouse_spark.operators.util import require_local_dir

    with pytest.raises(ValueError, match="local-FS-only"):
        require_local_dir("s3://bucket/table")
    assert require_local_dir("file:///tmp/x") == "/tmp/x"


def test_purchase_attribution_stream_interval_join(spark, tmp_path):
    """Stream-stream interval join: a purchase within 30 min of a
    same-user view is attributed; outside the window or cross-user it
    is not."""
    from real_time_video_streaming_analytics_lakehouse_spark.streaming.pipelines import (
        purchase_attribution_stream,
    )

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    views = [
        Row(event_id=1, ts=t, user_id=1, event_type="view", value=0.0),
        Row(event_id=2, ts=t, user_id=2, event_type="view", value=0.0),
    ]
    purchases = [
        # in-window, same user → attributed
        Row(event_id=10, ts=t + dt.timedelta(minutes=10), user_id=1,
            event_type="purchase", value=9.99),
        # same user but 45 min later → outside window
        Row(event_id=11, ts=t + dt.timedelta(minutes=45), user_id=1,
            event_type="purchase", value=5.0),
        # different user → no join
        Row(event_id=12, ts=t + dt.timedelta(minutes=5), user_id=3,
            event_type="purchase", value=1.0),
    ]
    vdir, pdir = str(tmp_path / "views"), str(tmp_path / "purch")
    spark.createDataFrame(views).write.parquet(vdir)
    spark.createDataFrame(purchases).write.parquet(pdir)
    schema = spark.read.parquet(vdir).schema
    out = purchase_attribution_stream(
        stream_events_from_files(spark, vdir, schema),
        stream_events_from_files(spark, pdir, schema),
    )
    out_dir = str(tmp_path / "attr_out")
    q = (out.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", f"{tmp_path}/attr_ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.read.parquet(out_dir).collect()
    assert [(r["view_id"], r["purchase_id"], r["purchase_value"])
            for r in rows] == [(1, 10, 9.99)]


def test_run_merge_stream_null_partition_rows_survive(spark, tmp_path):
    """Rows in the NULL partition of a partitioned target must merge,
    not be overwritten: a later batch into the same NULL partition
    keeps the earlier batch's rows."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import TxTable

    src_dir = str(tmp_path / "nmerge_src")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    batches = [
        [Row(event_id=1, day=None, ts=t, value=1.0)],
        [Row(event_id=2, day=None, ts=t, value=2.0)],  # same NULL partition
    ]
    schema = "event_id BIGINT, day DATE, ts TIMESTAMP, value DOUBLE"
    for i, rows in enumerate(batches):
        before = set(glob.glob(f"{src_dir}/*.parquet"))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
        for f in set(glob.glob(f"{src_dir}/*.parquet")) - before:
            os.utime(f, (1700000000 + i * 100, 1700000000 + i * 100))
    target = f"{tmp_path}/nmerge_target"
    src_schema = spark.read.parquet(src_dir).schema
    tx = TxTable.create(spark, target, src_schema, partition_by=["day"])
    src = stream_events_from_files(
        spark, src_dir, src_schema, max_files_per_trigger=1,
    )
    q = run_merge_stream_versioned(src, target, f"{tmp_path}/nmerge_ckpt",
                                   keys=["event_id"], precedence_col="ts")
    q.awaitTermination(120)
    rows = tx.read().collect()
    assert {r["event_id"]: r["value"] for r in rows} == {1: 1.0, 2: 2.0}
    assert all(r["day"] is None for r in rows)


def test_user_activity_sliding_windows_stream(spark, tmp_path):
    """Sliding streaming windows: one event lands in window/slide
    overlapping windows (5 min / 1 min => 5 rows per event type)."""
    src_dir = str(tmp_path / "slide_src")
    t = dt.datetime(2024, 1, 1, 12, 2, 30)
    spark.createDataFrame(
        [
            Row(event_id=1, ts=t, user_id=1, event_type="view", value=2.0),
            # watermark advancer: append mode only flushes windows the
            # watermark has passed
            Row(event_id=99, ts=t + dt.timedelta(hours=2), user_id=99,
                event_type="advance", value=0.0),
        ]
    ).write.parquet(src_dir)
    src = stream_events_from_files(
        spark, src_dir, spark.read.parquet(src_dir).schema
    )
    out, _ = _drain(
        user_activity_stream(src, slide="1 minute"), tmp_path, "slide"
    )
    rows = [r for r in spark.read.parquet(out).collect()
            if r["event_type"] == "view"]
    assert len(rows) == 5  # 5-min window, 1-min slide
    starts = sorted(r["window_start"] for r in rows)
    assert starts[0] == dt.datetime(2024, 1, 1, 11, 58)
    assert starts[-1] == dt.datetime(2024, 1, 1, 12, 2)


def test_run_merge_stream_versioned_evolves_schema(spark, tmp_path):
    """schema.autoMerge parity for the streaming MERGE sink: a restarted
    stream whose frames carry a new column evolves the versioned table
    (old rows null-filled) instead of failing the micro-batch."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import TxTable
    from real_time_video_streaming_analytics_lakehouse_spark.streaming.pipelines import (
        run_merge_stream_versioned,
    )

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    table = f"{tmp_path}/evo_table"

    # phase 1: original schema
    src1 = str(tmp_path / "evo_src1")
    spark.createDataFrame(
        [Row(event_id=1, ts=t, value=1.0)]
    ).coalesce(1).write.mode("append").parquet(src1)
    q = run_merge_stream_versioned(
        stream_events_from_files(spark, src1, spark.read.parquet(src1).schema),
        table, f"{tmp_path}/evo_ckpt1", keys=["event_id"],
        precedence_col="ts", app_id="phase1",
    )
    q.awaitTermination(120)

    # phase 2 (restarted pipeline, evolved producer): adds a column
    src2 = str(tmp_path / "evo_src2")
    spark.createDataFrame(
        [Row(event_id=1, ts=t + dt.timedelta(minutes=1), value=10.0,
             src="mobile"),
         Row(event_id=2, ts=t, value=2.0, src="web")]
    ).coalesce(1).write.mode("append").parquet(src2)
    q = run_merge_stream_versioned(
        stream_events_from_files(spark, src2, spark.read.parquet(src2).schema),
        table, f"{tmp_path}/evo_ckpt2", keys=["event_id"],
        precedence_col="ts", app_id="phase2", merge_schema=True,
    )
    q.awaitTermination(120)

    out = {r["event_id"]: (r["value"], r["src"])
           for r in TxTable(spark, table).read().collect()}
    assert out == {1: (10.0, "mobile"), 2: (2.0, "web")}


def test_run_merge_stream_versioned_bootstraps_pre_txlog_target(
    spark, tmp_path
):
    """Upgrade path (round-5 ADVICE fix): a stream resuming over a
    PLAIN-parquet target — written before the versioned sink existed —
    must adopt the existing files as version 0, not shadow them with a
    fresh empty log (which would make every accumulated row invisible
    and leave it for VACUUM to delete as an untracked stray)."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import TxTable

    target = str(tmp_path / "upg_target")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    # pre-txlog accumulated state: key 9 appears ONLY here — under the
    # old create-over-strays behavior it silently vanished
    spark.createDataFrame(
        [Row(event_id=1, ts=t, user_id=1, event_type="view", value=1.0),
         Row(event_id=9, ts=t, user_id=9, event_type="view", value=9.0)]
    ).write.parquet(target)
    src_dir = str(tmp_path / "upg_src")
    spark.createDataFrame(
        [Row(event_id=1, ts=t + dt.timedelta(minutes=1), user_id=1,
             event_type="click", value=10.0),
         Row(event_id=2, ts=t, user_id=2, event_type="view", value=2.0)]
    ).write.parquet(src_dir)
    src = stream_events_from_files(
        spark, src_dir, spark.read.parquet(src_dir).schema
    )
    q = run_merge_stream_versioned(src, target, f"{tmp_path}/upg_ckpt",
                                   keys=["event_id"], precedence_col="ts")
    q.awaitTermination(120)
    tx = TxTable(spark, target)
    out = {r["event_id"]: (r["event_type"], r["value"])
           for r in tx.read().collect()}
    assert out == {
        1: ("click", 10.0),  # pre-existing key: MERGED, not duplicated
        2: ("view", 2.0),    # new key: inserted
        9: ("view", 9.0),    # untouched pre-txlog key: SURVIVES
    }
    # the adopted files are tracked: version 0 is the bootstrap commit
    assert tx.history().collect()[-1].operation == "BOOTSTRAP"


def test_run_merge_stream_versioned_bootstraps_partitioned_old_sink_target(
    spark, tmp_path
):
    """Upgrade path for a hive-partitioned target left by a directory-
    swap sink: `day STRING` partitions day=01 and the NULL partition,
    plus a `_day~01__old` crash leftover. Adoption must keep day as the
    string '01' (inference alone types it INT 1), keep the NULL-
    partition rows, and never adopt the leftover's files."""
    import shutil

    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import TxTable

    target = str(tmp_path / "pupg_target")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id BIGINT, day STRING, ts TIMESTAMP, value DOUBLE"
    spark.createDataFrame(
        [(1, "01", t, 1.0), (4, "01", t, 4.0), (9, None, t, 9.0)], schema
    ).write.partitionBy("day").parquet(target)
    # crash leftover of a partition swap: a stale copy holding a row
    # (event 5) that must not reappear
    shutil.copytree(f"{target}/day=01", f"{target}/_day~01__old")
    spark.createDataFrame([(5, "01", t, 5.0)], schema).write.parquet(
        f"{target}/_day~01__old/extra"
    )
    src_dir = str(tmp_path / "pupg_src")
    spark.createDataFrame(
        [(1, "01", t + dt.timedelta(minutes=1), 10.0),
         (3, "02", t, 3.0)], schema
    ).write.parquet(src_dir)
    src = stream_events_from_files(
        spark, src_dir, spark.read.parquet(src_dir).schema
    )
    q = run_merge_stream_versioned(src, target, f"{tmp_path}/pupg_ckpt",
                                   keys=["event_id"], precedence_col="ts")
    q.awaitTermination(120)
    tx = TxTable(spark, target)
    assert tx.snapshot().schema["day"].dataType.simpleString() == "string"
    got = sorted(
        (r["event_id"], r["day"], r["value"]) for r in tx.read().collect()
    )
    assert got == [
        (1, "01", 10.0),  # merged in place, day stays '01'
        (3, "02", 3.0),   # inserted
        (4, "01", 4.0),   # untouched row of the adopted partition
        (9, None, 9.0),   # NULL-partition row survives adoption
    ]
    assert tx.history().collect()[-1].operation == "BOOTSTRAP"
    assert not [p for p in tx.snapshot(version=0).files
                if p.startswith("_")]


def test_bronze_to_silver_chain_on_native_log(spark, tmp_path):
    """S3/T7 composition — the reference's raw→bronze→silver medallion
    wiring (spark-jobs/real_time_streaming.py:424-445) on this engine's
    own transaction log: txtable streaming source over bronze →
    watermarked tumbling-window aggregation → versioned MERGE sink into
    silver, drained three times on ONE checkpoint to prove exactly-once
    across the whole chain (state resumes, updated windows MERGE
    instead of duplicating, idle drains commit nothing)."""
    from pyspark.sql import functions as F

    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import TxTable
    from real_time_video_streaming_analytics_lakehouse_spark.sources.txstream import (
        TxTableDataSource,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.streaming.pipelines import (
        run_merge_stream_versioned,
    )

    spark.dataSource.register(TxTableDataSource)
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, value double"
    bronze = TxTable.create(
        spark, str(tmp_path / "bronze"),
        spark.createDataFrame([], schema).schema,
    )
    bronze.write(spark.createDataFrame(
        [(1, t0, 1, 1.0), (2, t0 + dt.timedelta(minutes=1), 1, 2.0),
         (3, t0, 2, 3.0)], schema))
    silver, ckpt = str(tmp_path / "silver"), str(tmp_path / "ckpt")

    def drain():
        src = (spark.readStream.format("txtable")
               .option("path", bronze.root).load())
        agg = (
            src.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("total"))
            .select(F.col("w.start").alias("ws"), "user_id",
                    "n_events", "total")
        )
        q = run_merge_stream_versioned(
            agg, silver, ckpt, keys=["ws", "user_id"],
            precedence_col="n_events", output_mode="update",
        )
        q.awaitTermination(120)

    drain()
    s = TxTable(spark, silver)
    got = {(r.ws, r.user_id): (r.n_events, r.total)
           for r in s.read().collect()}
    assert got == {(t0, 1): (2, 3.0), (t0, 2): (1, 3.0)}
    v1 = s.snapshot().version

    # one in-window update + one new window land in bronze; the SAME
    # checkpoint resumes the stream state and MERGES into silver
    bronze.write(spark.createDataFrame(
        [(4, t0 + dt.timedelta(minutes=2), 1, 4.0),
         (5, t0 + dt.timedelta(minutes=7), 2, 5.0)], schema))
    drain()
    got = {(r.ws, r.user_id): (r.n_events, r.total)
           for r in s.read().collect()}
    assert got == {
        (t0, 1): (3, 7.0),                            # window updated
        (t0, 2): (1, 3.0),                            # untouched
        (t0 + dt.timedelta(minutes=5), 2): (1, 5.0),  # new window
    }
    v2 = s.snapshot().version
    assert v2 > v1
    # idle drain: no new bronze commits -> no new silver versions
    drain()
    assert s.snapshot().version == v2


def test_streaming_asof_enrichment_matches_batch(spark, tmp_path):
    """Temporal-table enrichment (the Flink temporal-join pattern on
    micro-batches): each event picks up the latest dimension row at or
    before its event time via asof_join inside foreachBatch. As-of
    matching is per-row against a static snapshot, so WHICH micro-batch
    an event arrives in cannot change its result — drained one file per
    trigger, the union of batch outputs must equal the one-shot batch
    join."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.temporal import asof_join

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    dim_rows = [
        Row(user_id=1, ts=t - dt.timedelta(hours=2), plan="free"),
        Row(user_id=1, ts=t + dt.timedelta(minutes=15), plan="pro"),
        Row(user_id=2, ts=t - dt.timedelta(hours=1), plan="team"),
    ]
    dim = spark.createDataFrame(dim_rows).withColumnRenamed("ts", "valid_from")
    # two source files → two micro-batches with maxFilesPerTrigger=1
    ev_a = [Row(event_id=1, ts=t, user_id=1, event_type="view", value=1.0),
            Row(event_id=2, ts=t + dt.timedelta(minutes=30), user_id=1,
                event_type="view", value=2.0)]
    ev_b = [Row(event_id=3, ts=t, user_id=2, event_type="view", value=3.0),
            Row(event_id=4, ts=t, user_id=3, event_type="view", value=4.0)]
    src_dir = str(tmp_path / "ev_src")
    spark.createDataFrame(ev_a).coalesce(1).write.mode("append").parquet(src_dir)
    spark.createDataFrame(ev_b).coalesce(1).write.mode("append").parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    events = spark.read.parquet(src_dir)

    expected = {
        (r["event_id"], r["plan"])
        for r in asof_join(
            events, dim, on="user_id", left_ts="ts", right_ts="valid_from"
        ).collect()
    }
    assert expected == {(1, "free"), (2, "pro"), (3, "team"), (4, None)}

    out_dir = str(tmp_path / "enriched")

    def enrich(batch_df, batch_id):
        asof_join(
            batch_df, dim, on="user_id", left_ts="ts",
            right_ts="valid_from",
        ).write.mode("append").parquet(out_dir)

    src = stream_events_from_files(
        spark, src_dir, schema, max_files_per_trigger=1
    )
    q = (src.writeStream.foreachBatch(enrich)
         .option("checkpointLocation", f"{tmp_path}/enrich_ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["plan"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == expected


def test_run_merge_stream_preserves_numeric_looking_string_partitions(
    spark, tmp_path
):
    """A STRING partition value that looks numeric ('01') must never be
    retyped: partition-type inference would read it back as INT 1, and
    a rewrite would then emit day=1 beside the stale day=01. Two
    sequential batches over day='01' into a partitioned target must
    update in place, keep ONE partition dir, and keep the value '01'."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import TxTable

    src_dir = str(tmp_path / "numpart_src")
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    batches = [
        [Row(event_id=1, day="01", ts=t, value=1.0)],
        [Row(event_id=1, day="01", ts=t + dt.timedelta(minutes=1),
             value=10.0)],
    ]
    for i, rows in enumerate(batches):
        before = set(glob.glob(f"{src_dir}/*.parquet"))
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(
            src_dir
        )
        for f in set(glob.glob(f"{src_dir}/*.parquet")) - before:
            os.utime(f, (1700000000 + i * 100, 1700000000 + i * 100))
    target = f"{tmp_path}/numpart_target"
    schema = spark.read.parquet(src_dir).schema
    tx = TxTable.create(spark, target, schema, partition_by=["day"])
    src = stream_events_from_files(spark, src_dir, schema,
                                   max_files_per_trigger=1)
    q = run_merge_stream_versioned(src, target, f"{tmp_path}/numpart_ckpt",
                                   keys=["event_id"], precedence_col="ts")
    q.awaitTermination(120)
    part_dirs = [d for d in os.listdir(target) if d.startswith("day=")]
    assert part_dirs == ["day=01"], part_dirs
    assert {f["partitionValues"]["day"]
            for f in tx.snapshot().files.values()} == {"01"}
    rows = tx.read().collect()
    assert [(r["event_id"], r["day"], r["value"]) for r in rows] == [
        (1, "01", 10.0)
    ]
