"""Native transaction log: create/write/time-travel/restore/vacuum/CDF/DML.

Models the reference's Delta surface (delta_setup.py:450-505 create,
548-566 vacuum, 568-596 history/restore, 111/464 CDF, 636-702 DML)
without delta-spark — see operators/txlog.py.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import (
    ConcurrentWriteError,
    TxTable,
    VacuumedFileError,
    _commit_path,
    _read_commit,
)
from real_time_video_streaming_analytics_lakehouse_spark.operators.util import (
    local_relation,
)

from .conftest import count_jobs

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("day", StringType()),
        StructField("v", IntegerType()),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def table(spark, tmp_path):
    return TxTable.create(
        spark,
        str(tmp_path / "t"),
        SCHEMA,
        partition_by=["day"],
        properties={"delta.enableChangeDataFeed": "true"},
    )


def test_create_empty_with_schema_and_properties(spark, table):
    # S8: empty create is readable, schema'd, carries properties
    df = table.read()
    assert df.count() == 0
    assert df.schema == SCHEMA or set(df.columns) == {"id", "day", "v"}
    d = table.detail()
    assert d["numFiles"] == 0
    assert d["partitionColumns"] == ["day"]
    assert d["properties"]["delta.enableChangeDataFeed"] == "true"
    assert d["latest_operation"] == "CREATE TABLE"
    assert TxTable.exists(spark, table.root)


def test_append_overwrite_and_time_travel(spark, table):
    v1 = table.write(_df(spark, [(1, "a", 10), (2, "b", 20)]))
    v2 = table.write(_df(spark, [(3, "a", 30)]))
    assert (v1, v2) == (1, 2)
    assert table.read().count() == 3
    v3 = table.write(_df(spark, [(9, "c", 90)]), mode="overwrite")
    assert sorted(r.id for r in table.read().collect()) == [9]
    # D4 time travel: by version
    assert sorted(r.id for r in table.read(version=2).collect()) == [1, 2, 3]
    assert sorted(r.id for r in table.read(version=1).collect()) == [1, 2]
    # by timestamp: the commit's own timestamp resolves to that version
    ts2 = table.snapshot(version=2)
    import json

    with open(_commit_path(table.root, 2)) as f:
        t2 = json.load(f)["timestamp_ms"]
    assert sorted(
        r.id for r in table.read(timestamp_ms=t2).collect()
    ) == [1, 2, 3]
    del ts2, v3


def test_history_newest_first(spark, table):
    table.write(_df(spark, [(1, "a", 1)]))
    table.write(_df(spark, [(2, "b", 2)]), mode="overwrite")
    h = table.history().collect()
    assert [r.version for r in h] == [2, 1, 0]
    assert h[0].operation == "OVERWRITE"
    assert h[0].numRemovedFiles >= 1
    assert h[-1].operation == "CREATE TABLE"
    assert table.history(limit=1).count() == 1


def test_restore_to_version(spark, table):
    table.write(_df(spark, [(1, "a", 1), (2, "b", 2)]))
    table.write(_df(spark, [(3, "c", 3)]), mode="overwrite")
    rv = table.restore_to_version(1)
    assert sorted(r.id for r in table.read().collect()) == [1, 2]
    # restore is itself a commit — history preserved, not rewritten
    assert [r.version for r in table.history().collect()][0] == rv
    assert table.history().collect()[0].operation == "RESTORE"
    # the overwritten version is still reachable
    assert sorted(r.id for r in table.read(version=2).collect()) == [3]


def test_vacuum_tombstones_then_breaks_time_travel(spark, table):
    table.write(_df(spark, [(1, "a", 1)]))
    table.write(_df(spark, [(2, "b", 2)]), mode="overwrite")
    # within retention: nothing deleted
    assert table.vacuum(retention_hours=168, dry_run=True) == []
    doomed = table.vacuum(retention_hours=0, dry_run=True)
    assert len(doomed) >= 1
    assert all(os.path.exists(os.path.join(table.root, p)) for p in doomed)
    deleted = table.vacuum(retention_hours=0)
    assert deleted == doomed
    assert not any(
        os.path.exists(os.path.join(table.root, p)) for p in deleted
    )
    # current snapshot unaffected
    assert table.read().count() == 1
    # the vacuumed snapshot now raises a clear error (Delta's trade)
    with pytest.raises(VacuumedFileError):
        table.read(version=1).count()


def test_vacuum_collects_crash_stragglers(spark, table):
    table.write(_df(spark, [(1, "a", 1)]))
    stray = os.path.join(table.root, "day=a", "part-crashed.parquet")
    with open(stray, "wb") as f:
        f.write(b"not really parquet")
    os.utime(stray, (1, 1))  # ancient mtime -> past any retention
    doomed = table.vacuum(retention_hours=1)
    assert os.path.join("day=a", "part-crashed.parquet") in doomed
    assert not os.path.exists(stray)
    assert table.read().count() == 1


def test_change_feed_insert_delete_pairs(spark, table):
    table.write(_df(spark, [(1, "a", 1), (2, "b", 2)]))
    table.write(_df(spark, [(3, "c", 3)]), mode="overwrite")
    cdf = table.change_feed(from_version=1).orderBy("_commit_version", "id")
    rows = [(r.id, r._change_type, r._commit_version) for r in cdf.collect()]
    assert (1, "insert", 1) in rows and (2, "insert", 1) in rows
    assert (1, "delete", 2) in rows and (2, "delete", 2) in rows
    assert (3, "insert", 2) in rows
    # bounded range
    only_v1 = table.change_feed(from_version=1, to_version=1)
    assert set(r._commit_version for r in only_v1.collect()) == {1}


def test_delete_rewrites_only_touched_files(spark, table):
    table.write(_df(spark, [(1, "a", 1), (2, "a", 2)]))
    table.write(_df(spark, [(3, "b", 3)]))
    before = table.snapshot().files
    untouched = {p for p in before if p.startswith("day=b")}
    table.delete(F.col("day") == "a")
    after = table.snapshot().files
    # day=b file survives the commit physically untouched
    assert untouched <= set(after)
    assert sorted(r.id for r in table.read().collect()) == [3]
    # deleted rows still visible via time travel
    assert table.read(version=2).count() == 3


def test_delete_no_match_is_noop_version(spark, table):
    v = table.write(_df(spark, [(1, "a", 1)]))
    assert table.delete(F.col("id") == 999) == v
    assert table.read().count() == 1


def test_update_by_predicate(spark, table):
    table.write(_df(spark, [(1, "a", 1), (2, "b", 2)]))
    table.update(F.col("id") == 1, {"v": F.lit(100)})
    got = {r.id: r.v for r in table.read().collect()}
    assert got == {1: 100, 2: 2}
    # untouched file (day=b) not rewritten
    assert any(p.startswith("day=b") for p in table.snapshot().files)


def test_merge_upsert(spark, table):
    table.write(_df(spark, [(1, "a", 1), (2, "b", 2)]))
    src = _df(spark, [(2, "b", 200), (5, "b", 500)])
    table.merge(src, keys=["id"])
    got = {r.id: r.v for r in table.read().collect()}
    assert got == {1: 1, 2: 200, 5: 500}
    assert table.history().collect()[0].operation == "MERGE"
    # merge into empty table = plain insert
    t2 = TxTable.create(
        spark, table.root + "_m2", SCHEMA, partition_by=["day"]
    )
    t2.merge(src, keys=["id"])
    assert t2.read().count() == 2


def test_partition_pruning_from_log(spark, table):
    table.write(_df(spark, [(1, "a", 1), (2, "b", 2), (3, "c", 3)]))
    snap = table.snapshot()
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import _prune

    pruned = _prune(snap, [("day", "=", "b")])
    assert len(pruned) < len(snap.files)
    assert all(f["partitionValues"]["day"] == "b" for f in pruned)
    got = table.read(predicates=[("day", "=", "b")])
    assert [r.id for r in got.collect()] == [2]


def test_stats_skipping(spark, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "s"), SCHEMA)
    # two writes -> two commits -> disjoint id ranges in separate files
    t.write(
        _df(spark, [(i, "a", i) for i in range(0, 10)]).coalesce(1),
        stats_cols=["id"],
    )
    t.write(
        _df(spark, [(i, "a", i) for i in range(100, 110)]).coalesce(1),
        stats_cols=["id"],
    )
    snap = t.snapshot()
    assert all(
        f.get("stats", {}).get("id", {}).get("min") is not None
        for f in snap.files.values()
    )
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import _prune

    hit = _prune(snap, [("id", ">=", 100)])
    assert len(hit) == 1
    assert {r.id for r in t.read(predicates=[("id", ">=", 100)]).collect()} == set(
        range(100, 110)
    )


def test_concurrent_commit_conflict(spark, table):
    # two writers race for the same version: put-if-absent lets exactly
    # one win (the loser sees ConcurrentWriteError at publish time)
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import (
        _publish_commit,
    )

    action = {
        "version": 1,
        "timestamp_ms": 0,
        "operation": "WRITE",
        "add": [],
        "remove": [],
    }
    _publish_commit(table.root, 1, action)
    with pytest.raises(ConcurrentWriteError):
        _publish_commit(table.root, 1, action)
    # a fresh writer re-resolves and lands on the next version
    assert table.write(_df(spark, [(2, "b", 2)])) == 2


def test_numrecords_in_detail(spark, table):
    table.write(_df(spark, [(1, "a", 1), (2, "b", 2)]))
    d = table.detail()
    assert d["numRecords"] == 2
    assert d["numFiles"] >= 2  # one per partition dir
    assert d["sizeInBytes"] > 0


def test_optimize_compacts_with_history(spark, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "o"), SCHEMA)
    for i in range(3):  # three commits -> >=3 files
        t.write(_df(spark, [(i * 10 + j, "a", j) for j in range(5)]))
    before = len(t.snapshot().files)
    v = t.optimize(target_files=1, stats_cols=["id"])
    assert len(t.snapshot().files) == 1 < before
    assert t.read().count() == 15
    # pre-compaction snapshot still reachable (unlike dir-swap compaction)
    assert t.read(version=v - 1).count() == 15
    assert t.history().collect()[0].operation == "OPTIMIZE"


def test_optimize_zorder_clusters_minmax(spark, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "z"), SCHEMA)
    import random

    rng = random.Random(7)
    rows = [(i, "a", rng.randrange(1000)) for i in range(2000)]
    t.write(_df(spark, rows))
    t.optimize(zorder_cols=["v"], target_files=4)
    snap = t.snapshot()
    spans = [
        (int(f["stats"]["v"]["min"]), int(f["stats"]["v"]["max"]))
        for f in snap.files.values()
    ]
    # clustered: per-file v-ranges are narrow vs the global range
    assert len(spans) == 4
    assert sum(hi - lo for lo, hi in spans) < 1000 * 2


def test_optimize_zorder_gives_locality_to_every_column(spark, tmp_path):
    """True Morton interleaving: after OPTIMIZE ZORDER BY (a, b), EVERY
    file's min/max span is narrow for BOTH columns. A lexicographic
    sort gives column b the full domain span in every file; the Z-curve
    bounds both, which is what makes log-side min/max pruning work on
    b-only predicates."""
    schema = StructType([StructField("a", LongType()),
                         StructField("b", LongType())])
    t = TxTable.create(spark, str(tmp_path / "zo2"), schema)
    # 64x64 uniform grid, shuffled across 8 input files
    rows = [(i % 64, (i * 37) % 64) for i in range(4096)]
    t.write(spark.createDataFrame(rows, schema).repartition(8))
    t.optimize(zorder_cols=["a", "b"], target_files=16)
    files = list(t.snapshot().files.values())
    assert len(files) >= 8
    assert t.read().count() == 4096
    spans = {
        c: [int(f["stats"][c]["max"]) - int(f["stats"][c]["min"])
            for f in files]
        for c in ("a", "b")
    }
    # 16 files over a 64x64 grid: each Z-tile spans ~1/4 of each axis.
    # Lexicographic layout would put ~full-span (63) b in every file.
    assert sum(spans["a"]) / len(files) < 40
    assert sum(spans["b"]) / len(files) < 40


def test_optimize_zorder_supports_string_and_timestamp_columns(spark, tmp_path):
    """Non-numeric Z-ORDER keys (the common case: event_type, ts) work
    via order-preserving surrogates: the string column ends up
    clustered, most files holding few distinct values."""
    import datetime as dt

    schema = StructType([
        StructField("event_type", StringType()),
        StructField("ts", TimestampType()),
        StructField("v", LongType()),
    ])
    t = TxTable.create(spark, str(tmp_path / "zo3"), schema)
    rows = [
        (["alpha", "bravo", "carol", "delta"][i % 4],
         dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), i)
        for i in range(2000)
    ]
    t.write(spark.createDataFrame(rows, schema).repartition(4))
    t.optimize(zorder_cols=["event_type", "ts"], target_files=8)
    assert t.read().count() == 2000
    paths = [os.path.join(t.root, p) for p in t.snapshot().files]
    assert len(paths) >= 4
    distincts = [
        r["d"] for r in spark.read.parquet(*paths)
        .groupBy(F.input_file_name())
        .agg(F.countDistinct("event_type").alias("d"))
        .collect()
    ]
    assert len(distincts) == len(paths)
    assert sum(distincts) / len(distincts) < 4


def test_txn_version_tracks_app_commits(spark, table):
    # Idempotent-writer contract (Delta txnAppId/txnVersion): the log
    # remembers the latest stamped version per app; unknown apps → None.
    assert table.txn_version("etl") is None
    table.merge(_df(spark, [(1, "a", 1)]), keys=["id"],
                params={"txnAppId": "etl", "txnVersion": 0})
    table.merge(_df(spark, [(2, "b", 2)]), keys=["id"],
                params={"txnAppId": "etl", "txnVersion": 1})
    # an interleaved commit from another app must not disturb etl's counter
    table.merge(_df(spark, [(3, "c", 3)]), keys=["id"],
                params={"txnAppId": "other", "txnVersion": 7})
    assert table.txn_version("etl") == 1
    assert table.txn_version("other") == 7
    assert table.txn_version("nope") is None


def test_txn_version_covers_rewrite_path(spark, table):
    # The copy-on-write _rewrite commit must stamp txnAppId/txnVersion
    # too: re-merge an EXISTING key so the merge takes the rewrite path,
    # not the append path.
    table.merge(_df(spark, [(1, "a", 1)]), keys=["id"],
                params={"txnAppId": "etl", "txnVersion": 1})
    table.merge(_df(spark, [(1, "a", 100)]), keys=["id"],
                params={"txnAppId": "etl", "txnVersion": 2})
    assert table.history().collect()[0].operation == "MERGE"
    assert table.txn_version("etl") == 2
    assert {r.v for r in table.read().collect()} == {100}


# -- schema evolution (Delta mergeSchema parity; reference enables
#    schema.autoMerge at delta_setup.py:87) ------------------------------


def test_strict_write_rejects_schema_drift(spark, table):
    table.write(_df(spark, [(1, "a", 1)]))
    widened = spark.createDataFrame(
        [(2, "b", 2, 0.5)],
        StructType(SCHEMA.fields + [StructField("score", DoubleType())]),
    )
    with pytest.raises(ValueError, match="merge_schema"):
        table.write(widened)


def test_merge_schema_append_new_column(spark, table):
    table.write(_df(spark, [(1, "a", 1), (2, "b", 2)]))
    evolved = StructType(SCHEMA.fields + [StructField("score", DoubleType())])
    table.write(
        spark.createDataFrame([(3, "a", 3, 0.9)], evolved), merge_schema=True
    )
    # latest read serves the union schema; old rows null-filled
    got = {r.id: r.score for r in table.read().collect()}
    assert got == {1: None, 2: None, 3: 0.9}
    assert "score" in table.read().columns
    # time travel serves the OLD schema
    old = table.read(version=1)
    assert "score" not in old.columns
    assert old.count() == 2


def test_merge_schema_type_widening(spark, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "w"), SCHEMA)
    t.write(_df(spark, [(1, "a", 10)]))
    widened = StructType(
        [
            StructField("id", LongType()),
            StructField("day", StringType()),
            StructField("v", LongType()),  # int -> long
        ]
    )
    t.write(
        spark.createDataFrame([(2, "b", 2**40)], widened), merge_schema=True
    )
    df = t.read()
    assert dict(df.dtypes)["v"] == "bigint"
    assert {r.v for r in df.collect()} == {10, 2**40}
    # incompatible change still refuses
    bad = StructType(
        [
            StructField("id", LongType()),
            StructField("day", StringType()),
            StructField("v", StringType()),
        ]
    )
    with pytest.raises(ValueError, match="cannot merge"):
        t.write(spark.createDataFrame([(3, "c", "x")], bad), merge_schema=True)


def test_change_feed_spans_schema_evolution(spark, table):
    table.write(_df(spark, [(1, "a", 1)]))
    evolved = StructType(SCHEMA.fields + [StructField("score", DoubleType())])
    table.write(
        spark.createDataFrame([(2, "b", 2, 0.5)], evolved), merge_schema=True
    )
    cdf = table.change_feed(from_version=1)
    assert "score" in cdf.columns
    rows = {r.id: (r._change_type, r.score) for r in cdf.collect()}
    assert rows == {1: ("insert", None), 2: ("insert", 0.5)}


def test_merge_accepts_source_with_new_columns(spark, table):
    table.write(_df(spark, [(1, "a", 1), (2, "b", 2)]))
    evolved = StructType(SCHEMA.fields + [StructField("score", DoubleType())])
    src = spark.createDataFrame([(2, "b", 200, 0.7), (5, "c", 500, 0.9)],
                                evolved)
    with pytest.raises(ValueError, match="merge_schema"):
        table.merge(src, keys=["id"])
    table.merge(src, keys=["id"], merge_schema=True)
    got = {r.id: (r.v, r.score) for r in table.read().collect()}
    assert got == {1: (1, None), 2: (200, 0.7), 5: (500, 0.9)}


# -- CDF update pre/post-images (Delta row types; reference enables CDF
#    at delta_setup.py:111,464) ------------------------------------------


def test_change_feed_update_images_not_rewrite_noise(spark, table):
    # ids 1 and 2 land in the same day=a file; updating id 1 rewrites
    # the file, but the feed must show ONLY id 1 as a pre/post pair —
    # id 2's carried-over rewrite is not a change.
    table.write(_df(spark, [(1, "a", 1), (2, "a", 2)]).coalesce(1))
    v = table.update(F.col("id") == 1, {"v": F.lit(100)})
    cdf = table.change_feed(from_version=v, to_version=v)
    rows = sorted((r.id, r._change_type, r.v) for r in cdf.collect())
    assert rows == [
        (1, "update_postimage", 100),
        (1, "update_preimage", 1),
    ]


def test_change_feed_merge_distinguishes_updates_from_inserts(spark, table):
    table.write(_df(spark, [(1, "a", 1), (2, "a", 2)]).coalesce(1))
    v = table.merge(_df(spark, [(2, "a", 200), (9, "b", 900)]), keys=["id"])
    cdf = table.change_feed(from_version=v, to_version=v)
    rows = sorted((r.id, r._change_type, r.v) for r in cdf.collect())
    assert rows == [
        (2, "update_postimage", 200),
        (2, "update_preimage", 2),
        (9, "insert", 900),
    ]


def test_change_feed_delete_only_deleted_rows(spark, table):
    table.write(_df(spark, [(1, "a", 1), (2, "a", 2)]).coalesce(1))
    v = table.delete(F.col("id") == 1)
    cdf = table.change_feed(from_version=v, to_version=v)
    rows = [(r.id, r._change_type) for r in cdf.collect()]
    assert rows == [(1, "delete")]


def test_change_feed_skips_optimize(spark, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "cf"), SCHEMA)
    t.write(_df(spark, [(1, "a", 1)]))
    t.write(_df(spark, [(2, "a", 2)]))
    v = t.optimize(target_files=1)
    assert t.change_feed(from_version=v, to_version=v).count() == 0
    # and the full-range feed shows exactly the two true inserts
    assert t.change_feed(from_version=0).count() == 2


# -- optimistic concurrency (Delta WriteSerializable retry) ---------------


def test_concurrent_disjoint_appends_auto_retry(spark, table, monkeypatch):
    from real_time_video_streaming_analytics_lakehouse_spark.operators import txlog

    orig = txlog._publish_commit
    state = {"raced": False}

    def racing(root, version, action):
        # first publish attempt loses the race to a competing append
        if not state["raced"] and action.get("operation") == "APPEND":
            state["raced"] = True
            orig(root, version, {
                "version": version, "timestamp_ms": 0,
                "operation": "APPEND", "operationParameters": {},
                "add": [], "remove": [],
            })
        orig(root, version, action)

    monkeypatch.setattr(txlog, "_publish_commit", racing)
    v = table.write(_df(spark, [(1, "a", 1)]))
    assert state["raced"]
    assert v == 2  # lost version 1, auto-retried onto 2
    assert table.read().count() == 1


def test_concurrent_overlapping_rewrite_raises(spark, table, monkeypatch):
    from real_time_video_streaming_analytics_lakehouse_spark.operators import txlog

    table.write(_df(spark, [(1, "a", 1), (2, "a", 2)]).coalesce(1))
    victim = sorted(table.snapshot().files)[0]
    orig = txlog._publish_commit
    state = {"raced": False}

    def racing(root, version, action):
        if not state["raced"] and action.get("operation") == "DELETE":
            state["raced"] = True
            orig(root, version, {
                "version": version, "timestamp_ms": 0,
                "operation": "DELETE", "operationParameters": {},
                "add": [], "remove": [victim],
            })
        orig(root, version, action)

    monkeypatch.setattr(txlog, "_publish_commit", racing)
    with pytest.raises(ConcurrentWriteError, match="rewrote"):
        table.delete(F.col("id") == 1)


def test_concurrent_schema_change_raises(spark, table, monkeypatch):
    from real_time_video_streaming_analytics_lakehouse_spark.operators import txlog

    table.write(_df(spark, [(1, "a", 1)]))
    orig = txlog._publish_commit
    state = {"raced": False}

    def racing(root, version, action):
        if not state["raced"] and action.get("operation") == "APPEND":
            state["raced"] = True
            orig(root, version, {
                "version": version, "timestamp_ms": 0,
                "operation": "WRITE", "operationParameters": {},
                "schema": SCHEMA.json(), "add": [], "remove": [],
            })
        orig(root, version, action)

    monkeypatch.setattr(txlog, "_publish_commit", racing)
    with pytest.raises(ConcurrentWriteError, match="schema"):
        table.write(_df(spark, [(2, "b", 2)]))


def test_threaded_appends_to_different_partitions_both_commit(spark, table):
    import threading

    barrier = threading.Barrier(2)
    errors = []

    def writer(day, n):
        try:
            df = _df(spark, [(i, day, i) for i in range(n)])
            barrier.wait(timeout=30)
            table.write(df)
        except Exception as e:  # pragma: no cover - surfaced via assert
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=("a", 3)),
        threading.Thread(target=writer, args=("b", 4)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert errors == []
    assert table.read().count() == 7
    # create is version 0; the two appends claim versions 1 and 2 (the
    # race loser re-resolves and retries onto the next version)
    assert table.snapshot().version == 2


# -- size-gated merge key probe ------------------------------------------


def test_merge_size_gate_broadcast_vs_shuffle(spark, table):
    table.write(_df(spark, [(1, "a", 1), (2, "b", 2)]))
    table.merge(_df(spark, [(2, "b", 20)]), keys=["id"])
    assert table._last_merge_used_broadcast is True
    # a source with more distinct keys than the gate allows must take
    # the shuffle path — and still produce the same result
    src = _df(spark, [(i, "a", i * 10) for i in range(1, 6)])
    table.merge(src, keys=["id"], max_broadcast_keys=2)
    assert table._last_merge_used_broadcast is False
    got = {r.id: r.v for r in table.read().collect()}
    assert got == {1: 10, 2: 20, 3: 30, 4: 40, 5: 50}


# -- merge: empty sources, key-range probe pruning ---------------------------


def _log_entries(root: str) -> list[str]:
    return sorted(os.listdir(os.path.join(root, "_txlog")))


def _stage_dirs(root: str) -> list[str]:
    parent, name = os.path.split(root)
    return [d for d in os.listdir(parent) if d.startswith(name + "__")]


def test_merge_empty_source_commits_nothing(spark, table):
    """A MERGE whose source has no rows changes nothing, so it writes no
    log entry and stages nothing — on a table with files and on one
    without — and returns the current version."""
    empty = _df(spark, [(1, "a", 1)]).limit(0)
    v0 = table.merge(empty, keys=["id"])
    assert v0 == table.snapshot().version == 0
    table.write(_df(spark, [(1, "a", 1), (2, "b", 2)]))
    before = _log_entries(table.root)
    assert table.merge(empty, keys=["id"]) == 1
    assert _log_entries(table.root) == before
    assert _stage_dirs(table.root) == []
    assert [r.operation for r in table.history().collect()] == [
        "APPEND", "CREATE TABLE"
    ]


def test_merge_empty_source_still_commits_schema_change(spark, table):
    """An empty source that carries a new column under
    ``merge_schema=True`` still evolves the schema, in a commit that
    adds no file."""
    table.write(_df(spark, [(1, "a", 1)]))
    empty = spark.createDataFrame([], "id BIGINT, day STRING, v INT, note STRING")
    v = table.merge(empty, keys=["id"], merge_schema=True)
    assert v == 2
    assert "note" in table.snapshot().schema.fieldNames()
    assert table.history().collect()[0].numAddedFiles == 0
    assert [tuple(r) for r in table.read().collect()] == [(1, "a", 1, None)]


def _merge_matches_upsert(spark, t, src, keys):
    """TxTable.merge of ``src`` leaves exactly the rows the row-level
    reference ``merge_upsert`` computes from the same snapshot (rows
    compared by repr, so NaN keys compare equal)."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.merge import (
        merge_upsert,
    )

    cols = t.read().columns
    want = sorted(
        repr(r) for r in merge_upsert(t.read(), src, keys).select(*cols).collect()
    )
    t.merge(src, keys=keys)
    got = sorted(repr(r) for r in t.read().select(*cols).collect())
    assert got == want


def test_merge_pruning_keeps_null_key_matches(spark, tmp_path):
    """NULLs on both sides: a key column with a NULL in the batch gives
    no range (NULL matches NULL null-safely, and min/max stats skip
    NULLs), while the other key column still prunes. Each write is one
    file, so a file's stats cover its NULL-key rows too."""
    ddl = "a BIGINT, b STRING, v INT"
    t = TxTable.create(spark, str(tmp_path / "nk"), StructType.fromDDL(ddl))
    for rows in ([(1, "x", 0), (2, None, 0), (None, "q", 0)],
                 [(10, None, 0), (11, "m", 0), (12, None, 0)]):
        t.write(spark.createDataFrame(rows, ddl).coalesce(1))
    # b's non-NULL keys lie outside the second file's b range
    _merge_matches_upsert(spark, t, spark.createDataFrame(
        [(10, None, 7), (20, "z", 9)], ddl), ["a", "b"])
    # a's non-NULL keys lie outside the first file's a range
    _merge_matches_upsert(spark, t, spark.createDataFrame(
        [(None, "q", 5), (5, "x", 6)], ddl), ["a", "b"])
    assert t.read().count() == 8


def test_merge_pruning_keeps_string_key_matches(spark, tmp_path):
    ddl = "k STRING, v INT"
    t = TxTable.create(spark, str(tmp_path / "sk"), StructType.fromDDL(ddl))
    t.write(spark.createDataFrame([("a", 0), ("b", 0), ("c", 0)], ddl))
    t.write(spark.createDataFrame([("x", 0), ("y", 0), ("zé", 0)], ddl))
    _merge_matches_upsert(spark, t, spark.createDataFrame(
        [("y", 1), ("zé", 2), ("m", 3)], ddl), ["k"])
    assert t.read().count() == 7


def test_merge_pruning_keeps_partition_key_matches(spark, tmp_path):
    """Partition-column keys prune by partition value: an integral one,
    and a string one whose logged value is the escaped directory name
    (``a:b`` is logged as ``a%3Ab``) but compares unescaped."""
    ddl = "p INT, v INT"
    t = TxTable.create(spark, str(tmp_path / "pk"), StructType.fromDDL(ddl),
                       partition_by=["p"])
    t.write(spark.createDataFrame([(1, 0), (2, 0), (10, 0)], ddl))
    _merge_matches_upsert(spark, t, spark.createDataFrame(
        [(10, 9), (11, 5)], ddl), ["p"])
    assert t.read().count() == 4

    ddl = "s STRING, v INT"
    t = TxTable.create(spark, str(tmp_path / "ps"), StructType.fromDDL(ddl),
                       partition_by=["s"])
    t.write(spark.createDataFrame([("a:b", 0), ("a/b", 0), ("x", 0)], ddl))
    _merge_matches_upsert(spark, t, spark.createDataFrame(
        [("a:b", 9), ("a/b", 8)], ddl), ["s"])
    assert t.read().count() == 3


def test_merge_pruning_without_stats_probes_every_file(spark, tmp_path):
    ddl = "id BIGINT, v INT"
    t = TxTable.create(spark, str(tmp_path / "ns"), StructType.fromDDL(ddl))
    t.write(spark.createDataFrame([(1, 0), (2, 0)], ddl), stats_cols=[])
    t.write(spark.createDataFrame([(10, 0), (11, 0)], ddl), stats_cols=[])
    _merge_matches_upsert(spark, t, spark.createDataFrame(
        [(2, 1), (10, 2), (50, 3)], ddl), ["id"])
    assert t.read().count() == 5


def test_merge_pruning_skips_nan_double_keys(spark, tmp_path):
    """A double key never prunes: NaN sorts above every number in Spark
    but compares False in the bound test, so a NaN-keyed match would
    be dropped."""
    ddl = "k DOUBLE, v INT"
    nan = float("nan")
    t = TxTable.create(spark, str(tmp_path / "dk"), StructType.fromDDL(ddl))
    t.write(spark.createDataFrame([(nan, 0), (1.0, 0)], ddl))
    t.write(spark.createDataFrame([(5.0, 0), (6.0, 0)], ddl))
    _merge_matches_upsert(spark, t, spark.createDataFrame(
        [(nan, 1), (2.0, 2), (6.0, 3)], ddl), ["k"])
    rows = {repr(r.k): r.v for r in t.read().collect()}
    assert rows == {"nan": 1, "1.0": 0, "2.0": 2, "5.0": 0, "6.0": 3}


def test_merge_outside_every_file_range_runs_no_probe(spark, tmp_path):
    """Keys above every file's max prune the whole probe, and a table
    with no files has no probe to run: each MERGE of a source Catalyst
    sizes (a local relation, as the streaming sink's micro-batch) runs
    one job, the write that stages its source, and commits the staged
    file as a pure append. A source Catalyst cannot size (an RDD of
    Python rows) stages one file per non-empty shuffle partition of the
    key dedup, which the append writes again as one file: two jobs. The
    same MERGE into a table without stats runs the probe and so more
    jobs. Adaptive execution is off, as in a streaming micro-batch (with
    it on, the key dedup's shuffle is a job of its own)."""
    ddl = "id BIGINT, v INT"
    schema = StructType.fromDDL(ddl)
    target = [(i, 0) for i in range(10)]
    rows = [(i, i) for i in range(100, 105)]
    sources = {"sized": lambda: local_relation(spark, rows, ddl),
               "unsized": lambda: spark.createDataFrame(rows, ddl)}

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    for name, src in sources.items():
        pruned = TxTable.create(spark, str(tmp_path / name / "pr"), schema)
        pruned.write(spark.createDataFrame(target, ddl))
        unpruned = TxTable.create(spark, str(tmp_path / name / "np"), schema)
        unpruned.write(spark.createDataFrame(target, ddl), stats_cols=[])
        fileless = TxTable.create(spark, str(tmp_path / name / "fl"), schema)

        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            jobs = {t: count_jobs(spark, lambda: t.merge(src(), ["id"]))
                    for t in (pruned, fileless, unpruned)}
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
        appended = 1 if name == "sized" else 2
        assert jobs[pruned][0] == jobs[fileless][0] == appended, name
        assert jobs[unpruned][0] > appended, name
        for t in (pruned, fileless, unpruned):
            c = _read_commit(t.root, jobs[t][1])
            assert c["remove"] == []
            assert c["operationParameters"]["mode"] == "append"
            assert [a["numRecords"] for a in c["add"]] == [5], name
        for t in (pruned, unpruned):
            assert t.read().count() == 15
        assert fileless.read().count() == 5


def test_merge_evaluates_its_source_once(spark, tmp_path):
    """The source is computed once per MERGE: a Python UDF that counts
    the rows it sees runs once per source row. The write that stages the
    source as data files is its one evaluation; the key set, the
    probe-side joins and the rewrite read the staged files."""
    ddl = "id BIGINT, v BIGINT"
    t = TxTable.create(spark, str(tmp_path / "once"), StructType.fromDDL(ddl),
                       properties={"delta.enableChangeDataFeed": "true"})
    t.write(spark.createDataFrame([(i, 0) for i in range(10)], ddl))
    seen = spark.sparkContext.accumulator(0)

    @F.udf("bigint")
    def counted(v):
        seen.add(1)
        return v

    src = spark.range(5, 15).select("id", counted(F.col("id") * 10).alias("v"))
    t.merge(src, keys=["id"])
    assert seen.value == 10
    assert sorted(tuple(r) for r in t.read().collect()) == (
        [(i, 0) for i in range(5)] + [(i, i * 10) for i in range(5, 15)]
    )
    changes = t.change_feed(2).groupBy("_change_type").count().collect()
    assert {r[0]: r[1] for r in changes} == {
        "update_preimage": 5, "update_postimage": 5, "insert": 5,
    }


# -- file skipping on NaN bounds and escaped partition values -------------


def _checkpointed(t: TxTable) -> TxTable:
    """``t`` with its latest version consolidated into a checkpoint, so
    snapshots resolve to a columnar manifest."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.manifest import (
        FileManifest,
    )

    t._write_checkpoint(t.snapshot().version)
    assert isinstance(t.snapshot().files, FileManifest)
    return t


@pytest.mark.parametrize("checkpoint", [False, True])
def test_nan_max_keeps_file_for_range_predicates(spark, tmp_path, checkpoint):
    """A file holding ``[1.0, NaN]`` logs ``max: NaN``; Spark orders NaN
    above every value, so ``d > 5`` matches the NaN row and pruning must
    keep the file, from the log's dicts and from a checkpoint."""
    ddl = "id BIGINT, d DOUBLE"
    nan = float("nan")
    t = TxTable.create(spark, str(tmp_path / "nan"), StructType.fromDDL(ddl))
    t.write(spark.createDataFrame([(1, 1.0), (2, nan)], ddl).coalesce(1))
    t.write(spark.createDataFrame([(3, 2.0), (4, 3.0)], ddl).coalesce(1))
    (stats,) = [f["stats"]["d"] for f in t.snapshot().files.values()
                if f["stats"]["d"]["min"] == 1.0]
    assert stats["max"] != stats["max"]  # NaN
    if checkpoint:
        _checkpointed(t)
    for pred, want in ((("d", ">", 5), {2}), (("d", ">=", 5), {2}),
                       (("d", "=", nan), {2}), (("d", "<", 1.5), {1})):
        got = {r.id for r in t.read(predicates=[pred]).collect()}
        assert got == want, pred
    assert {r.id for r in t.read().where("d > 5").collect()} == {2}


def test_arrow_written_nan_rows_survive_range_predicates(spark, tmp_path):
    """Arrow's parquet writer leaves NaN out of the footer min/max (and
    out of the page index, when it writes one), so a ``[1.0, NaN, 0.5]``
    file adopted by ``bootstrap`` logs no float bounds, and every scan
    of it keeps parquet from filtering its NaN row out of ``d > 5``:
    ``read`` with predicates or a plain filter, ``delete`` and
    ``update``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def bootstrapped(name: str, page_index: bool) -> TxTable:
        root = tmp_path / f"{name}_{page_index}"
        root.mkdir()
        pq.write_table(
            pa.table({"id": [1, 2, 3], "d": [1.0, float("nan"), 0.5]}),
            str(root / "part-0.parquet"), write_page_index=page_index,
        )
        return TxTable.bootstrap(spark, str(root))

    for page_index in (False, True):
        t = bootstrapped("read", page_index)
        (entry,) = t.snapshot().files.values()
        assert entry["stats"]["d"] == {"min": None, "max": None}
        assert entry["stats"]["id"] == {"min": 1, "max": 3}
        for pred, want in ((("d", ">", 5), {2}), (("d", ">=", 1.0), {1, 2}),
                           (("d", "<", 5), {1, 3})):
            got = {r.id for r in t.read(predicates=[pred]).collect()}
            assert got == want, (pred, page_index)
        got = {r.id for r in t.read().filter(F.col("d") > 5).collect()}
        assert got == {2}, page_index

        t = bootstrapped("delete", page_index)
        t.delete(F.col("d") > 5, predicates=[("d", ">", 5)])
        assert {r.id for r in t.read().collect()} == {1, 3}, page_index

        t = bootstrapped("update", page_index)
        t.update(F.col("d") > 5, {"d": F.lit(9.0)},
                 predicates=[("d", ">", 5)])
        assert {(r.id, r.d) for r in t.read().collect()} == {
            (1, 1.0), (2, 9.0), (3, 0.5)
        }, page_index


@pytest.mark.parametrize("name", ["_change_type", "_commit_version",
                                  "_Commit_Timestamp"])
def test_change_feed_column_names_are_reserved(spark, tmp_path, name):
    """A table column named like a change-feed column would be
    overwritten (or duplicated) in the feed, so create, write and an
    evolving merge refuse it."""
    ddl = f"k BIGINT, {name} STRING"
    with pytest.raises(ValueError, match="reserved"):
        TxTable.create(spark, str(tmp_path / "c"), StructType.fromDDL(ddl))
    t = TxTable.create(spark, str(tmp_path / "t"), StructType.fromDDL("k BIGINT"))
    t.write(spark.createDataFrame([(1,)], "k BIGINT"))
    df = spark.createDataFrame([(1, "x")], ddl)
    with pytest.raises(ValueError, match="reserved"):
        t.write(df, merge_schema=True)
    with pytest.raises(ValueError, match="reserved"):
        t.merge(df, keys=["k"], merge_schema=True)
    assert t.snapshot().version == 1
    assert t.read().columns == ["k"]


@pytest.mark.parametrize("checkpoint", [False, True])
def test_string_partition_pruning_compares_unescaped_values(
    spark, tmp_path, checkpoint
):
    """``a:b`` and ``a/b`` are written to the escaped directories
    ``s=a%3Ab`` and ``s=a%2Fb``; a predicate on the value finds their
    rows, from the log's dicts and from a checkpoint."""
    ddl = "s STRING, v INT"
    t = TxTable.create(spark, str(tmp_path / "esc"), StructType.fromDDL(ddl),
                       partition_by=["s"])
    t.write(spark.createDataFrame(
        [("a:b", 1), ("a/b", 2), ("a", 3), ("b", 4)], ddl))
    assert {f["partitionValues"]["s"] for f in t.snapshot().files.values()} \
        == {"a%3Ab", "a%2Fb", "a", "b"}
    if checkpoint:
        _checkpointed(t)
    for pred, want in ((("s", "=", "a:b"), {1}), (("s", "=", "a/b"), {2}),
                       (("s", ">", "a/"), {1, 2, 4}),
                       (("s", "<", "a0"), {2, 3})):
        got = {r.v for r in t.read(predicates=[pred]).collect()}
        assert got == want, pred


# -- per-file stats from parquet footers ----------------------------------


def _spark_stats_oracle(spark, t: TxTable, cols: list[str]) -> dict:
    """Per-file ``numRecords`` and min/max as a Spark aggregate over the
    committed files computes them — how stats were collected before they
    were read from footers — in the log's JSON form."""
    import urllib.parse

    snap = t.snapshot()
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    rows = (
        spark.read.option("basePath", t.root).schema(snap.schema)
        .parquet(*[os.path.join(t.root, p) for p in snap.files])
        .groupBy(F.input_file_name().alias("_f")).agg(*aggs).collect()
    )

    def as_json(v):
        return v if v is None or isinstance(v, (int, float, str)) else str(v)

    out = {}
    for r in rows:
        rel = os.path.relpath(
            urllib.parse.unquote(r["_f"].removeprefix("file:")), t.root
        )
        out[rel] = {
            "numRecords": r["_n"],
            "stats": {c: {"min": as_json(r[f"_min_{c}"]),
                          "max": as_json(r[f"_max_{c}"])} for c in cols},
        }
    return out


def _stats_differences(spark, t: TxTable) -> list[tuple]:
    """``(file, column, bound, logged, oracle)`` for every logged stat
    that differs from the Spark aggregate (NaN equals NaN; -0.0 and 0.0
    differ)."""
    import math

    cols = [f.name for f in t.snapshot().schema.fields]
    want = _spark_stats_oracle(spark, t, cols)
    files = t.snapshot().files
    assert set(files) == set(want)
    diffs = []
    for rel, entry in files.items():
        assert entry["numRecords"] == want[rel]["numRecords"]
        assert set(entry["stats"]) == set(cols)
        for c in cols:
            for k in ("min", "max"):
                a, b = entry["stats"][c][k], want[rel]["stats"][c][k]
                if isinstance(a, float) and isinstance(b, float) and (
                    (math.isnan(a) and math.isnan(b))
                    or (a == b and math.copysign(1, a) == math.copysign(1, b))
                ):
                    continue
                if type(a) is not type(b) or a != b or isinstance(a, float):
                    diffs.append((rel, c, k, a, b))
    return diffs


def test_footer_stats_equal_spark_aggregate(spark, tmp_path):
    """Logged stats equal a Spark min/max over each file for every stats
    type: each integer width; float and double with NaN, ±inf and -0.0;
    three decimal widths; date; empty and non-ASCII strings; an all-NULL
    column; files of several row groups. The only differences are a zero
    whose sign differs and None for a string over 4 KB, which
    parquet-java leaves out of the footer."""
    import datetime
    import decimal

    import pyarrow.parquet as pq

    ddl = ("b TINYINT, s SMALLINT, i INT, l BIGINT, f FLOAT, d DOUBLE, "
           "d51 DECIMAL(5,1), d102 DECIMAL(10,2), d382 DECIMAL(38,2), "
           "dt DATE, str STRING, nul INT")
    D = decimal.Decimal
    nan, inf = float("nan"), float("inf")

    def row(n, d=None, f=None, text=None):
        return (
            n % 127 - 60, n * 7 - 2000, n * 1000 - 300_000,
            n * 10**12 - 2**40, f if f is not None else n / 8 - 30,
            d if d is not None else n / 3 - 100,
            D(n % 9999 - 5000).scaleb(-1), D(n * 101 - 30_000).scaleb(-2),
            D(n * 10**20 + 7).scaleb(-2) * (1 if n % 2 else -1),
            datetime.date(1900, 1, 1) + datetime.timedelta(days=n * 97),
            text if text is not None else f"é{n:04d}漢", None,
        )

    t = TxTable.create(spark, str(tmp_path / "eq"), StructType.fromDDL(ddl))
    # several row groups per file: a small block size makes parquet-java
    # flush a row group at each size check (every 100 rows at first)
    spark.conf.set("parquet.block.size", "2048")
    try:
        # ±inf, and NaN only in the last row groups, so file bounds
        # combine chunk bounds NaN-aware
        rows = [row(0, f=inf), row(1, f=-inf)] + [
            row(n) for n in range(2, 500)
        ] + [row(n, d=nan) for n in range(500, 640)]
        t.write(spark.createDataFrame(rows, ddl).coalesce(1))
    finally:
        spark.conf.unset("parquet.block.size")
    # every double NaN; an empty string is the min, a string over 4 KB
    # the max
    t.write(spark.createDataFrame(
        [row(7, d=nan, text=""), row(8, d=nan, text="x" * 5000),
         row(9, d=nan, text="abc")], ddl).coalesce(1))
    # a float minimum that is both 0.0 and -0.0
    t.write(spark.createDataFrame(
        [row(20, f=0.0), row(21, f=-0.0)] + [
            row(n, f=float(n)) for n in range(22, 25)
        ], ddl).coalesce(1))
    files = t.snapshot().files
    groups = {rel: pq.ParquetFile(os.path.join(t.root, rel)).metadata
              .num_row_groups for rel in files}
    assert max(groups.values()) > 2
    diffs = _stats_differences(spark, t)
    big = sorted((k, a, b[:3]) for _, c, k, a, b in diffs if c == "str")
    zeros = [(c, k, a, b) for _, c, k, a, b in diffs if c != "str"]
    assert big == [("max", None, "xxx"), ("min", None, "")], big
    # parquet-java keeps the -0.0; Spark's min keeps the first zero
    assert repr(zeros) == repr([("f", "min", -0.0, 0.0)]), zeros
    # the all-NaN file: min and max NaN, as Spark computes them
    (nan_file,) = [f for f in files.values()
                   if f["numRecords"] == 3]
    assert nan_file["stats"]["d"]["min"] != nan_file["stats"]["d"]["min"]
    assert nan_file["stats"]["nul"] == {"min": None, "max": None}


def test_footer_stats_for_partition_columns(spark, tmp_path):
    """Partition columns' stats are their typed, unescaped directory
    values (NULL partition → None), equal to a Spark min/max over each
    file, for int, string and date partitions."""
    import datetime

    ddl = "p INT, s STRING, dt DATE, v DOUBLE"
    t = TxTable.create(spark, str(tmp_path / "part"),
                       StructType.fromDDL(ddl), partition_by=["p", "s", "dt"])
    day = datetime.date(2024, 2, 29)
    t.write(spark.createDataFrame([
        (1, "a:b", day, 1.0), (1, "a:b", day, 2.0), (-3, "a/b", None, 3.0),
        (None, "é", day, 4.0), (7, None, day, float("nan")),
    ], ddl))
    assert _stats_differences(spark, t) == []
    stats = {(f["stats"]["p"]["min"], f["stats"]["s"]["min"],
              f["stats"]["dt"]["min"]) for f in t.snapshot().files.values()}
    assert stats == {(1, "a:b", "2024-02-29"), (-3, "a/b", None),
                     (None, "é", "2024-02-29"), (7, None, "2024-02-29")}


# -- log checkpointing ----------------------------------------------------


def test_checkpoint_written_and_resolves_without_old_commits(
    spark, tmp_path
):
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import (
        _checkpoint_path,
        _commit_path,
        _list_checkpoints,
    )

    t = TxTable.create(spark, str(tmp_path / "cp"), SCHEMA)
    t.checkpoint_interval = 5
    for i in range(12):
        t.write(
            _df(spark, [(i, "a", i)]).coalesce(1), stats_cols=["id"]
        )
    assert _list_checkpoints(t.root) == [5, 10]
    assert os.path.exists(_checkpoint_path(t.root, 10))
    # sever the pre-checkpoint history: resolution must use the manifest
    for v in range(0, 5):
        os.rename(_commit_path(t.root, v), _commit_path(t.root, v) + ".bak")
    assert t.read().count() == 12
    assert t.snapshot().version == 12
    # stats survive the parquet round-trip (pruning still works)
    hit = t.read(predicates=[("id", ">=", 11)])
    assert [r.id for r in hit.collect()] == [11]
    # time travel into checkpoint+replay range works...
    assert t.read(version=7).count() == 7
    # ...but a version below the oldest covering checkpoint now raises
    with pytest.raises(ValueError, match="missing|does not exist"):
        t.read(version=3)


def test_change_feed_merge_with_schema_evolution(spark, table):
    # one commit that BOTH evolves the schema and rewrites a file: the
    # change rows must carry the evolved column and correct row types
    table.write(_df(spark, [(1, "a", 1)]).coalesce(1))
    evolved = StructType(SCHEMA.fields + [StructField("score", DoubleType())])
    src = spark.createDataFrame([(1, "a", 100, 0.5), (2, "b", 2, 0.9)],
                                evolved)
    v = table.merge(src, keys=["id"], merge_schema=True)
    cdf = table.change_feed(from_version=v, to_version=v)
    rows = sorted((r.id, r._change_type, r.v, r.score) for r in cdf.collect())
    assert rows == [
        (1, "update_postimage", 100, 0.5),
        (1, "update_preimage", 1, None),
        (2, "insert", 2, 0.9),
    ]


def test_restore_across_schema_evolution(spark, table):
    table.write(_df(spark, [(1, "a", 1)]))
    evolved = StructType(SCHEMA.fields + [StructField("score", DoubleType())])
    table.write(
        spark.createDataFrame([(2, "b", 2, 0.5)], evolved), merge_schema=True
    )
    assert "score" in table.read().columns
    rv = table.restore_to_version(1)
    restored = table.read()
    assert "score" not in restored.columns
    assert [r.id for r in restored.collect()] == [1]
    # the evolved version is still reachable, with its evolved schema
    assert "score" in table.read(version=rv - 1).columns


def test_vacuum_collects_cdc_files_then_feed_raises(spark, table):
    table.write(_df(spark, [(1, "a", 1)]).coalesce(1))
    v = table.update(F.col("id") == 1, {"v": F.lit(9)})
    assert table.change_feed(from_version=v, to_version=v).count() == 2
    doomed = table.vacuum(retention_hours=0)
    assert any(p.startswith("_change_data") for p in doomed)
    with pytest.raises(VacuumedFileError, match="change file"):
        table.change_feed(from_version=v, to_version=v).count()


def test_checkpoint_preserves_schema_generations(spark, tmp_path):
    # evolve, then cross a checkpoint boundary: the manifest must keep
    # each file's write-time schema so old-generation files still read
    t = TxTable.create(spark, str(tmp_path / "cpg"), SCHEMA)
    t.checkpoint_interval = 3
    t.write(_df(spark, [(1, "a", 1)]))
    evolved = StructType(SCHEMA.fields + [StructField("score", DoubleType())])
    t.write(
        spark.createDataFrame([(2, "b", 2, 0.5)], evolved), merge_schema=True
    )
    t.write(
        spark.createDataFrame([(3, "c", 3, 0.7)], evolved)
    )  # commit 3 -> checkpoint written
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import (
        _list_checkpoints,
    )

    assert 3 in _list_checkpoints(t.root)
    t.write(spark.createDataFrame([(4, "d", 4, 0.9)], evolved))
    got = {r.id: r.score for r in t.read().collect()}
    assert got == {1: None, 2: 0.5, 3: 0.7, 4: 0.9}


def test_stats_collected_by_default(spark, tmp_path):
    # Delta parity: min/max stats index the leading columns without the
    # writer opting in, so log-side file skipping works out of the box.
    t = TxTable.create(spark, str(tmp_path / "as"), SCHEMA)
    t.write(_df(spark, [(i, "a", i) for i in range(0, 10)]).coalesce(1))
    t.write(_df(spark, [(i, "a", i) for i in range(100, 110)]).coalesce(1))
    snap = t.snapshot()
    assert all(
        f.get("stats", {}).get("id", {}).get("min") is not None
        for f in snap.files.values()
    )
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import _prune

    assert len(_prune(snap, [("id", ">=", 100)])) == 1
    # explicit empty list disables collection
    t2 = TxTable.create(spark, str(tmp_path / "ns"), SCHEMA)
    t2.write(_df(spark, [(1, "a", 1)]), stats_cols=[])
    assert all(
        not f.get("stats") for f in t2.snapshot().files.values()
    )


def test_read_predicates_row_exact_without_stats(spark, tmp_path):
    # a file kept for lack of stats must still have non-matching rows
    # filtered: predicates are exact, pruning is only an optimization
    t = TxTable.create(spark, str(tmp_path / "rp"), SCHEMA)
    t.write(_df(spark, [(i, "a", i) for i in range(10)]), stats_cols=[])
    got = sorted(r.id for r in t.read(predicates=[("id", ">=", 7)]).collect())
    assert got == [7, 8, 9]


def test_dml_predicates_prune_probe_and_stay_correct(spark, table):
    # partition-scoped DELETE with a pruning hint: result identical,
    # untouched partitions physically survive, and the hint must be
    # implied by cond (here day='a' both prunes and filters)
    table.write(_df(spark, [(1, "a", 1), (2, "b", 2), (3, "c", 3)]))
    before_b = {p for p in table.snapshot().files if p.startswith("day=b")}
    table.delete(F.col("day") == "a", predicates=[("day", "=", "a")])
    assert sorted(r.id for r in table.read().collect()) == [2, 3]
    assert before_b <= set(table.snapshot().files)
    table.update(
        F.col("day") == "b", {"v": F.lit(99)}, predicates=[("day", "=", "b")]
    )
    got = {r.id: r.v for r in table.read().collect()}
    assert got == {2: 99, 3: 3}


def test_concurrent_disjoint_rewrite_auto_retries(spark, table, monkeypatch):
    # rewrite vs rewrite of DIFFERENT files: the loser must re-resolve
    # and commit on the next version, not raise (WriteSerializable)
    from real_time_video_streaming_analytics_lakehouse_spark.operators import txlog

    table.write(_df(spark, [(1, "a", 1), (2, "b", 2)]))
    other = sorted(
        p for p in table.snapshot().files if p.startswith("day=b")
    )[0]
    orig = txlog._publish_commit
    state = {"raced": False}

    def racing(root, version, action):
        if not state["raced"] and action.get("operation") == "DELETE":
            state["raced"] = True
            orig(root, version, {
                "version": version, "timestamp_ms": 0,
                "operation": "DELETE", "operationParameters": {},
                "add": [], "remove": [other],  # disjoint: day=b file
            })
        orig(root, version, action)

    monkeypatch.setattr(txlog, "_publish_commit", racing)
    v = table.delete(F.col("day") == "a", predicates=[("day", "=", "a")])
    assert state["raced"]
    # competing commit claimed version 2; our delete landed on 3
    assert v == 3
    assert table.snapshot().version == 3
    assert [r.id for r in table.read().collect()] == []  # both deletes applied


# -- round 5: merge sources missing table columns, pre-txlog adoption,
#    predicate validation -------------------------------------------------


def test_merge_schema_source_missing_column_keeps_target_values(
    spark, table
):
    # Delta updateAll + schema.autoMerge: a source that LACKS a table
    # column must leave that column unchanged on matched rows (the
    # null-filled alignment is for inserts only) — a naive aligned
    # updateAll would null-overwrite v on every matched row.
    table.write(_df(spark, [(1, "a", 10), (2, "b", 20)]))
    narrow = spark.createDataFrame(
        [(1, "a2"), (3, "c")],
        StructType([StructField("id", LongType()),
                    StructField("day", StringType())]),
    )
    table.merge(narrow, keys=["id"], merge_schema=True)
    got = {r.id: (r.day, r.v) for r in table.read().collect()}
    assert got == {
        1: ("a2", 10),   # matched: day updated, v KEPT (not nulled)
        2: ("b", 20),    # untouched
        3: ("c", None),  # insert: v legitimately null
    }


def test_merge_schema_source_missing_and_adding_columns(spark, table):
    # combined evolution: source drops v, adds score — matched rows keep
    # v AND gain score; pre-existing rows get score null
    table.write(_df(spark, [(1, "a", 10), (2, "b", 20)]))
    src = spark.createDataFrame(
        [(1, "a", 0.5)],
        StructType([StructField("id", LongType()),
                    StructField("day", StringType()),
                    StructField("score", DoubleType())]),
    )
    table.merge(src, keys=["id"], merge_schema=True)
    got = {r.id: (r.v, r.score) for r in table.read().collect()}
    assert got == {1: (10, 0.5), 2: (20, None)}


def test_merge_schema_missing_column_cdf_postimage_keeps_target(
    spark, table
):
    # the update_postimage change rows must show the KEPT target value,
    # not a null-overwrite
    table.write(_df(spark, [(1, "a", 10)]))
    narrow = spark.createDataFrame(
        [(1, "a2")],
        StructType([StructField("id", LongType()),
                    StructField("day", StringType())]),
    )
    table.merge(narrow, keys=["id"], merge_schema=True)
    post = [
        r for r in table.change_feed(2, 2).collect()
        if r._change_type == "update_postimage"
    ]
    assert [(r.id, r.day, r.v) for r in post] == [(1, "a2", 10)]


def test_create_rejects_logless_parquet_dir(spark, tmp_path):
    # a directory with parquet data but no _txlog is a PRE-txlog table:
    # create() must refuse (a fresh empty log would shadow every
    # existing row and VACUUM would later delete them as strays)
    plain = str(tmp_path / "plain")
    _df(spark, [(1, "a", 1), (2, "b", 2)]).write.parquet(plain)
    with pytest.raises(FileExistsError, match="bootstrap"):
        TxTable.create(spark, plain, SCHEMA)


def test_bootstrap_adopts_plain_parquet_dir(spark, tmp_path):
    plain = str(tmp_path / "plain")
    _df(spark, [(1, "a", 1), (2, "b", 2)]).write.parquet(plain)
    t = TxTable.bootstrap(spark, plain)
    assert {r.id for r in t.read().collect()} == {1, 2}
    # adopted files carry numRecords + min/max stats (one scan), so
    # log-side pruning works immediately
    assert all(
        f.get("numRecords") and f.get("stats", {}).get("id")
        for f in t.snapshot().files.values()
    )
    # adopted files are tracked: a later merge + vacuum keeps them
    t.merge(_df(spark, [(2, "b", 20), (3, "c", 3)]), keys=["id"])
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {1: 1, 2: 20, 3: 3}
    t.vacuum(retention_hours=0)
    assert {r.id: r.v for r in t.read().collect()} == {1: 1, 2: 20, 3: 3}


def test_bootstrap_adopts_hive_partitioned_dir(spark, tmp_path):
    plain = str(tmp_path / "part")
    _df(spark, [(1, "a", 1), (2, "b", 2)]).write.partitionBy(
        "day"
    ).parquet(plain)
    t = TxTable.bootstrap(spark, plain)
    assert t.snapshot().partition_by == ["day"]
    assert {(r.id, r.day) for r in t.read().collect()} == {
        (1, "a"), (2, "b")
    }


def test_read_rejects_unsupported_predicate_op(spark, table):
    table.write(_df(spark, [(1, "a", 1)]))
    with pytest.raises(ValueError, match="unsupported predicate op"):
        table.read(predicates=[("v", "!=", 1)])
    with pytest.raises(ValueError, match="unsupported predicate op"):
        table.delete(F.col("v") == 1, predicates=[("v", "<>", 1)])


def test_merge_null_key_rows_update_not_duplicate(spark, tmp_path):
    """NULL join keys must behave like any other key value under MERGE
    (Delta MERGE conditions written with <=> semantics): re-merging a
    NULL-key row UPDATES the existing row instead of inserting a
    duplicate every time — the silent-accumulation trap of plain
    `=`-joins, which never match NULL=NULL."""
    from pyspark.sql.types import StructType

    ddl = "k STRING, v INT"
    t = TxTable.create(spark, str(tmp_path / "nk"), StructType.fromDDL(ddl))
    t.write(spark.createDataFrame([("a", 1), (None, 10)], ddl))
    for v in (20, 30):
        t.merge(spark.createDataFrame([(None, v)], ddl), keys=["k"])
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert rows == {"a": 1, None: 30}
    assert t.read().count() == 2


def test_delete_keeps_null_condition_rows(spark, tmp_path):
    """DELETE removes rows where cond is TRUE; rows where it is NULL
    (e.g. x > 5 over NULL x) are SURVIVORS, not silent losses — Delta
    semantics. The CDC delete rows carry only the true matches."""
    from pyspark.sql.types import StructType

    ddl = "id INT, x INT"
    t = TxTable.create(
        spark, str(tmp_path / "nd"), StructType.fromDDL(ddl),
        properties={"delta.enableChangeDataFeed": "true"},
    )
    t.write(spark.createDataFrame([(1, 1), (2, 10), (3, None)], ddl))
    t.delete(F.col("x") > 5)
    rows = {r["id"]: r["x"] for r in t.read().collect()}
    assert rows == {1: 1, 3: None}
    deleted = (
        t.change_feed(from_version=2)
        .filter(F.col("_change_type") == "delete")
        .collect()
    )
    assert [r["id"] for r in deleted] == [2]


def test_vacuum_collects_crashed_stage_dirs(spark, tmp_path, table):
    """A writer that dies between staging and renaming leaks a full
    sibling copy (`<root>__stage_*`); vacuum past retention must
    reclaim it (the module docstring's crash-garbage promise)."""
    import os

    table.write(_df(spark, [(1, "2024-01-01", 1)]))
    stage = table.root + "__stage_v9_deadbeef"
    os.makedirs(stage, exist_ok=True)
    with open(os.path.join(stage, "part-crashed.parquet"), "wb") as f:
        f.write(b"crash")
    doomed = table.vacuum(retention_hours=0)
    assert not os.path.exists(stage)
    assert any("__stage_v9_deadbeef" in p for p in doomed)


def test_cleanup_log_retention_contracts(spark, tmp_path):
    """Commit-log retention (Delta logRetentionDuration analog):
    commits below the newest checkpoint and past retention are deleted;
    reads/history keep working from checkpoint + tail; time travel to a
    cleaned version raises the documented missing-commits error."""
    t = TxTable.create(spark, str(tmp_path / "lr"), SCHEMA,
                       partition_by=["day"])
    t.checkpoint_interval = 5
    for i in range(7):
        t.write(_df(spark, [(i, "a", i)]))
    assert t.snapshot().version == 7
    # nothing cleaned while retention covers everything
    assert t.cleanup_log(retention_hours=1.0) == []
    dry = t.cleanup_log(retention_hours=0.0, dry_run=True)
    dropped = t.cleanup_log(retention_hours=0.0)
    assert dropped == dry == [0, 1, 2, 3, 4]  # 5 = newest checkpoint
    # current reads resolve from the checkpoint + retained tail
    assert t.read().count() == 7
    assert t.snapshot().version == 7
    # history shrinks to the retained commits (like Delta)
    assert [r.version for r in t.history().collect()] == [7, 6, 5]
    # time travel below the checkpoint now raises the documented error
    with pytest.raises(ValueError, match="missing|does not exist"):
        t.read(version=3)
    # time travel AT the checkpoint version still works
    assert t.read(version=5).count() == 5
    # idempotent
    assert t.cleanup_log(retention_hours=0.0) == []


def test_bloom_index_skips_files_without_false_negatives(spark, tmp_path):
    """Opt-in bloom file index (Delta's bloom filter index analog):
    equality predicates skip files whose bitmap proves the value
    absent; EVERY present value keeps its file (no false negatives,
    checked exhaustively); rewrites and checkpoints preserve bitmaps;
    range predicates and unindexed columns are unaffected."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import _prune

    t = TxTable.create(
        spark, str(tmp_path / "bf"), SCHEMA,
        properties={"bloom.columns": "id,day", "bloom.bits": "256",
                    "bloom.hashes": "3"},
    )
    # ids interleave across files so MIN/MAX ranges overlap everywhere
    # and range-stats pruning alone can skip nothing
    t.write(_df(spark, [(1, "x1", 1), (100, "x100", 2)]).coalesce(1))
    t.write(_df(spark, [(2, "x2", 3), (101, "x101", 4)]).coalesce(1))
    t.write(_df(spark, [(3, "x3", 5), (102, "x102", 6)]).coalesce(1))
    snap = t.snapshot()
    assert len(snap.files) == 3
    for f in snap.files.values():
        assert set(f["bloom"]) == {"id", "day"}
    # bloom skips where min/max cannot: id=2 is inside every file's range
    kept = _prune(snap, [("id", "=", 2)])
    assert len(kept) == 1
    # no false negatives: every present value keeps exactly its file
    for rid in (1, 2, 3, 100, 101, 102):
        assert len(_prune(snap, [("id", "=", rid)])) == 1
    for day in ("x1", "x2", "x102"):
        assert len(_prune(snap, [("day", "=", day)])) == 1
    # absent values can prune everything; reads stay exact
    assert t.read(predicates=[("id", "=", 999)]).count() == 0
    assert t.read(predicates=[("id", "=", 2)]).count() == 1
    # v (int, unindexed) and range ops keep working through stats
    assert t.read(predicates=[("v", ">=", 5)]).count() == 2

    # DML rewrite keeps the index on rewritten files
    t.update(F.col("id") == 2, {"v": F.lit(30)})
    snap2 = t.snapshot()
    assert all("bloom" in f for f in snap2.files.values())
    assert len(_prune(snap2, [("id", "=", 2)])) == 1

    # checkpoint round-trip preserves bitmaps
    t.checkpoint_interval = 1
    t.write(_df(spark, [(4, "x4", 7)]))
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import _resolve

    snap3 = _resolve(t.root, t.snapshot().version)
    blooms = [f.get("bloom") for f in snap3.files.values()]
    assert all(blooms)
    assert len(_prune(snap3, [("id", "=", 4)])) == 1


def test_bloom_skips_ineligible_types_and_null_values(spark, tmp_path):
    t = TxTable.create(
        spark, str(tmp_path / "bf2"),
        StructType([
            StructField("id", LongType()),
            StructField("score", DoubleType()),
        ]),
        properties={"bloom.columns": "id,score,missing_col"},
    )
    t.write(spark.createDataFrame(
        [(1, 0.5), (None, None)], "id long, score double"
    ))
    f = next(iter(t.snapshot().files.values()))
    # double + unknown columns are not indexed; eligible id is
    assert set(f["bloom"]) == {"id"}
    # NULL id rows only add a harmless phantom position; probing the
    # real value still keeps the file, and reads stay exact
    assert t.read(predicates=[("id", "=", 1)]).count() == 1


def test_bloom_ignores_type_mismatched_literals(spark, tmp_path):
    """A float (or bool) literal against an int-indexed column must NOT
    consult the bloom — str(2.0) = '2.0' never matches the indexed '2'
    and would false-negative-prune; the stats range path still applies
    and reads stay exact."""
    t = TxTable.create(
        spark, str(tmp_path / "bf3"), SCHEMA,
        properties={"bloom.columns": "id"},
    )
    t.write(_df(spark, [(2, "a", 1)]))
    assert t.read(predicates=[("id", "=", 2.0)]).count() == 1
    assert t.read(predicates=[("id", "=", 2)]).count() == 1


def test_txn_stamps_survive_log_cleanup(spark, tmp_path):
    """Exactly-once replay protection across log retention: the
    checkpoint records the app->txnVersion map (Delta keeps
    SetTransaction actions in checkpoints for the same reason), so a
    stamp whose commit was retention-cleaned is still returned and a
    newer post-checkpoint stamp still wins."""
    t = TxTable.create(spark, str(tmp_path / "tx"), SCHEMA)
    t.checkpoint_interval = 5
    t.write(_df(spark, [(1, "a", 1)]),
            params={"txnAppId": "app", "txnVersion": 3})      # v1
    t.write(_df(spark, [(2, "a", 2)]),
            params={"txnAppId": "other", "txnVersion": 9})    # v2
    for i in range(3, 7):
        t.write(_df(spark, [(i, "a", i)]))                    # v3..v6
    assert t.cleanup_log(retention_hours=0.0) == [0, 1, 2, 3, 4]
    assert t.txn_version("app") == 3      # stamp only in cleaned v1
    assert t.txn_version("other") == 9
    assert t.txn_version("never") is None
    # a post-checkpoint stamp overrides the checkpointed one
    t.write(_df(spark, [(9, "a", 9)]),
            params={"txnAppId": "app", "txnVersion": 4})
    assert t.txn_version("app") == 4
    # and survives the NEXT checkpoint + cleanup cycle
    for i in range(10, 14):
        t.write(_df(spark, [(i, "a", i)]))
    assert t.cleanup_log(retention_hours=0.0)
    assert t.txn_version("app") == 4
    assert t.txn_version("other") == 9


def test_bloom_never_indexes_partition_columns(spark, tmp_path):
    """Partition columns are excluded from bloom indexing everywhere:
    partitionValues already prune them EXACTLY, and on the bootstrap
    path their inferred type can differ from the stored directory
    string (day='01' inferred INT 1) — a bitmap built from the retyped
    value false-negatives every true-literal probe (reproduced before
    the exclusion). Reads by the true string stay exact on both the
    write and bootstrap paths."""
    t = TxTable.create(
        spark, str(tmp_path / "bfs"), SCHEMA, partition_by=["day"],
        properties={"bloom.columns": "day,id"},
    )
    t.write(_df(spark, [(1, "01", 1), (2, "02", 2)]))
    for f in t.snapshot().files.values():
        assert set(f.get("bloom", {})) == {"id"}  # day excluded
    assert t.read(predicates=[("day", "=", "01")]).count() == 1
    assert t.read(predicates=[("day", "=", "02")]).count() == 1

    # bootstrap path: adopt a plain hive dir with numeric-looking
    # string partition values, bloom opted in
    import pyspark.sql.functions as F2

    plain = str(tmp_path / "plain")
    _df(spark, [(1, "01", 1), (2, "02", 2)]).write.partitionBy(
        "day"
    ).parquet(plain)
    t2 = TxTable.bootstrap(spark, plain,
                           properties={"bloom.columns": "day,id"})
    for f in t2.snapshot().files.values():
        assert "day" not in f.get("bloom", {})
    assert t2.read(predicates=[("day", "=", "01")]).count() == 1
    assert t2.read(predicates=[("id", "=", 2)]).count() == 1


def test_merge_collects_blooms_once_per_commit(spark, tmp_path):
    """Every data file a MERGE commits to a ``bloom.columns`` table
    carries its bitmaps, and each MERGE runs the bloom aggregate once:
    a pure append (keys no file can hold) over its staged source, a
    rewrite over its rewritten files alone, so it runs one job more
    than the same MERGE into a table without bloom columns. The table is
    partitioned, so the bitmaps are read back across partition
    directories. Adaptive execution is off, as in a streaming
    micro-batch."""
    ddl = "id BIGINT, day STRING, v INT"

    def table(name, properties):
        t = TxTable.create(spark, str(tmp_path / name), SCHEMA,
                           partition_by=["day"], properties=properties)
        t.write(_df(spark, [(i, f"d{i % 2}", 0) for i in range(10)]))
        return t

    plain = table("plain", {})
    bloom = table("bloom", {"bloom.columns": "id"})
    batches = [[(20, "d0", 1), (21, "d1", 1)],  # a pure append
               [(3, "d1", 2), (22, "d0", 2)]]  # a rewrite
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for rows in batches:
            jobs = {t: count_jobs(spark, lambda: t.merge(
                        local_relation(spark, rows, ddl), ["id"]))
                    for t in (plain, bloom)}
            assert jobs[bloom][0] == jobs[plain][0] + 1
            adds = _read_commit(bloom.root, jobs[bloom][1])["add"]
            assert adds and all(set(a["bloom"]) == {"id"} for a in adds)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert _read_commit(bloom.root, jobs[bloom][1])["remove"]
    for i, v in [(21, 1), (3, 2), (22, 2), (4, 0)]:
        assert [r.v for r in bloom.read(
            predicates=[("id", "=", i)]).collect()] == [v]


def test_bloom_bits_not_multiple_of_four(spark, tmp_path):
    """bits is stored in the bloom entry, not derived from the hex mask
    width — a non-multiple-of-4 bit count must not shift the probe's
    modulus (every present value keeps its file)."""
    t = TxTable.create(
        spark, str(tmp_path / "bfb"), SCHEMA,
        properties={"bloom.columns": "id", "bloom.bits": "10"},
    )
    rows = [(i, "a", i) for i in range(50)]
    t.write(_df(spark, rows))
    for i in range(50):
        assert t.read(predicates=[("id", "=", i)]).count() == 1, i


def test_object_store_reattach_with_registered_store(spark):
    from real_time_video_streaming_analytics_lakehouse_spark.operators.commitstore import (
        InMemoryCommitStore,
        register_store,
        unregister_store,
    )

    register_store("s3://bucket/re", InMemoryCommitStore())
    try:
        # second handle without store= resolves the registered one
        t = TxTable(spark, "s3://bucket/re")
        assert t.root == "s3://bucket/re"
    finally:
        unregister_store("s3://bucket/re")


def test_cleanup_log_stops_at_first_retained_commit(spark, tmp_path):
    """Contiguous-prefix deletion: a commit newer than the cutoff stops
    cleanup even if later commits are older (ms-level timestamp
    inversions under racing writers) — no interior gaps, ever."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.commitstore import (
        store_for,
    )

    t = TxTable.create(spark, str(tmp_path / "cg"), SCHEMA)
    t.checkpoint_interval = 5
    for i in range(6):
        t.write(_df(spark, [(i, "a", i)]))
    # invert timestamps: commit 2 is "newer" than the cutoff
    store = store_for(t.root)
    c2 = store.read_commit(2)
    c2["timestamp_ms"] = int((__import__("time").time() + 3600) * 1000)
    store.delete_commit(2)
    store.put_commit_if_absent(2, c2)
    assert t.cleanup_log(retention_hours=0.0) == [0, 1]  # stops AT 2


def test_optimize_where_scopes_the_rewrite(spark, tmp_path):
    """Partition-scoped OPTIMIZE (Delta's OPTIMIZE ... WHERE): only the
    files the predicates can match are rewritten; other partitions'
    files survive byte-identical, rows never change, and the commit
    stays dataChange=false (invisible to streams/CDF)."""
    t = TxTable.create(spark, str(tmp_path / "ow"), SCHEMA,
                       partition_by=["day"])
    for i in range(4):  # fragment day=a into 4 files; day=b into 4
        t.write(_df(spark, [(i, "a", i), (100 + i, "b", i)]))
    before = t.snapshot()
    b_files = {p for p, f_ in before.files.items()
               if f_["partitionValues"].get("day") == "b"}
    v = t.optimize(target_files=1, predicates=[("day", "=", "a")])
    snap = t.snapshot()
    assert snap.version == v
    # day=b files untouched, day=a compacted to fewer files
    assert {p for p, f_ in snap.files.items()
            if f_["partitionValues"].get("day") == "b"} == b_files
    a_files = [p for p, f_ in snap.files.items()
               if f_["partitionValues"].get("day") == "a"]
    assert len(a_files) == 1
    assert {(r.id, r.day, r.v) for r in t.read().collect()} == {
        *((i, "a", i) for i in range(4)),
        *((100 + i, "b", i) for i in range(4)),
    }
    # no-match predicate: clean no-op, no new version
    assert t.optimize(predicates=[("day", "=", "zzz")]) == v


def test_bloom_spark_build_equals_python_probe_fuzz(spark):
    """Build/probe parity at the hash level: for 200 random values
    (unicode included) the Spark-side position expression and the
    driver-side Python positions are identical across bit widths and
    hash rows — the invariant the no-false-negatives guarantee rests
    on. One Spark job for the whole fuzz."""
    import random

    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import (
        _bloom_expr,
        _bloom_positions_py,
    )

    rng = random.Random(21)
    alphabet = "abc|:%=01 é中"
    vals = list({
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
        for _ in range(200)
    })
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    for bits, hashes in ((1024, 3), (10, 2)):
        cols = [
            _bloom_expr("v", i, bits).alias(f"p{i}") for i in range(hashes)
        ]
        got = {
            r["v"]: tuple(r[f"p{i}"] for i in range(hashes))
            for r in df.select("v", *cols).collect()
        }
        for v in vals:
            assert got[v] == _bloom_positions_py(v, hashes, bits), (v, bits)
