"""DML commits on the transaction log: key membership and the one write.

* A MERGE tests key membership with a literal predicate when the key
  set is small (``_LITERAL_KEYS_MAX``) and with a broadcast join above
  it; both routes must leave the rows ``merge_upsert`` computes, for
  NULL, quoted and non-ASCII string, timestamp (under a non-UTC session
  time zone), decimal and double (NaN, -0.0) keys and a two-column key.
* DELETE, UPDATE and MERGE stage their data rows and change rows in one
  write; the change feed must equal the expected rows on a table
  partitioned by int, string and date, on the rewrite and the
  deletion-vector routes. Flat change files of older commits still read.
* A small MERGE's probe and rewrite run one task each and its commit
  stages one data file and one change file per change type; a lowered
  ``advisoryPartitionSizeInBytes`` stages several. A MERGE leaves no
  file its commits do not log in the table root, also when it raises.
  ``TxTable.write`` keeps its frame's partitioning.
* A streaming MERGE whose commit fails after staging, on the rewrite
  and on the pure-append route, behind a file source's stateful dedup
  and behind a ``txtable`` source's window aggregate, recovers from its
  checkpoint to the row-identical table, and VACUUM collects the
  orphaned files.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from real_time_video_streaming_analytics_lakehouse_spark.operators import txlog
from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import (
    _LITERAL_KEYS_MAX,
    TxTable,
)
from real_time_video_streaming_analytics_lakehouse_spark.operators.util import (
    sized_to_batch,
)

from .conftest import count_jobs, job_tasks
from .test_txlog import _merge_matches_upsert


@pytest.fixture()
def literal_calls(monkeypatch):
    """Every key set MERGE rendered as a literal predicate (None when a
    key type had no literal); a key set above the cutoff is never
    rendered."""
    calls = []
    real = txlog._literal_membership

    def spy(key_set, key_schema):
        out = real(key_set, key_schema)
        calls.append(out)
        return out

    monkeypatch.setattr(txlog, "_literal_membership", spy)
    return calls


def _table(spark, path, ddl, rows, **kw) -> TxTable:
    t = TxTable.create(spark, str(path), StructType.fromDDL(ddl), **kw)
    t.write(spark.createDataFrame(rows, ddl))
    return t


# -- literal key predicates ----------------------------------------------------


def test_literal_route_null_key(spark, tmp_path, literal_calls):
    ddl = "k BIGINT, v INT"
    t = _table(spark, tmp_path / "n", ddl, [(1, 0), (None, 0), (3, 0)])
    _merge_matches_upsert(spark, t, spark.createDataFrame(
        [(None, 7), (3, 8), (4, 9)], ddl), ["k"])
    assert literal_calls and None not in literal_calls
    assert sorted((r.k or -1, r.v) for r in t.read().collect()) == [
        (-1, 7), (1, 0), (3, 8), (4, 9)]


def test_literal_route_quoted_and_non_ascii_strings(spark, tmp_path,
                                                    literal_calls):
    ddl = "k STRING, v INT"
    keys = ["it's", "back\\slash", "\\'", "é日本", "", "plain"]
    t = _table(spark, tmp_path / "s", ddl, [(k, 0) for k in keys])
    _merge_matches_upsert(spark, t, spark.createDataFrame(
        [(k, i + 1) for i, k in enumerate(keys[:5])] + [("new'", 9)], ddl),
        ["k"])
    assert literal_calls and None not in literal_calls
    assert {r.k: r.v for r in t.read().collect()} == {
        "it's": 1, "back\\slash": 2, "\\'": 3, "é日本": 4, "": 5,
        "plain": 0, "new'": 9}


def test_literal_route_timestamp_key_under_session_time_zone(
    spark, tmp_path, literal_calls
):
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        ddl = "ts TIMESTAMP, v INT"
        base = dt.datetime(2024, 3, 10, 23, 45, 0, 123456)
        stamps = [base + dt.timedelta(minutes=17 * i) for i in range(4)]
        t = _table(spark, tmp_path / "ts", ddl, [(s, 0) for s in stamps])
        src = spark.createDataFrame(
            [(stamps[1], 5), (stamps[3], 6),
             (base + dt.timedelta(days=1), 7)], ddl)
        _merge_matches_upsert(spark, t, src, ["ts"])
        assert literal_calls and None not in literal_calls
        assert sorted(r.v for r in t.read().collect()) == [0, 0, 5, 6, 7]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_literal_route_decimal_and_double_keys(spark, tmp_path,
                                               literal_calls):
    D = decimal.Decimal
    ddl = "k DECIMAL(38,2), v INT"
    big = D("123456789012345678901234567890123456.78")
    t = _table(spark, tmp_path / "dec", ddl,
               [(D("1.10"), 0), (D("-0.01"), 0), (big, 0)])
    _merge_matches_upsert(spark, t, spark.createDataFrame(
        [(D("1.10"), 1), (big, 2), (D("2.00"), 3)], ddl), ["k"])
    assert {r.k: r.v for r in t.read().collect()} == {
        D("1.10"): 1, D("-0.01"): 0, big: 2, D("2.00"): 3}

    nan = float("nan")
    ddl = "k DOUBLE, v INT"
    t = _table(spark, tmp_path / "dbl", ddl,
               [(nan, 0), (0.0, 0), (0.1, 0), (float("inf"), 0)])
    _merge_matches_upsert(spark, t, spark.createDataFrame(
        [(nan, 1), (-0.0, 2), (0.1, 3), (float("inf"), 4), (7.5, 5)], ddl),
        ["k"])
    assert literal_calls and None not in literal_calls
    assert sorted(r.v for r in t.read().collect()) == [1, 2, 3, 4, 5]


def test_literal_route_two_column_key_with_null(spark, tmp_path,
                                                literal_calls):
    ddl = "a BIGINT, b STRING, v INT"
    t = _table(spark, tmp_path / "two", ddl,
               [(1, "x", 0), (1, None, 0), (None, "y", 0), (2, "y", 0)])
    _merge_matches_upsert(spark, t, spark.createDataFrame(
        [(1, None, 5), (None, "y", 6), (2, "y", 7), (2, None, 8)], ddl),
        ["a", "b"])
    assert literal_calls and None not in literal_calls
    assert t.read().count() == 5


def test_timestamp_partition_key_under_session_time_zone(spark, tmp_path):
    """A timestamp partition directory holds its value in the session
    time zone, so a MERGE on that key reads its key set from the staged
    files with Spark, not from their ``partitionValues``; the rows are
    those ``merge_upsert`` computes under a non-UTC time zone."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        ddl = "w TIMESTAMP, e STRING, n BIGINT"
        base = dt.datetime(2024, 1, 1, 23, 30)
        t = TxTable.create(spark, str(tmp_path / "tsp"),
                           StructType.fromDDL(ddl), partition_by=["w"])
        t.write(spark.createDataFrame(
            [(base + dt.timedelta(minutes=45 * i), e, 1)
             for i in range(3) for e in ("click", "view")], ddl))
        _merge_matches_upsert(spark, t, spark.createDataFrame(
            [(base + dt.timedelta(minutes=45), "click", 5),
             (base + dt.timedelta(days=1), "view", 7)], ddl), ["w", "e"])
        assert sorted(r.n for r in t.read().collect()) == [1] * 5 + [5, 7]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


@pytest.mark.parametrize("n, literal", [(_LITERAL_KEYS_MAX, True),
                                        (_LITERAL_KEYS_MAX + 1, False)])
def test_literal_cutoff(spark, tmp_path, literal_calls, n, literal):
    """At the cutoff the key set is a literal predicate; one key more
    and every membership test is a broadcast join. Both routes leave
    the rows ``merge_upsert`` computes."""
    ddl = "k BIGINT, v INT"
    t = _table(spark, tmp_path / "cut", ddl,
               [(i, 0) for i in range(_LITERAL_KEYS_MAX + 10)])
    _merge_matches_upsert(spark, t, spark.createDataFrame(
        [(i, 1) for i in range(n)], ddl), ["k"])
    assert t._last_merge_used_broadcast is True
    assert bool(literal_calls) is literal and None not in literal_calls
    assert sum(r.v for r in t.read().collect()) == n


def test_small_key_merge_runs_three_jobs(spark, tmp_path):
    """Staged source, probe, one rewrite: a MERGE of a few keys into a
    table with live files runs no key-set or broadcast job, and writes
    the touched files' rows, the source's rows and the change rows
    together. Adaptive execution is off, as in a streaming micro-batch
    (with it on, each shuffle is a job of its own). The jobs are counted
    by ``count_jobs``."""
    ddl = "w TIMESTAMP, e STRING, n BIGINT"
    base = dt.datetime(2024, 1, 1)
    rows = [(base + dt.timedelta(minutes=5 * i), e, 1)
            for i in range(6) for e in ("click", "view")]
    t = _table(spark, tmp_path / "jobs", ddl, rows,
               properties={"delta.enableChangeDataFeed": "true"})
    src = spark.createDataFrame(
        [(base + dt.timedelta(minutes=25), "click", 2),
         (base + dt.timedelta(minutes=30), "view", 1)], ddl)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        jobs, v = count_jobs(spark, lambda: t.merge(src, keys=["w", "e"]))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert jobs == 3
    kinds = sorted(r._change_type for r in t.change_feed(v).collect())
    assert kinds == ["insert", "update_postimage", "update_preimage"]


# -- the commit sized to the batch ---------------------------------------------


def _four_file_table(spark, path) -> TxTable:
    ddl = "k BIGINT, s STRING, v INT"
    t = TxTable.create(spark, str(path), StructType.fromDDL(ddl),
                       properties={"delta.enableChangeDataFeed": "true"})
    t.write(spark.createDataFrame(
        [(i, f"s{i}", 0) for i in range(40)], ddl).repartition(4, "k"))
    assert len(t.snapshot().files) == 4
    return t


def _small_batch(spark):
    # one key the table holds, one it does not
    return spark.createDataFrame([(3, "new", 1), (99, "ins", 1)],
                                 "k BIGINT, s STRING, v INT")


def _staged(t: TxTable, version: int) -> tuple[int, dict]:
    """Data files a commit added, and its change files per change type."""
    c = txlog._read_commit(t.root, version)
    per_type: dict[str, int] = {}
    for rel in c.get("cdc", []):
        kind = rel.split(os.sep)[1].split("=", 1)[1]
        per_type[kind] = per_type.get(kind, 0) + 1
    return len(c["add"]), per_type


def test_small_merge_stages_one_file_per_kind_in_single_tasks(spark,
                                                              tmp_path):
    """A micro-batch-sized MERGE into a four-file table: its probe and
    its rewrite each run one task, and the commit stages one data file
    and one change file per change type, not one per shuffle partition,
    although Catalyst cannot size the source (an RDD of Python rows), so
    the write that stages it runs one task per shuffle partition of the
    key dedup. The staged files are gone when the MERGE returns.
    Adaptive execution is off, as in a streaming micro-batch."""
    t = _four_file_table(spark, tmp_path / "small")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        tasks, v = job_tasks(
            spark, lambda: t.merge(_small_batch(spark), keys=["k"]))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(tasks) == 3  # staged source, probe, rewrite
    assert tasks[1:] == [1, 1]
    assert _staged(t, v) == (1, {"insert": 1, "update_postimage": 1,
                                 "update_preimage": 1})
    assert _orphans(t) == set()


def test_merge_under_small_advisory_size_stages_several_files(spark,
                                                              tmp_path):
    """The commit is sized by ``advisoryPartitionSizeInBytes``, not
    coalesced to one file unconditionally: with a 1-byte target the same
    MERGE stages several data files and still leaves the rows
    ``merge_upsert`` computes."""
    t = _four_file_table(spark, tmp_path / "advisory")
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1b")
    try:
        _merge_matches_upsert(spark, t, _small_batch(spark), ["k"])
    finally:
        spark.conf.set(key, old)
    assert _staged(t, t.snapshot().version)[0] > 1


def test_unsized_plan_is_left_as_it_is(spark):
    """A plan Catalyst cannot size (an RDD's, Long.MaxValue bytes) is not
    coalesced, unless the caller knows its size: then that size sizes
    it, and 0 bytes (a no-data batch) is one partition."""
    df = spark.sparkContext.parallelize([(1,), (2,)], 5).toDF(["k"])
    assert sized_to_batch(df) is df
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils \
        .byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    assert sized_to_batch(df, 0).rdd.getNumPartitions() == 1
    assert sized_to_batch(df, advisory + 1).rdd.getNumPartitions() == 2
    # Catalyst's estimate wins over the fallback
    known = spark.range(10).coalesce(5)
    assert sized_to_batch(known, 10 * advisory).rdd.getNumPartitions() == 1


def test_write_keeps_the_frame_partitioning(spark, tmp_path):
    """``TxTable.write`` is not sized to the batch: its upstream is not
    materialized, so an 8-partition frame stages 8 files."""
    df = spark.range(0, 16, numPartitions=8).withColumnRenamed("id", "k")
    t = TxTable.create(spark, str(tmp_path / "w"), df.schema)
    v = t.write(df)
    assert len(txlog._read_commit(t.root, v)["add"]) == 8


def test_merge_leaves_no_uncommitted_file(spark, tmp_path, monkeypatch):
    """Every file a MERGE leaves in the table root is logged by a commit,
    with no VACUUM: an empty source, as in a no-data micro-batch,
    commits and keeps nothing, into a table with no files and into one
    with files; a ``merge_schema`` source that lacks a table column and
    matches keys rewrites with the target's values of that column; a
    source Catalyst cannot size appends one file; and a MERGE that
    raises after its probe or in its rewrite leaves its staged files
    behind neither."""
    ddl = "id BIGINT, day STRING, v INT"
    t = TxTable.create(spark, str(tmp_path / "t"), StructType.fromDDL(ddl))
    empty = spark.createDataFrame([], ddl)
    assert t.merge(empty, keys=["id"]) == 0
    t.write(spark.createDataFrame([(1, "a", 10), (2, "b", 20)], ddl))
    assert t.merge(empty, keys=["id"]) == 1
    assert _orphans(t) == set()

    narrow = spark.createDataFrame([(1, "a2"), (3, "c")],
                                   "id BIGINT, day STRING")
    v = t.merge(narrow, keys=["id"], merge_schema=True)
    assert _orphans(t) == set()
    assert {r.id: (r.day, r.v) for r in t.read().collect()} == {
        1: ("a2", 10), 2: ("b", 20), 3: ("c", None)}
    assert sorted((r._change_type, r.id, r.v)
                  for r in t.change_feed(v, v).collect()) == [
        ("insert", 3, None), ("update_postimage", 1, 10),
        ("update_preimage", 1, 10)]

    # keys above every file's range: a pure append
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        v = t.merge(spark.createDataFrame(
            [(10 + i, "n", i) for i in range(6)], ddl), keys=["id"])
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert _staged(t, v) == (1, {})
    assert _orphans(t) == set()

    def fail(*args, **kwargs):
        raise RuntimeError("injected failure")

    for step in ("_dv_split", "_rewrite"):  # after the probe, the rewrite
        monkeypatch.setattr(TxTable, step, fail)
        with pytest.raises(RuntimeError, match="injected failure"):
            t.merge(spark.createDataFrame([(2, "b2", 21)], ddl), keys=["id"])
        monkeypatch.undo()
        assert t.snapshot().version == v
        assert _orphans(t) == set()
    assert t.read().count() == 9


# -- one write: data and change rows -------------------------------------------

PART_DDL = "id BIGINT, p INT, s STRING, d DATE, v INT"
D1, D2 = dt.date(2024, 1, 1), dt.date(2024, 2, 29)


def _changes(t: TxTable, version: int) -> list[tuple]:
    return sorted(
        (r._change_type, r.id, r.p, r.s, r.d, r.v)
        for r in t.change_feed(version, version).collect()
    )


@pytest.mark.parametrize("dv", [False, True])
def test_partitioned_change_feed_after_merge_update_delete(spark, tmp_path,
                                                           dv):
    """Each partition holds four rows and each DML touches one of them,
    so with deletion vectors on every touched file takes the DV route."""
    parts = [(1, "a:b", D1), (2, "a/b", D2), (3, None, D1), (None, "x", D2)]
    rows = [(10 * j + i, p, s, d, 0)
            for j, (p, s, d) in enumerate(parts) for i in range(4)]
    props = {"dv.enabled": "true"} if dv else {}
    t = TxTable.create(spark, str(tmp_path / "pt"),
                       StructType.fromDDL(PART_DDL),
                       partition_by=["p", "s", "d"], properties=props)
    t.write(spark.createDataFrame(rows, PART_DDL))
    state = {r[0]: r for r in rows}

    # id 12 moves to another partition; id 40 is new
    src = [(1, 1, "a:b", D1, 5), (12, 3, None, D1, 6), (40, 2, "a/b", D2, 7)]
    v = t.merge(spark.createDataFrame(src, PART_DDL), keys=["id"])
    assert _changes(t, v) == sorted(
        [("update_preimage", *state[1][:5]), ("update_postimage", *src[0]),
         ("update_preimage", *state[12][:5]), ("update_postimage", *src[1]),
         ("insert", *src[2])])
    state.update({r[0]: r for r in src})

    v = t.update(F.col("id") == 21, {"v": F.col("v") + 100})
    new = state[21][:4] + (100,)
    assert _changes(t, v) == [("update_postimage", *new),
                              ("update_preimage", *state[21])]
    state[21] = new

    v = t.delete(F.col("id").isin(2, 31))
    assert _changes(t, v) == sorted(
        [("delete", *state[2]), ("delete", *state[31])])
    del state[2], state[31]

    assert sorted(tuple(r) for r in t.read().select(
        "id", "p", "s", "d", "v").collect()) == sorted(
        state.values(), key=lambda r: r[0])
    commits = [txlog._read_commit(t.root, x) for x in range(2, v + 1)]
    assert all(("dvc" in c) is dv for c in commits)
    for c in commits:
        for rel in c["cdc"]:
            parts_ = rel.split(os.sep)
            assert parts_[0] == "_change_data"
            assert parts_[1].startswith("_change_type=")
            assert [x.split("=")[0] for x in parts_[2:5]] == ["p", "s", "d"]
            names = pq.read_schema(os.path.join(t.root, rel)).names
            assert sorted(names) == ["id", "v"]
        for add in c["add"]:
            assert not add["path"].startswith("_change_type")


def test_legacy_flat_change_file_still_reads(spark, tmp_path):
    """A commit written before change rows were staged with the data
    rows logged flat change files holding every column plus
    ``_change_type``; the feed still serves them."""
    ddl = "id BIGINT, p STRING, v INT"
    t = TxTable.create(spark, str(tmp_path / "legacy"),
                       StructType.fromDDL(ddl), partition_by=["p"])
    t.write(spark.createDataFrame([(1, "a:b", 0), (2, "b", 0)], ddl))
    rel = os.path.join("_change_data", "cdc-0000000002-legacy-00000.parquet")
    (spark.createDataFrame(
        [(1, "a:b", 0, "update_preimage"), (1, "a:b", 9, "update_postimage")],
        ddl + ", _change_type STRING",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "flat")))
    os.makedirs(os.path.join(t.root, "_change_data"))
    os.rename(glob.glob(str(tmp_path / "flat" / "*.parquet"))[0],
              os.path.join(t.root, rel))
    txlog._publish_commit(t.root, 2, {
        "version": 2, "timestamp_ms": 1, "operation": "UPDATE",
        "operationParameters": {}, "fileSchema": t.snapshot().schema.json(),
        "add": [], "remove": [], "cdc": [rel],
    })
    got = sorted((r._change_type, r.id, r.p, r.v, r._commit_version)
                 for r in t.change_feed(2).collect())
    assert got == [("update_postimage", 1, "a:b", 9, 2),
                   ("update_preimage", 1, "a:b", 0, 2)]


# -- crash after staging, streaming MERGE recovery ----------------------------


def _land(spark, src_dir: str, batches, first: int = 0) -> None:
    """One parquet file per batch in ``src_dir``, with modification
    times that order the files (a file source reads them in that
    order); ``first`` is the first batch's place in that order."""
    for i, rows in enumerate(batches, first):
        before = set(glob.glob(f"{src_dir}/*.parquet"))
        spark.createDataFrame(rows).coalesce(1).write.mode("append") \
            .parquet(src_dir)
        for f in set(glob.glob(f"{src_dir}/*.parquet")) - before:
            os.utime(f, (1700000000 + i * 100, 1700000000 + i * 100))


def _run_stream(spark, src_dir: str, target: str, ckpt: str,
                dedup: bool = False):
    """Drain the files of ``src_dir`` into ``target``, one file per
    micro-batch; ``dedup`` puts ``dedup_stream_within_watermark`` (a
    stateful stage) in front of the sink."""
    from real_time_video_streaming_analytics_lakehouse_spark.streaming import (
        dedup_stream_within_watermark,
        run_merge_stream_versioned,
        stream_events_from_files,
    )

    src = stream_events_from_files(
        spark, src_dir, spark.read.parquet(src_dir).schema,
        max_files_per_trigger=1,
    )
    if dedup:
        src = dedup_stream_within_watermark(src)
    q = run_merge_stream_versioned(src, target, ckpt, keys=["event_id"],
                                   precedence_col="ts", app_id="crash")
    q.awaitTermination(120)
    return q


def _feed(t: TxTable) -> list[tuple]:
    return sorted(
        (r._change_type, r._commit_version, r.event_id, r.event_type, r.value)
        for r in t.change_feed(1).collect()
    )


def _files_on_disk(root: str) -> set[str]:
    return {os.path.relpath(p, root)
            for p in glob.glob(f"{root}/**/*.parquet", recursive=True)
            if not os.path.relpath(p, root).startswith("_txlog")}


def _fail_publish_once(monkeypatch, fail_version: int) -> list[int]:
    """Make the commit of ``fail_version`` fail once, after its files
    are staged; returns the list the failed version is appended to."""
    real = txlog._publish_commit
    failed = []

    def publish_once_failing(root, version, action):
        if version == fail_version and not failed:  # after staging
            failed.append(version)
            raise RuntimeError("injected failure before the log commit")
        return real(root, version, action)

    monkeypatch.setattr(txlog, "_publish_commit", publish_once_failing)
    return failed


def _orphans(tx: TxTable) -> set[str]:
    """Files under the table root that no commit logs."""
    logged = set()
    for v in txlog._list_versions(tx.root):
        c = txlog._read_commit(tx.root, v)
        logged |= {a["path"] for a in c.get("add", [])} | set(c.get("cdc", []))
    return _files_on_disk(tx.root) - logged


def _txn_versions(tx: TxTable) -> list[int]:
    return sorted(json.loads(r.operationParameters)["txnVersion"]
                  for r in tx.history().collect() if r.operation == "MERGE")


@pytest.mark.parametrize("fail_version, orphan_kinds", [
    (2, {"data", "change"}),  # batch 1: rewrites a file, stages changes
    (4, {"data"}),  # batch 3: new ids only, a pure append
], ids=["rewrite", "append"])
def test_streaming_merge_recovers_from_failed_commit(spark, tmp_path,
                                                     monkeypatch,
                                                     fail_version,
                                                     orphan_kinds):
    """The commit of one batch fails after its files are staged; the
    restarted stream rebuilds the table a run with no fault builds. The
    append case is bronze's per-tick shape: a batch whose keys no live
    file can hold commits with no probe and no change files."""
    t0 = dt.datetime(2024, 1, 1, 12)
    batches = [
        [Row(event_id=i, ts=t0, user_id=i, event_type="view", value=1.0)
         for i in range(4)],
        [Row(event_id=1, ts=t0 + dt.timedelta(minutes=1), user_id=1,
             event_type="click", value=2.0),
         Row(event_id=7, ts=t0, user_id=7, event_type="view", value=3.0)],
        [Row(event_id=2, ts=t0 + dt.timedelta(minutes=2), user_id=2,
             event_type="buy", value=4.0)],
        [Row(event_id=i, ts=t0 + dt.timedelta(minutes=3), user_id=i,
             event_type="view", value=5.0) for i in (10, 11, 12)],
    ]
    src_dir = str(tmp_path / "src")
    _land(spark, src_dir, batches)
    ref = TxTable(spark, str(tmp_path / "ref"))
    _run_stream(spark, src_dir, ref.root, str(tmp_path / "ref_ckpt"))

    failed = _fail_publish_once(monkeypatch, fail_version)
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(Exception, match="injected failure"):
        _run_stream(spark, src_dir, target, ckpt)
    assert failed == [fail_version]
    _run_stream(spark, src_dir, target, ckpt)

    tx = TxTable(spark, target)
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    assert sorted(tuple(r) for r in tx.read().select(*cols).collect()) == \
        sorted(tuple(r) for r in ref.read().select(*cols).collect())
    assert _txn_versions(tx) == [0, 1, 2, 3]
    assert _feed(tx) == _feed(ref)

    orphans = _orphans(tx)
    assert {"change" if p.startswith("_change_data") else "data"
            for p in orphans} == orphan_kinds
    collected = set(tx.vacuum(retention_hours=0))
    assert orphans <= collected
    assert _files_on_disk(tx.root) == set(tx.snapshot().files)
    assert sorted(tuple(r) for r in tx.read().select(*cols).collect()) == \
        sorted(tuple(r) for r in ref.read().select(*cols).collect())


def test_streaming_merge_after_stateful_dedup_recovers_from_failed_commit(
    spark, tmp_path, monkeypatch
):
    """The commit of a batch that comes out of
    ``dedup_stream_within_watermark`` fails after its files are staged.
    The restart replays the batch, its state-store stage included (the
    sink sizes it into the batch's tasks), and rebuilds the table a run
    with no fault builds. A redelivery that lands after the restart is
    still dropped by the restored dedup state."""
    t0 = dt.datetime(2024, 1, 1, 12)
    batches = [
        [Row(event_id=i, ts=t0, user_id=i, event_type="view", value=1.0)
         for i in range(4)],
        # id 1 redelivered, restamped: dropped; id 7 new
        [Row(event_id=1, ts=t0 + dt.timedelta(minutes=1), user_id=1,
             event_type="click", value=2.0),
         Row(event_id=7, ts=t0, user_id=7, event_type="view", value=3.0)],
        [Row(event_id=8, ts=t0 + dt.timedelta(minutes=2), user_id=8,
             event_type="view", value=4.0)],
    ]
    later = [
        [Row(event_id=7, ts=t0 + dt.timedelta(minutes=5), user_id=7,
             event_type="buy", value=9.0),
         Row(event_id=9, ts=t0 + dt.timedelta(minutes=3), user_id=9,
             event_type="view", value=5.0)],
    ]
    src_dir = str(tmp_path / "src")
    ref = TxTable(spark, str(tmp_path / "ref"))
    target, ckpt = str(tmp_path / "target"), str(tmp_path / "ckpt")

    def run(root, checkpoint):
        _run_stream(spark, src_dir, root, checkpoint, dedup=True)

    _land(spark, src_dir, batches)
    run(ref.root, str(tmp_path / "ref_ckpt"))
    failed = _fail_publish_once(monkeypatch, 2)  # batch 1's commit
    with pytest.raises(Exception, match="injected failure"):
        run(target, ckpt)
    assert failed == [2]
    run(target, ckpt)
    _land(spark, src_dir, later, first=len(batches))
    run(ref.root, str(tmp_path / "ref_ckpt"))
    run(target, ckpt)

    tx = TxTable(spark, target)
    got = sorted(tuple(r) for r in tx.read().collect())
    assert got == sorted(tuple(r) for r in ref.read().collect())
    assert sorted(r[0] for r in got) == [0, 1, 2, 3, 7, 8, 9]
    # both redeliveries dropped: ids 1 and 7 keep their first arrival
    assert {r.event_id: r.event_type for r in tx.read().collect()
            if r.event_id in (1, 7)} == {1: "view", 7: "view"}
    versions = _txn_versions(tx)
    assert len(versions) == len(set(versions)) == 4
    assert versions == _txn_versions(ref)
    assert _feed(tx) == _feed(ref)
    assert len(_feed(tx)) == len(set(_feed(tx)))

    orphans = _orphans(tx)
    assert orphans and not any(p.startswith("_change_data") for p in orphans)
    assert orphans <= set(tx.vacuum(retention_hours=0))
    assert _files_on_disk(tx.root) == set(tx.snapshot().files)
    assert sorted(tuple(r) for r in tx.read().collect()) == got


def test_streaming_merge_after_window_aggregate_over_txtable_recovers(
    spark, tmp_path, monkeypatch
):
    """Silver's shape: a ``txtable`` stream over a bronze table ->
    ``user_activity_stream`` -> the sink, sized from the bytes its
    offsets record. The commit of batch 1 fails after its files are
    staged; the restart replays the batch from the same
    ``offsets/1``, in the same task split, and rebuilds the table a run
    with no fault builds."""
    from real_time_video_streaming_analytics_lakehouse_spark.sources.txstream import (
        TxTableDataSource,
        offset_log_bytes,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.streaming import (
        run_merge_stream_versioned,
        user_activity_stream,
    )

    from .conftest import job_stage_tasks

    spark.dataSource.register(TxTableDataSource)
    t0 = dt.datetime(2024, 1, 1, 12)
    commits = [
        [Row(event_id=i, ts=t0 + dt.timedelta(minutes=i), user_id=i % 3,
             event_type="view" if i % 2 else "click", value=float(i))
         for i in range(8)],
        # updates both event types' first window, opens a later one
        [Row(event_id=8, ts=t0 + dt.timedelta(minutes=1), user_id=1,
             event_type="view", value=2.5),
         Row(event_id=9, ts=t0 + dt.timedelta(minutes=3), user_id=2,
             event_type="click", value=4.0),
         Row(event_id=10, ts=t0 + dt.timedelta(minutes=30), user_id=2,
             event_type="view", value=1.0)],
    ]
    bronze = TxTable.create(spark, str(tmp_path / "bronze"),
                            spark.createDataFrame(commits[0]).schema)
    ref = TxTable(spark, str(tmp_path / "ref"))
    target, ckpt = str(tmp_path / "target"), str(tmp_path / "ckpt")

    def drain(root, checkpoint):
        src = (spark.readStream.format("txtable")
               .option("path", bronze.root).load())
        run_merge_stream_versioned(
            user_activity_stream(src), root, checkpoint,
            keys=["window_start", "event_type"], precedence_col="events_cnt",
            output_mode="update", app_id="silver",
        ).awaitTermination(120)

    def feed(t: TxTable) -> list[tuple]:
        return sorted((r._change_type, r._commit_version, r.window_start,
                       r.event_type, r.events_cnt, r.total_value)
                      for r in t.change_feed(1).collect())

    bronze.write(spark.createDataFrame(commits[0]))
    drain(ref.root, str(tmp_path / "ref_ckpt"))
    drain(target, ckpt)
    bronze.write(spark.createDataFrame(commits[1]))
    drain(ref.root, str(tmp_path / "ref_ckpt"))

    failed = _fail_publish_once(monkeypatch, 2)  # batch 1's commit

    def crash():
        with pytest.raises(Exception, match="injected failure"):
            drain(target, ckpt)

    crashed, _ = job_stage_tasks(spark, crash)
    assert failed == [2]
    with open(f"{ckpt}/offsets/1") as f:
        entry = f.read()
    replayed, _ = job_stage_tasks(spark, lambda: drain(target, ckpt))
    with open(f"{ckpt}/offsets/1") as f:
        assert f.read() == entry
    assert offset_log_bytes(ckpt, 1) > 0
    # sized, and the same split: the scan, then the state stage and the
    # keep-latest in one task; the probe and the staged write
    assert [s[1:] for s in crashed[:1]] == [[1]]
    assert crashed[1:] == [[1], [1]]
    assert replayed[:len(crashed)] == crashed

    tx = TxTable(spark, target)
    assert _rows(tx) == _rows(ref)
    versions = _txn_versions(tx)
    assert versions == sorted(set(versions)) == _txn_versions(ref)
    assert feed(tx) == feed(ref)
    assert len(feed(tx)) == len(set(feed(tx)))

    orphans = _orphans(tx)
    assert orphans
    assert orphans <= set(tx.vacuum(retention_hours=0))
    assert _files_on_disk(tx.root) == set(tx.snapshot().files)
    assert _rows(tx) == _rows(ref)


def _rows(tx: TxTable) -> list[tuple]:
    return sorted(tuple(r) for r in tx.read().collect())
