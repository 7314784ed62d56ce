"""Structured Streaming pipelines.

Re-expresses the reference's four streaming jobs
(``spark-jobs/real_time_streaming.py``):

  raw ingest   (:98-211)  → :func:`kafka_stream` / :func:`parse_kafka_events`
                            + file-source variant for broker-less runs
  user activity (:261-312) → :func:`user_activity_stream` (5-min tumbling)
  content popularity (:314-359) → :func:`content_popularity_stream` (10-min)
  anomaly detection (:367-422)  → :func:`anomaly_stream` (1-min + CASE)

Deviations from the reference, by design:
  * Streaming **exact** ``countDistinct`` is unsupported in append mode
    (the reference code would not run — SURVEY.md §5.1); we use
    ``approx_count_distinct`` and verify exact values in the batch
    equivalents (plans/events_views.py), per SURVEY §7.3(1).
  * Sources are swappable: Kafka when a broker exists, parquet-dir file
    streams otherwise — identical downstream plans either way.

Scale notes: each pipeline is watermark + tumbling window → state store
keyed by (window, group). Watermarks bound state size; rate limits
(``maxOffsetsPerTrigger`` / ``maxFilesPerTrigger``) bound micro-batch
size; ``Trigger.AvailableNow`` drains a backlog with those same bounds.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    ArrayType,
    CalendarIntervalType,
    MapType,
    StructType,
    UserDefinedType,
    VariantType,
)

from ..functions.dialect import money_sum


def kafka_stream(
    spark: SparkSession,
    topics: list[str],
    bootstrap_servers: str,
    max_offsets_per_trigger: int = 1000,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka streaming source (reference real_time_streaming.py:98-132).

    Requires the spark-sql-kafka package on the classpath; kept behind
    this factory so everything downstream is source-agnostic.
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", ",".join(topics))
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
        .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
        .load()
    )


def parse_kafka_events(raw: DataFrame, schema: StructType) -> DataFrame:
    """Parse Kafka JSON payloads (reference real_time_streaming.py:134-186):
    from_json against a declared schema, flatten, carry Kafka metadata +
    ingestion timestamp."""
    return (
        raw.select(
            F.from_json(F.col("value").cast("string"), schema).alias("e"),
            F.col("topic"),
            F.col("partition").alias("kafka_partition"),
            F.col("offset").alias("kafka_offset"),
            F.col("timestamp").alias("kafka_timestamp"),
        )
        .select("e.*", "topic", "kafka_partition", "kafka_offset", "kafka_timestamp")
        .withColumn("ingestion_timestamp", F.current_timestamp())
    )


def stream_events_from_files(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int = 100,
) -> DataFrame:
    """File-source stream over a parquet directory (reference's Delta
    stream source, real_time_streaming.py:226-230, minus the Delta log)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def user_activity_stream(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window: str = "5 minutes",
    slide: str | None = None,
) -> DataFrame:
    """User-activity aggregate over tumbling (default) or sliding
    windows (reference real_time_streaming.py:273-298; ``slide``
    shorter than ``window`` assigns each event to window/slide
    overlapping windows — batch-oracled by the sliding arm of
    ``plans.events_views.user_activity_5min``)."""
    w = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("events_cnt"),
            F.approx_count_distinct("user_id").alias("approx_users"),
            money_sum(F.col("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "events_cnt",
            "approx_users",
            "total_value",
        )
    )


def content_popularity_stream(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "15 minutes",
    window: str = "10 minutes",
) -> DataFrame:
    """10-minute content-popularity aggregate with derived engagement
    ratio (reference real_time_streaming.py:314-345)."""
    purchases = F.sum(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    )
    views = F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(
            F.count("*").alias("events_cnt"),
            F.approx_count_distinct("user_id").alias("approx_users"),
            purchases.alias("purchases"),
            views.alias("views"),
            F.max("value").alias("max_value"),
        )
        .withColumn(
            "purchase_per_view",
            F.when(F.col("views") > 0, F.col("purchases") / F.col("views")),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "events_cnt",
            "approx_users",
            "purchases",
            "views",
            "max_value",
            "purchase_per_view",
        )
    )


def anomaly_stream(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "5 minutes",
    window: str = "1 minute",
    burst_threshold: int = 2,
) -> DataFrame:
    """Per-user 1-minute anomaly windows with rule-based labels
    (reference real_time_streaming.py:379-403): aggregate → CASE →
    filter non-normal."""
    agg = (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window).alias("w"), F.col("user_id")
        )
        .agg(
            F.count("*").alias("events_cnt"),
            # count(when(...)) — same idiom as the batch oracle
            # (plans/events_views.py::anomaly_1min) to avoid drift
            F.count(
                F.when(F.col("event_type") == "error", F.lit(1))
            ).alias("errors"),
        )
    )
    anomaly = (
        F.when(
            (F.col("events_cnt") >= burst_threshold) & (F.col("errors") >= 1),
            "error_burst",
        )
        .when(F.col("events_cnt") >= burst_threshold, "high_activity")
        .when(F.col("errors") >= 1, "error")
        .otherwise("normal")
    )
    return (
        agg.withColumn("anomaly_type", anomaly)
        .filter(F.col("anomaly_type") != "normal")
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "events_cnt",
            "errors",
            "anomaly_type",
        )
    )


def purchase_attribution_stream(
    views: DataFrame,
    purchases: DataFrame,
    attribution_window: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the
    same user's preceding view within ``attribution_window``.

    The reference has no stream-stream join (its streams are all
    stream→static aggregations); this extends §2.8 with the canonical
    two-stream pattern. Both sides carry watermarks and the join
    condition bounds event time on both sides, so Spark can size the
    join state and evict rows older than watermark + window — without
    the time bound, stream-stream join state grows forever.

    Emits one row per (view, purchase) attribution pair in append mode.
    """
    v = views.select(
        F.col("user_id"),
        F.col("event_id").alias("view_id"),
        F.col(ts_col).alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col(ts_col).alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (v.user_id == p.p_user_id)
        & (p.purchase_ts >= v.view_ts)
        & (
            p.purchase_ts
            <= v.view_ts + F.expr(f"INTERVAL {attribution_window}")
        )
    )
    return v.join(p, cond, "inner").select(
        "user_id", "view_id", "purchase_id", "view_ts",
        "purchase_ts", "purchase_value",
    )


def dedup_stream(
    events: DataFrame,
    id_col: str = "event_id",
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact-once event dedup: ``dropDuplicates`` on the event
    id with a watermark bounding the dedup state (ids older than the
    watermark are evicted — a duplicate arriving later than the
    watermark delay is NOT caught, which is the standard
    bounded-state trade-off).

    The reference has no streaming dedup (SURVEY §2.8 "Stateful ops:
    none"); this extends the surface for at-least-once sources (Kafka
    redelivery) so the raw→bronze hop can be exactly-once end to end.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicates(
        [id_col, ts_col]
    )


def dedup_stream_within_watermark(
    events: DataFrame,
    id_col: str = "event_id",
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming dedup on the BUSINESS KEY alone via
    ``dropDuplicatesWithinWatermark`` (Spark 4): unlike
    :func:`dedup_stream` (``dropDuplicates([id, ts])``), a redelivered
    event whose retry carries a *different* event timestamp — the normal
    at-least-once case: producers restamp on retry — is still
    suppressed, because equality is on ``id_col`` only. State stays
    bounded: an id is remembered until the watermark passes its first
    arrival, then evicted. Guarantee: duplicates within the watermark
    delay of each other are dropped; duplicates farther apart may
    survive (same bounded-state trade-off as :func:`dedup_stream`,
    but keyed correctly for redelivery)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [id_col]
    )


def _orderable(dtype) -> bool:
    """Whether Spark can sort by a column of ``dtype``: not a map, a
    variant or an interval, nor a struct or array holding one."""
    if isinstance(dtype, UserDefinedType):
        return _orderable(dtype.sqlType())
    if isinstance(dtype, ArrayType):
        return _orderable(dtype.elementType)
    if isinstance(dtype, StructType):
        return all(_orderable(f.dataType) for f in dtype.fields)
    return not isinstance(dtype, (MapType, VariantType,
                                  CalendarIntervalType))


def micro_batch_bytes(batch_df: DataFrame, checkpoint_path: str,
                      batch_id: int) -> tuple[int | None, str]:
    """The bytes :func:`run_merge_stream_versioned` sizes micro-batch
    ``batch_id`` by, and where they come from: Catalyst's estimate
    (``"catalyst"``); when Catalyst has none, the batch's two entries of
    the query's offset log (``"offset log"``,
    :func:`~..sources.txstream.offset_log_bytes`); or neither
    (``(None, "unsized")``). A driver-side read, no Spark job."""
    from ..operators.util import catalyst_bytes
    from ..sources.txstream import offset_log_bytes

    size = catalyst_bytes(batch_df)
    if size is not None:
        return size, "catalyst"
    size = offset_log_bytes(checkpoint_path, batch_id)
    return size, "unsized" if size is None else "offset log"


def run_merge_stream_versioned(
    result: DataFrame,
    table_path: str,
    checkpoint_path: str,
    keys: list[str],
    precedence_col: str,
    app_id: str | None = None,
    merge_schema: bool = False,
    output_mode: str = "append",
) -> StreamingQuery:
    """Stream → versioned MERGE sink: each micro-batch is upserted into
    a native transaction-log table (:class:`~..operators.txlog.TxTable`)
    as one atomic commit stamped with ``txnAppId``/``txnVersion`` —
    Delta's idempotent-write contract, which the reference leans on via
    checkpointed ``foreachBatch`` + Delta MERGE
    (etl_framework.py:490-524, delta_setup.py:636-668).

    Exactly-once: Structured Streaming replays a micro-batch whose
    commit wasn't recorded in the checkpoint before a crash. A plain
    parquet MERGE sink tolerates that because the merge is idempotent
    by value; here every commit also bumps the table version, so a
    replayed batch would create a duplicate version (same data, noisy
    history, broken CDF). The sink therefore skips any ``batch_id`` at
    or below the table's last committed ``txnVersion`` for this
    ``app_id`` — a driver-side JSON read of the commit log, no Spark
    job. Two independent writers (distinct app_ids) interleave safely:
    optimistic concurrency in the log serializes their commits.

    A micro-batch that changes nothing — such as the no-data batch a
    watermark advance triggers — commits no version, so history holds
    one MERGE version per batch that carried rows. The replay skip
    above is unchanged: it compares against the last COMMITTED
    ``txnVersion``, and replaying an empty batch commits nothing again.

    Scale: only files holding matched keys rewrite per batch
    (``TxTable.merge`` probes the live files for the batch's keys). The
    probe reads every live file whose min/max stats or partition values
    can hold a batch key. So commit cost tracks batch size, not table
    size, only when the keys are range-clustered integral or string
    columns: a batch of new, increasing ids (an event id) reads no file
    and commits as a pure append in one Spark job, the write that stages
    the batch as the commit's data files. Keys that span every file's
    range, or floating-point/temporal keys, probe the whole table. A
    batch with a small key set (a windowed aggregate's ``(window, key)``
    pairs) that matches live files runs three Spark jobs per MERGE: the
    staged write, the probe (the keys, read from the staged files on the
    driver, are a literal predicate, not a broadcast) and one rewrite
    that writes the touched files' rows, the batch's rows and the
    change-feed rows together.

    Partition counts: Structured Streaming turns adaptive execution off
    inside a micro-batch, so every shuffle of the batch's own queries
    runs at ``spark.sql.shuffle.partitions``. The sink sizes the batch
    to its input instead (:func:`~..operators.util.sized_to_batch`,
    one partition per ``spark.sql.adaptive.advisoryPartitionSizeInBytes``)
    before its keep-latest: the coalesce pulls the upstream's stateful
    stage into the sized tasks, and with one partition the keep-latest
    needs no exchange. The size is Catalyst's estimate of the batch (a
    file source's compressed bytes). An upstream Catalyst cannot size
    falls back to the batch's two entries of the checkpoint's offset
    log (:func:`micro_batch_bytes`): the ``txtable`` source records
    the estimated bytes its commits added in each offset, and Spark
    writes the entry before it runs the batch, so a replay sizes the
    batch the same way. Kafka, an offset log without those fields, or
    a mix of sources leaves the batch as it is: its stateful stage and
    keep-latest then run ``spark.sql.shuffle.partitions`` tasks.

    For a batch of a few hundred KB, each job runs one task after its
    scan: the stateful stage, keep-latest and staged write share one,
    the probe and the rewrite have one each, and so does a no-data
    batch. The batch stages as one data file, also when it is the first
    MERGE into a new table, which a pure append commits; a rewrite reads
    it and commits one data file plus one change file per change type.
    ``TxTable.merge`` sizes the probe and the rewrite again from the
    sizes of the files they read.

    Keep-latest: rows of one key keep the one with the greatest
    ``precedence_col``; a tie is broken by the batch's other orderable
    columns, descending, so a replayed batch keeps the same row.

    ``merge_schema=True`` is the reference's ``schema.autoMerge`` for
    streaming MERGE (``delta-lake/delta_setup.py:87``): a micro-batch
    whose frame carries new nullable columns (or widened int/float
    types) evolves the table schema in its commit instead of failing
    the stream.

    ``output_mode="update"`` is what a STATEFUL upstream (windowed
    aggregation) needs: each micro-batch delivers the aggregates whose
    value changed, and the keyed MERGE makes re-delivery idempotent —
    the bronze→silver hop of the reference's medallion wiring.

    The sink merges into an existing table and creates an unpartitioned
    one only when ``table_path`` holds nothing. For a partitioned
    target, create it first with ``TxTable.create(..., partition_by=
    [...])``: a batch rewrites only the files holding its keys, so
    partitions it does not touch keep their files. A log-less directory
    of parquet files is adopted as version 0
    (:meth:`~..operators.txlog.TxTable.bootstrap`).
    """
    from ..operators.dedup import dedup_keep_latest
    from ..operators.txlog import TxTable
    from ..operators.util import require_local_dir, sized_to_batch

    table_path = require_local_dir(table_path)
    app = app_id or f"merge_stream:{checkpoint_path}"

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Rows of one key tied on precedence keep the same winner
        # whatever order the batch delivers them in: a replayed batch
        # must rebuild the same table.
        tiebreak = [
            f.name for f in batch_df.schema.fields
            if f.name not in keys and f.name != precedence_col
            and _orderable(f.dataType)
        ]
        size, _ = micro_batch_bytes(batch_df, checkpoint_path, batch_id)
        batch = dedup_keep_latest(sized_to_batch(batch_df, size), keys,
                                  precedence_col, tiebreak)
        params = {"txnAppId": app, "txnVersion": batch_id}
        if not TxTable.exists(spark, table_path):
            try:
                tx = TxTable.create(spark, table_path, batch.schema)
            except FileExistsError:
                # A log-less target that already holds parquet is a
                # PRE-TXLOG table (plain or hive-partitioned parquet
                # written by an older sink or a batch job): adopt its
                # files as version 0 so the accumulated rows
                # stay visible instead of becoming invisible strays
                # that VACUUM would silently delete.
                tx = TxTable.bootstrap(spark, table_path)
            tx.merge(batch, keys, params=params, merge_schema=merge_schema)
            return
        tx = TxTable(spark, table_path)
        last = tx.txn_version(app)
        if last is not None and batch_id <= last:
            return  # checkpoint replay of an already-committed batch
        tx.merge(batch, keys, params=params, merge_schema=merge_schema)

    return (
        result.writeStream.foreachBatch(upsert_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def run_sketch_stream(
    result: DataFrame,
    table_path: str,
    checkpoint_path: str,
    keys: list[str],
    value_col: str,
    lg_k: int = 12,
    app_id: str | None = None,
) -> StreamingQuery:
    """Streaming distinct-count maintenance: each micro-batch builds
    per-key HLL sketches of JUST the batch
    (:func:`..operators.sketches.sketch_distinct`), unions them into
    the stored per-key sketch table
    (:func:`..operators.sketches.combine_sketch_tables`), and MERGEs
    the touched keys into a native transaction-log table — so "distinct
    users per day" style gold metrics stay current without ever
    rescanning raw history (exact streaming count_distinct is
    impossible under bounded state; the persisted sketch is the
    standard answer).

    Exactly-once twice over: the sink skips replayed ``batch_id``s via
    the log's txnAppId/txnVersion (like
    :func:`run_merge_stream_versioned`), AND the HLL union itself is
    idempotent (register-wise max) — even a replay that slipped past
    the version gate could not inflate an estimate.

    Scale: per batch the work is one map-side-combinable sketch
    aggregate over the batch plus a MERGE touching only the keys the
    batch contains (the stored table is read semi-joined to the
    batch's keys; untouched key groups' files never rewrite).
    """
    from ..operators.sketches import combine_sketch_tables, sketch_distinct
    from ..operators.txlog import TxTable
    from ..operators.util import require_local_dir

    table_path = require_local_dir(table_path)
    app = app_id or f"sketch_stream:{checkpoint_path}"

    def update(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta = sketch_distinct(batch_df, keys, value_col, lg_k=lg_k)
        params = {"txnAppId": app, "txnVersion": batch_id}
        if not TxTable.exists(spark, table_path):
            try:
                TxTable.create(spark, table_path, delta.schema)
            except FileExistsError:
                # pre-txlog target: adopt its files (same contract as
                # run_merge_stream_versioned) instead of crashing the
                # first micro-batch
                TxTable.bootstrap(spark, table_path)
        tx = TxTable(spark, table_path)
        last = tx.txn_version(app)
        if last is not None and batch_id <= last:
            return  # replayed micro-batch: already committed
        # NULL-SAFE touched probe: plain on=keys never matches
        # NULL=NULL, so a NULL key group's stored sketch would be
        # omitted from the combine and the (null-safe) MERGE below
        # would still update it with only the batch's partial sketch —
        # permanently splitting that group's estimate.
        stored = tx.read()
        probe = delta.select(*keys).distinct()
        cond = None
        for k in keys:
            c = stored[k].eqNullSafe(probe[k])
            cond = c if cond is None else cond & c
        touched = stored.join(probe, cond, "left_semi")
        combined = combine_sketch_tables(touched, delta, keys)
        tx.merge(combined, keys, params=params)

    return (
        result.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def run_cms_stream(
    result: DataFrame,
    table_path: str,
    checkpoint_path: str,
    keys: list[str],
    value_col: str,
    depth: int = 5,
    width: int = 2048,
    seed: int = 0x5EED,
    app_id: str | None = None,
) -> StreamingQuery:
    """Streaming FREQUENCY-sketch maintenance — the count-min
    counterpart of :func:`run_sketch_stream`: each micro-batch builds
    the tabular CMS of JUST the batch
    (:func:`..operators.sketches.cms_build`), sums it into the stored
    table's touched buckets (:func:`..operators.sketches.cms_merge` —
    CMS is linear, so streamed maintenance is row-identical to a full
    rebuild), and MERGEs on ``(keys, _d, _b)`` into the native log.
    Heavy-hitter / frequency gold metrics stay current without
    rescanning history, in ≤ depth×width rows per key group.

    Exactly-once contract differs from the HLL stream in ONE important
    way, and the implementation reflects it: HLL union is idempotent,
    so even a replay slipping past the version gate cannot corrupt an
    estimate — CMS addition is NOT (a double-counted batch inflates
    counters and the never-undercounts bound stays true but the
    e·N/width overcount bound silently degrades). The txnAppId/
    txnVersion replay gate is therefore the correctness mechanism
    here, not just an optimization, exactly like the MERGE sink.
    """
    from ..operators.sketches import cms_build, cms_merge
    from ..operators.txlog import TxTable
    from ..operators.util import require_local_dir

    table_path = require_local_dir(table_path)
    app = app_id or f"cms_stream:{checkpoint_path}"
    merge_keys = [*keys, "_d", "_b"]

    def update(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta = cms_build(batch_df, keys, value_col, depth=depth,
                          width=width, seed=seed)
        params = {"txnAppId": app, "txnVersion": batch_id}
        if not TxTable.exists(spark, table_path):
            try:
                TxTable.create(spark, table_path, delta.schema)
            except FileExistsError:
                TxTable.bootstrap(spark, table_path)
        tx = TxTable(spark, table_path)
        last = tx.txn_version(app)
        if last is not None and batch_id <= last:
            return  # replayed micro-batch: already committed
        # NULL-SAFE touched probe on the key columns (bucket columns
        # _d/_b are never NULL); see run_sketch_stream for why a plain
        # join would split NULL key groups forever.
        stored = tx.read()
        probe = delta.select(*merge_keys).distinct()
        cond = (stored["_d"] == probe["_d"]) & (stored["_b"] == probe["_b"])
        for k in keys:
            cond = cond & stored[k].eqNullSafe(probe[k])
        touched = stored.join(probe, cond, "left_semi")
        combined = cms_merge(touched, delta, keys)
        tx.merge(combined, merge_keys, params=params)

    return (
        result.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def run_quarantine_stream(
    result: DataFrame,
    rules,
    good_path: str,
    quarantine_path: str,
    checkpoint_path: str,
    app_id: str | None = None,
) -> StreamingQuery:
    """Streaming DQ gate with a dead-letter table: each micro-batch is
    annotated by the compiled rule set
    (:class:`..operators.quality.DQRuleSet` — one projection, no extra
    scan), valid rows append to the good table and violating rows —
    WITH their ``_dq_errors`` rule names — to a quarantine table, both
    native-log tables in the same batch. The reference drops or
    routes invalid rows inside its batch validator
    (``etl_framework.py:111-137``); this is that gate for streams,
    with the quarantine retained for replay/repair instead of lost.

    Exactly-once per TABLE: each target skips a replayed ``batch_id``
    via its own txnAppId/txnVersion, so a crash between the two
    appends resumes exactly the missing half (the good table skips,
    the quarantine commits) rather than duplicating either.
    """
    from ..operators.txlog import TxTable
    from ..operators.util import require_local_dir

    good_path = require_local_dir(good_path)
    quarantine_path = require_local_dir(quarantine_path)
    app = app_id or f"quarantine_stream:{checkpoint_path}"

    def split_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        annotated = rules.annotate(batch_df).localCheckpoint(eager=False)
        # ^ both halves filter this frame; materialize so the batch's
        # source (and the annotation projection) evaluates once.
        params = {"txnAppId": app, "txnVersion": batch_id}
        good = annotated.filter(F.col("_dq_valid")).drop(
            "_dq_valid", "_dq_errors"
        )
        bad = annotated.filter(~F.col("_dq_valid")).drop("_dq_valid")
        for path, frame in ((good_path, good), (quarantine_path, bad)):
            if not TxTable.exists(spark, path):
                try:
                    TxTable.create(spark, path, frame.schema)
                except FileExistsError:
                    # pre-txlog target: adopt, don't crash (same
                    # contract as run_merge_stream_versioned)
                    TxTable.bootstrap(spark, path)
            tx = TxTable(spark, path)
            last = tx.txn_version(app)
            if last is not None and batch_id <= last:
                continue  # this half already committed before a crash
            tx.write(frame, mode="append", params=params)

    return (
        result.writeStream.foreachBatch(split_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def run_registry_ingest(
    raw: DataFrame,
    registry,
    table_root: str,
    dlq_path: str,
    checkpoint_path: str,
    app_id: str | None = None,
    value_col: str = "value",
    topic_col: str = "topic",
    keep_cols: tuple[str, ...] = (),
) -> StreamingQuery:
    """Registry-validated streaming ingest (reference
    ``kafka-setup/topics.py:76-165,599-663`` as ONE composed surface):
    each micro-batch is validated against the per-topic schema registry
    (:mod:`..sources.registry` — from_json + required-field algebra,
    one JVM projection), valid rows flatten into
    ``{table_root}/{topic}`` typed native-log tables and every invalid
    row — original payload + ``_dq_subject``/``_dq_errors`` — lands in
    one dead-letter table at ``dlq_path`` for replay after producer
    repair.

    Exactly-once per TABLE via txnAppId/txnVersion, exactly like
    :func:`run_quarantine_stream`: a crash between per-topic appends
    resumes only the missing tables on replay.

    Schema evolution rides the registry: a BACKWARD-compatible v2
    registered mid-stream (new optional property, optional→required
    promotion) changes the compiled StructType, so the typed
    good-table appends run with ``merge_schema=True`` — the registry's
    compatibility gate is what sanctions the merge (it only admits
    additive/widening changes, and ``TxTable`` still raises on a type
    conflict), so pre-evolution rows read back with NULLs in the new
    columns and v1-produced payloads keep flowing.
    """
    from ..operators.txlog import TxTable
    from ..operators.util import require_local_dir
    from ..sources.registry import registry_ingest_frames

    table_root = require_local_dir(table_root)
    dlq_path = require_local_dir(dlq_path)
    app = app_id or f"registry_ingest:{checkpoint_path}"

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        src = batch_df.localCheckpoint(eager=False)
        # ^ every per-topic branch and the DLQ filter scan this frame;
        # materialize so the batch's source evaluates once.
        good, dlq = registry_ingest_frames(
            src, registry, value_col, topic_col, keep_cols
        )
        params = {"txnAppId": app, "txnVersion": batch_id}
        # merge_schema is sanctioned ONLY for the registry-compiled
        # good tables (the compatibility gate admits the widening); the
        # DLQ's shape comes from the raw stream, so an upstream column
        # addition must fail loudly there instead of silently evolving
        # the DLQ schema around the gate.
        targets = [
            (os.path.join(table_root, topic), frame, True)
            for topic, frame in sorted(good.items())
        ] + [(dlq_path, dlq, False)]
        for path, frame, sanctioned_merge in targets:
            if not TxTable.exists(spark, path):
                try:
                    TxTable.create(spark, path, frame.schema)
                except FileExistsError:
                    TxTable.bootstrap(spark, path)
            tx = TxTable(spark, path)
            last = tx.txn_version(app)
            if last is not None and batch_id <= last:
                continue  # this table already committed before a crash
            tx.write(
                frame, mode="append", params=params,
                merge_schema=sanctioned_merge,
            )

    return (
        raw.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def run_available_now(
    result: DataFrame,
    out_path: str,
    checkpoint_path: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Drain the stream's current backlog into a parquet sink and stop
    (reference's availableNow config flag, config.py:104-106). The
    checkpoint gives exactly-once across re-runs (T6)."""
    return (
        result.writeStream.format("parquet")
        .outputMode(output_mode)
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
