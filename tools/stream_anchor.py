"""Canonical streaming throughput anchor.

The method for measuring streaming throughput, so figures from
different dates differ only by code or host, not by method:

* a warm-up (:func:`warm_up`: one relational query, the Python-worker
  fleet, the documents/embeddings scans) so the first drain does not
  pay session startup;
* the reference's three streaming pipelines
  (:func:`_streaming_throughput`: 32 source files,
  maxFilesPerTrigger=8 -> 4 watermarked micro-batches, parquet sink,
  availableNow), best of ``--passes``;
* registry-validated ingest (4-property / 3-required JSON payload ->
  from_json validation -> typed txlog tables + DLQ, exactly-once) in
  both configurations, best of ``--passes`` each:
  - ``single_batch``: whole corpus in one trigger — the hot-path
    ceiling (validation + write throughput, minimal per-batch
    overhead);
  - ``incremental``: maxFilesPerTrigger=8 — the steady-trigger figure
    including per-batch txlog commit + checkpoint overhead; it also
    records per-micro-batch ``triggerExecution`` durations from the
    query's progress log (``registry_incremental_batch_ms``).

Every drain also reports executor task seconds (min over the passes):
the jobs of a streaming query run in a Spark job group named after its
run id, read through ``scale_probe.group_work`` once the drain ends. A
throughput dip with flat task time points at the host, one with task
time up at the code.

Prints one ``RESULT {...}`` JSON line with 1-minute loadavg markers
(start / post-warm / end).
Usage: ``python tools/stream_anchor.py [--passes N]``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# task attribution reads the status REST API -> UI on for this session
# (must be set before the session is built)
os.environ.setdefault("SPARK_GRAFT_UI", "true")

from pyspark.sql import functions as F  # noqa: E402
from scale_probe import group_work  # noqa: E402

REGISTRY_SCHEMA = {
    "type": "object",
    "properties": {
        "event_id": {"type": "integer"},
        "user_id": {"type": "integer"},
        "event_type": {"type": "string"},
        "value": {"type": "number"},
    },
    "required": ["event_id", "user_id", "event_type"],
}


def _load1() -> float:
    """1-minute loadavg marker."""
    return round(os.getloadavg()[0], 2)


def warm_up(spark, sf_dir: str) -> None:
    """Session warm-up: JVM, codegen, parquet footer caches, and the
    Python worker fleet (the first mapInPandas in a session forks the
    Arrow workers, a one-time cost that would otherwise land on
    whichever drain reaches Python first)."""
    from real_time_video_streaming_analytics_lakehouse_spark.plans import CATALOG
    from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import (
        load_table,
    )

    CATALOG["event_type_rank"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(64).repartition(32).mapInPandas(
        lambda batches: batches, "id LONG"
    ).write.format("noop").mode("overwrite").save()
    for warm_table in ("documents", "embeddings"):
        load_table(spark, sf_dir, warm_table).write.format("noop").mode(
            "overwrite"
        ).save()


def _drain(spark, start_query, what: str):
    """Start a streaming query via ``start_query()`` and wait for its
    availableNow drain. Returns (wall seconds, executor task seconds of
    the query's job group, the finished query)."""
    t0 = time.perf_counter()
    q = start_query()
    finished = q.awaitTermination(600)
    elapsed = time.perf_counter() - t0
    if not finished:
        # A partial drain would overstate events/s, and deleting the
        # work dir under a live query corrupts the run — fail loud.
        q.stop()
        raise RuntimeError(f"{what} did not finish within 600s")
    tot, _ = group_work(spark, str(q.runId))
    return elapsed, round(tot["task_s"], 3), q


def _streaming_throughput(spark, sf_dir: str) -> tuple[dict, dict]:
    """Drain the events table through each of the reference's three
    streaming pipelines (file source → watermarked window agg →
    parquet sink) via Trigger.AvailableNow. Returns (events/second,
    executor task seconds), each keyed by pipeline."""
    from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import (
        load_table,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.streaming.pipelines import (
        anomaly_stream,
        content_popularity_stream,
        stream_events_from_files,
        user_activity_stream,
    )

    work = tempfile.mkdtemp(prefix="stream_anchor_pipe_")
    try:
        events = load_table(spark, sf_dir, "events").withColumn(
            # watermarks require TIMESTAMP (not NTZ); session is UTC so
            # the wall-clock values are unchanged
            "ts", F.col("ts").cast("timestamp")
        )
        n = events.count()
        src_dir = f"{work}/src"
        # 32 files so maxFilesPerTrigger batches into multiple triggers
        events.repartition(32).write.parquet(src_dir)
        schema = spark.read.parquet(src_dir).schema
        rates: dict[str, float] = {}
        tasks: dict[str, float] = {}
        for tag, build in (
            ("user_activity", user_activity_stream),
            ("content_popularity", content_popularity_stream),
            ("anomaly", anomaly_stream),
        ):
            src = stream_events_from_files(
                spark, src_dir, schema, max_files_per_trigger=8
            )
            elapsed, tasks[tag], _ = _drain(
                spark,
                lambda: (
                    build(src)
                    .writeStream.format("parquet")
                    .option("path", f"{work}/out_{tag}")
                    .option("checkpointLocation", f"{work}/ckpt_{tag}")
                    .trigger(availableNow=True)
                    .start()
                ),
                f"streaming drain ({tag})",
            )
            rates[tag] = round(n / elapsed, 1)
        return rates, tasks
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _registry_drain(spark, raw, n: int, single_batch: bool):
    """One registry-ingest drain of ``raw``. Returns (events/second,
    executor task seconds, per-micro-batch ``triggerExecution`` ms)."""
    from real_time_video_streaming_analytics_lakehouse_spark.sources.registry import (
        SchemaRegistry,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.streaming.pipelines import (
        run_registry_ingest,
        stream_events_from_files,
    )

    work = tempfile.mkdtemp(prefix="stream_anchor_reg_")
    try:
        src_dir = f"{work}/src"
        raw.repartition(32).write.parquet(src_dir)
        schema = spark.read.parquet(src_dir).schema
        reg = SchemaRegistry()
        reg.register("video-events-value", REGISTRY_SCHEMA)
        kwargs = {} if single_batch else {"max_files_per_trigger": 8}
        src = stream_events_from_files(spark, src_dir, schema, **kwargs)
        elapsed, task_s, q = _drain(
            spark,
            lambda: run_registry_ingest(
                src, reg,
                table_root=f"{work}/tables",
                dlq_path=f"{work}/dlq",
                checkpoint_path=f"{work}/ckpt",
            ),
            "registry drain",
        )
        batch_ms = [
            p.durationMs.get("triggerExecution")
            for p in q.recentProgress
            if p.get("durationMs")
        ]
        return round(n / elapsed, 1), task_s, batch_ms
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument(
        "--sf-dir", default=os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
        )
    )
    args = ap.parse_args()

    from real_time_video_streaming_analytics_lakehouse_spark.session import get_spark
    from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import (
        load_table,
    )

    spark = get_spark("stream_anchor")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"load_start": _load1(), "passes": args.passes}

    warm_up(spark, args.sf_dir)
    events = load_table(spark, args.sf_dir, "events")
    out["load_post_warm"] = _load1()

    best: dict = {}
    task_best: dict = {}
    for _ in range(args.passes):
        rates, tasks = _streaming_throughput(spark, args.sf_dir)
        for k, v in rates.items():
            best[k] = max(best.get(k, 0.0), v)
        for k, v in tasks.items():
            task_best[k] = min(task_best.get(k, v), v)
    out["pipelines_ev_s"] = best
    out["pipelines_task_sec"] = task_best

    n = events.count()
    raw = events.select(
        F.lit("video-events").alias("topic"),
        F.to_json(
            F.struct("event_id", "user_id", "event_type", "value")
        ).alias("value"),
    )
    for tag, single in (("single_batch", True), ("incremental", False)):
        rates_l, tasks_l, batches_l = [], [], []
        for _ in range(args.passes):
            rate, task_s, batch_ms = _registry_drain(spark, raw, n, single)
            rates_l.append(rate)
            tasks_l.append(task_s)
            batches_l.append(batch_ms)
        out[f"registry_{tag}_ev_s"] = max(rates_l)
        out[f"registry_{tag}_runs"] = rates_l
        out[f"registry_{tag}_task_sec"] = min(tasks_l)
        if not single:
            # the per-micro-batch shape of the steady-trigger figure
            out["registry_incremental_batch_ms"] = batches_l
    out["load_end"] = _load1()
    print("RESULT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
