"""SparkSession factory.

Mirrors the reference's Spark tuning surface (reference
``config/config.py:360-379``, ``spark-jobs/real_time_streaming.py:60-80``):
AQE + partition coalescing + skew-join handling, Kryo serialization, and
shuffle-partition sizing — but applied through one factory instead of
scattered job configs.

Scale notes (100 TB target):
  * AQE is the primary runtime re-planner: it coalesces small shuffle
    partitions, converts sort-merge joins to broadcast when the built side
    turns out small, and splits skewed partitions.
  * ``spark.sql.shuffle.partitions`` is a *starting* value; AQE coalesce
    makes over-provisioning cheap, so default to 2-4x cores locally and
    to cores*executors*2+ on a cluster.
  * Timezone is pinned to UTC so timestamp semantics are stable across
    engines (the DuckDB oracle runs timezone-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _env_cpus(default: int = 32) -> int:
    """$SPARK_GRAFT_CPUS, tolerating unset/empty/garbage — this runs
    at module import (RUNTIME_CONFS below), where a malformed env var
    must not break `import` for tools that never start Spark."""
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS") or default)
    except ValueError:
        return default


# Runtime-settable confs applied to ANY session (including driver-provided
# ones) before reading the test tables. nanosAsLong lets Spark read
# parquet TIMESTAMP(NANOS) columns (events.ts) as raw int64 nanoseconds;
# sources.readers converts them back to timestamps.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for driver<->JVM transfers: toPandas and
    # createDataFrame(pandas) go through Arrow record batches decoded
    # JVM-side instead of pickled Python RDDs. Load-bearing for
    # operators.util.local_relation — the pickle path materializes a
    # defaultParallelism-task PYTHON stage per broadcast build of even
    # a 7-row mapping table. Runtime-settable, so driver-created
    # vanilla sessions pick it up through apply_runtime_confs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # File-listing parallelism for reads that pass explicit file lists
    # (the native txtable read hands Spark one path per live entry).
    # Spark's default is 10000 TASKS whenever >32 paths are listed —
    # at 20k files that is 10000 near-empty tasks whose scheduling
    # overhead dominates plan construction (measured with
    # tools/maintenance_probe.py; numbers in BASELINE.md). 4×cores
    # tasks keep the listing distributed (object stores still hide
    # per-stat latency) without drowning in scheduler overhead; a
    # 1000-executor deployment should raise it along with cluster size.
    "spark.sql.sources.parallelPartitionDiscovery.parallelism": str(
        max(4 * _env_cpus(), 64)
    ),
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply session-level confs that are safe to set at runtime.

    Idempotent; call on any externally created session before using the
    readers in :mod:`.sources.readers`.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not runtime-settable in this build — builder-time only.
            pass
    return spark


def get_spark(
    app_name: str = "video-analytics-lakehouse",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned local SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    """
    cpus = _env_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # UI off by default (test/driver speed); SPARK_GRAFT_UI turns
        # it on for the bench's REST task-time attribution. Normalized
        # to a Spark-parseable boolean: '1'/'yes'/'True ' would
        # otherwise fail (or mis-parse) session construction.
        .config(
            "spark.ui.enabled",
            str(
                os.environ.get("SPARK_GRAFT_UI", "false").strip().lower()
                in ("true", "1", "yes")
            ).lower(),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
