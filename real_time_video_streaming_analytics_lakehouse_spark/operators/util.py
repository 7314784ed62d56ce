"""Operator-side parallelism + local-filesystem helpers."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


class ScaleGuardrailError(ValueError):
    """An operator refused to run because a derived corpus bound was
    exceeded without an explicit opt-in (e.g. the ngram exact arm's
    all-pairs ceiling). A DEDICATED type so tooling (the scale probe)
    can distinguish an intentional refusal from any other ValueError a
    construction path might raise."""


#: Spark's largest partition count (Int.MaxValue)
_MAX_PARTITIONS = 2**31 - 1


def _advisory_bytes(spark) -> int:
    return spark._jvm.org.apache.spark.network.util.JavaUtils \
        .byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        )


def catalyst_bytes(df: DataFrame) -> int | None:
    """Catalyst's ``sizeInBytes`` estimate of ``df``, or None when it
    has none. The estimate costs no job: a filled cache reports its
    measured bytes, a file scan its files' compressed sizes. A plan
    Catalyst cannot size (an RDD, a Python data source, Kafka) reports
    Long.MaxValue bytes, which the operators above it scale by their
    row widths; an estimate that needs more than Spark's largest
    partition count of the advisory size is read as none."""
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if -(-size // _advisory_bytes(df.sparkSession)) > _MAX_PARTITIONS:
        return None
    return size


def sized_to_batch(df: DataFrame, fallback_bytes: int | None = None
                   ) -> DataFrame:
    """``df`` coalesced to ``ceil(size / advisory)`` partitions, where
    ``size`` is :func:`catalyst_bytes` of ``df`` and ``advisory`` is
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``: the
    post-shuffle sizing adaptive execution applies to batch queries and
    a streaming micro-batch does not get. When Catalyst cannot size
    ``df``, ``size`` is ``fallback_bytes``, an estimate the caller
    knows without a job (the streaming MERGE sink passes the bytes its
    ``txtable`` source recorded in the batch's offsets). With neither,
    the frame is left as it is. A coalesce never raises the partition
    count.

    The coalesce is narrow, so it pulls the work below it, up to the
    last exchange, into the sized tasks. On a plain file scan that is
    only the read. Above ``TxTable.merge``'s dedup of its source by key
    it is the dedup's side after its shuffle, which adaptive execution
    would coalesce in a batch query. On a streaming micro-batch frame
    (the ``LogicalRDD`` ``foreachBatch`` hands over, which keeps its
    source's stats) it is the point: the batch's stateful stage (a
    dedup or window aggregate over ``spark.sql.shuffle.partitions``
    state-store partitions) runs in the sized tasks too, each task
    opening the state stores of the partitions it reads. Anywhere else,
    an unmaterialized shuffle or aggregate below ``df`` would lose its
    parallelism. One partition reports ``SinglePartition``, so a
    grouping or window above it needs no exchange."""
    size = catalyst_bytes(df)
    if size is None:
        size = fallback_bytes
    if size is None:
        return df
    n = -(-size // _advisory_bytes(df.sparkSession))
    return df if n > _MAX_PARTITIONS else df.coalesce(max(1, n))


def require_local_dir(path: str) -> str:
    """Validate that ``path`` is a local-filesystem directory path and
    return it without a ``file://`` prefix.

    The streaming sinks open their target as a :class:`~.txlog.TxTable`
    through the default file-based commit log, whose put-if-absent is
    ``os.link`` — local-FS-only semantics. Object stores (s3://,
    hdfs://, ...) need a registered CommitStore with conditional PUT,
    so refuse loudly rather than corrupt a table.
    """
    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme not in ("", "file"):
        raise ValueError(
            f"streaming table sink is local-FS-only, got scheme "
            f"{scheme!r} for {path!r}; object-store tables need a "
            f"TxTable with a registered put-if-absent CommitStore"
        )
    return path.removeprefix("file://")


def local_relation(spark, rows, schema: str) -> DataFrame:
    """Bounded driver-side rows → DataFrame, evaluated in the JVM.

    The rows go through ``createDataFrame(pandas_df)`` with
    ``spark.sql.execution.arrow.pyspark.enabled``: they ship as Arrow
    record batches decoded JVM-side into a LocalRelation, so no
    materialization runs a Python worker. A plain
    ``createDataFrame(list_of_tuples)`` instead builds a pickled Python
    RDD, and every materialization of it (each broadcast build, each
    action) runs a ``defaultParallelism``-task Python-worker stage
    whose per-task worker start-up dwarfs the rows' work (measurements
    in BASELINE.md).

    Zero Python tasks is not zero jobs: broadcasting the relation still
    runs one JVM job of ``min(rows, defaultParallelism)`` tasks per
    query that builds the broadcast.

    Rows must be position-aligned tuples/lists matching ``schema`` (a
    DDL string). Falls back to the plain path for empty input (nothing
    ever evaluates) or when pandas is unavailable.
    """
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    try:
        import pandas as pd
    except ImportError:  # pragma: no cover - pandas ships with the env
        return spark.createDataFrame(rows, schema)
    # top-level DDL column names (commas inside array<...>/struct<...>
    # and decimal(p,s) do not split fields)
    names, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            names.append(schema[start:i].strip().split()[0])
            start = i + 1
    pdf = pd.DataFrame(
        {n: [r[i] for r in rows] for i, n in enumerate(names)},
        # object dtype end-to-end: None stays None (never coerced to
        # NaN by a numeric column), ints never become floats; the
        # explicit schema drives the Arrow cast.
        dtype=object,
    )
    return spark.createDataFrame(pdf, schema)


#: compressed-input bytes per repartition target partition for
#: :func:`ensure_parallelism` — ~64 KB of compressed text is ~0.5–1 MB
#: raw ≈ 0.1–0.3 s of shingle/hash CPU per task, comfortably above the
#: measured per-task fixed overhead (~20–50 ms scheduling + Python
#: worker protocol) while still fanning real work out. Partitioning is
#: derived from input size, not a constant tuned for either local mode
#: or the cluster (measurements in BASELINE.md).
ENSURE_PARALLELISM_BYTES_PER_PARTITION = 64 * 1024


def _scan_bytes(df: DataFrame) -> int | None:
    """Total size of the local files feeding ``df``'s scan, or None
    when the plan has no file scan (ExistingRDD, in-memory relation)
    or any file is not local/stat-able.

    Single-scan assumption: ``inputFiles`` sums over
    EVERY scan in the plan, so on a multi-table frame (a join) this
    would overcount and over-provision the repartition target. Every
    current caller passes a single-table scan; a caller wrapping a
    join should derive its own target instead."""
    try:
        files = df.inputFiles()
        if not files:
            return None
        total = 0
        for f in files:
            path = f.removeprefix("file:")
            if "://" in path:
                return None
            total += os.path.getsize(path)
        return total
    except Exception:
        return None


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ONLY if the input is under-parallelized.

    Small dimension-style tables often arrive as a single parquet file →
    one partition → a CPU-bound operator (shingling, hashing, vector
    math) runs single-threaded. One cheap round-robin shuffle of the
    narrow input unlocks the cores the input can actually feed.

    The target is derived from the INPUT SIZE: one partition per
    :data:`ENSURE_PARALLELISM_BYTES_PER_PARTITION` of compressed input,
    clamped to [2, defaultParallelism] — a tiny corpus must not be
    sprayed across ``defaultParallelism`` near-empty tasks whose fixed
    per-task overhead (scheduling, Python worker protocol,
    block-manager round trips) dwarfs their work; a corpus big enough
    to feed every core still gets every core. When the
    input size is unknowable (no file scan under ``df``) the target
    falls back to ``defaultParallelism``.

    At 100 TB inputs already carry thousands of partitions, so this is a
    no-op there — it never *reduces* partitioning and never repartitions
    a well-partitioned input.
    """
    sc = df.sparkSession.sparkContext
    if min_partitions is not None:
        target = min_partitions
    else:
        nbytes = _scan_bytes(df)
        # Floor at 2 ONLY when the session has ≥2 cores: on local[1]
        # a floor of 2 would exceed defaultParallelism and add a
        # repartition shuffle that buys nothing.
        floor = min(2, sc.defaultParallelism)
        target = (
            sc.defaultParallelism
            if nbytes is None
            else max(
                floor,
                min(
                    sc.defaultParallelism,
                    -(-nbytes // ENSURE_PARALLELISM_BYTES_PER_PARTITION),
                ),
            )
        )
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
