"""Batch readers for the test lakehouse tables.

Equivalent role to the reference's Delta batch sources
(``spark-jobs/etl_framework.py:224,243,600``; ``delta-lake/delta_setup.py``):
one place that knows how to produce a normalized DataFrame per table.

The parquet scan stays fully pushdown-capable: we read with
``spark.read.parquet`` (no schema inference pass, vectorized reader,
predicate/column pushdown by Catalyst). The only normalization is the
``events.ts`` column, written by the generator as parquet TIMESTAMP(NANOS)
which Spark's vectorized reader rejects; with
``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as int64
nanoseconds and is converted here to ``TIMESTAMP_NTZ`` (microsecond
precision — the synthetic data carries at most µs of sub-second detail, so
the conversion is lossless for this corpus and deterministic regardless).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Order-perturbation hook (tools/check_correctness.py --perturb): when set
# to ``(num_partitions, seed)``, every loaded table is re-hashed across
# that many partitions by a seeded random column, so partial-aggregation
# and merge order differ between variants. Catalog results must be
# invariant under this — any query whose value hash moves is relying on
# float summation order and WILL diverge between engines/environments.
PERTURB: tuple[int, int] | None = None


def _perturbed(df: DataFrame) -> DataFrame:
    if PERTURB is None:
        return df
    parts, seed = PERTURB
    return df.repartition(parts, F.rand(seed))


# Per-(dir, table) schema cache: every schema-less
# spark.read.parquet launches a one-task footer-inference job — pure
# driver latency paid at CONSTRUCTION time by every query, every bench
# pass. The first read's inferred schema is passed explicitly to every
# subsequent read (zero jobs). Keyed by (resolved path, content
# fingerprint) so a table REWRITTEN at the same path within a process
# (fixture regeneration, synthetic scale tiers) invalidates the entry
# instead of silently applying a stale schema.
_SCHEMA_CACHE: dict = {}


def _table_fingerprint(path: str) -> tuple | None:
    """Cheap content stamp: (mtime_ns, size) for a single-file table;
    for a directory table, the aggregate over its data files,
    recursing ONE level into subdirectories so a Hive-partitioned
    table (``<root>/<col>=<val>/<files>``) rewritten in place changes
    its stamp (a flat scandir would miss nested rewrites).
    Deeper nesting (multi-level partitioning) is outside this corpus;
    such layouts fall back to the level-2 entry's own (name, mtime,
    size), which still changes whenever files are added/removed/
    renamed there but not on a same-name same-size in-place rewrite —
    callers with deeper layouts should bypass the cache.

    Returns ``None`` for a missing path: the caller then falls through
    to a plain ``spark.read.parquet`` so the user sees Spark's clearer
    PATH_NOT_FOUND analysis error, not an os.stat traceback."""
    import stat as _stat

    try:
        st = os.stat(path)
    except OSError:
        return None
    if not _stat.S_ISDIR(st.st_mode):
        return (st.st_mtime_ns, st.st_size)
    parts = []
    try:
        # the per-entry stats can race a concurrent rewrite (a probe
        # re-materializing a /tmp tier mid-read): any entry vanishing
        # between scandir and stat degrades to an UNCACHED read (None)
        # rather than crashing load_table
        with os.scandir(path) as it:
            for e in it:
                if e.name.startswith(("_", ".")):
                    continue
                s = e.stat()
                if e.is_dir():
                    with os.scandir(e.path) as it2:
                        for e2 in it2:
                            if e2.name.startswith(("_", ".")):
                                continue
                            s2 = e2.stat()
                            parts.append(
                                (f"{e.name}/{e2.name}",
                                 s2.st_mtime_ns, s2.st_size)
                            )
                else:
                    parts.append((e.name, s.st_mtime_ns, s.st_size))
    except OSError:
        return None
    return tuple(sorted(parts))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table, normalizing nanosecond timestamps."""
    apply_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = os.path.abspath(path)
    fp = _table_fingerprint(path)
    cached = _SCHEMA_CACHE.get(key)
    if fp is not None and cached is not None and cached[0] == fp:
        df = spark.read.schema(cached[1]).parquet(path)
    else:
        # fp None (missing table): read uncached so Spark raises its
        # own PATH_NOT_FOUND error message
        df = spark.read.parquet(path)
        if fp is not None:
            _SCHEMA_CACHE[key] = (fp, df.schema)
    # Normalize any int64-nanosecond column produced by nanosAsLong back to
    # a timestamp. Only `events.ts` matches in this corpus; detection is by
    # (name, type) so other tables pass through untouched.
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # Integer division (DIV), not `/`: ns values ~1.7e18 exceed double's
        # 53-bit mantissa, so float division would be off by ±1 µs.
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz"),
        )
    return _perturbed(df)
