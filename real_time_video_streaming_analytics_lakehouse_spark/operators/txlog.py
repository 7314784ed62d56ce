"""Native versioned-table format: parquet data + an atomic JSON commit log.

The reference's lakehouse features that need a transaction log — VACUUM
(``delta-lake/delta_setup.py:548-566``), history / time travel / restore
(``delta_setup.py:568-596``), Change Data Feed (``delta_setup.py:111,464``),
empty-table create with schema + properties (``delta_setup.py:450-505``),
schema evolution (``delta_setup.py:87`` enables ``schema.autoMerge``),
and predicate DELETE/UPDATE/MERGE (``delta_setup.py:636-702``) — were
environment-gated for three rounds because ``delta-spark`` cannot be
installed here. This module removes the gate by implementing the log
itself: Delta is, underneath, exactly parquet data files plus an
append-only JSON action log, and every feature above is a pure function
of that log.

Layout (all inside the table root)::

    <root>/_txlog/00000000000000000000.json             # commit 0, 1, ...
    <root>/_txlog/00000000000000000010.checkpoint.parquet  # log checkpoint
    <root>/_txlog/_last_checkpoint.json                  # newest checkpoint ptr
    <root>/_change_data/_change_type=insert/day=2024-01-01/cdc-...parquet
                                                         # CDF change files
    <root>/day=2024-01-01/part-...parquet                # immutable data files

Each commit records ``add`` / ``remove`` file actions with per-file
partition values, row counts, and optional column min/max stats. A
snapshot at version N is the replay of commits 0..N. Data files are
IMMUTABLE — logical delete/update/merge rewrite whole files
(copy-on-write) and tombstone the old ones, which is what makes time
travel and CDF free and VACUUM meaningful.

Commit atomicity: the commit JSON is staged to a tmp name and published
with ``os.link`` (fails with EEXIST if the version was already claimed)
— optimistic concurrency exactly like Delta's ``put-if-absent`` commit
protocol. On losing the race the writer re-reads the log and RETRIES
when the winning commit is logically disjoint (its removes don't touch
our removes and it didn't change the schema) — Delta's
WriteSerializable conflict rules; overlapping rewrites and concurrent
schema changes still raise :class:`ConcurrentWriteError`. Data files
moved into the root BEFORE the commit exists are invisible to snapshot
readers (readers consume the explicit file list, never a directory
listing), and every writer stages under a writer-unique token, so a
crash or a lost race leaves garbage files but never a corrupt or
half-visible table; VACUUM collects the garbage.

Schema evolution (Delta ``mergeSchema``): ``write(..., merge_schema=
True)`` widens the committed schema — new columns append as nullable,
integer/float types widen (int→long, float→double) — and each commit
records the schema its files were written under (``fileSchema``), so a
snapshot read aligns every file generation to the snapshot schema with
casts + null-fill. Old versions keep their schemas under time travel,
and ``change_feed`` spans the evolution.

Scale notes (the parts that matter at 100 TB):
  * Readers prune FILES from the log — partition values and min/max
    stats filter the file list BEFORE Spark ever lists or opens
    anything. Combined with ``optimize(zorder_cols=...)`` Morton
    clustering this is the same data-skipping story as Delta/Iceberg.
  * The log is O(commits) but snapshot resolution is NOT O(all
    commits): every ``checkpoint_interval`` commits the replayed state
    is consolidated into a parquet manifest (Delta's checkpoint
    mechanism, ``_last_checkpoint`` pointer included), so resolving a
    snapshot reads one manifest + at most ``interval`` JSON commits —
    at millions of files the manifest is a columnar scan, not a
    million JSON parses.
  * Copy-on-write DELETE/UPDATE/MERGE rewrite ONLY files that contain
    matching rows (located by partition + stats pruning, then an
    ``input_file_name()`` probe), never the whole table.
  * DML commits write explicit change files (Delta's ``_change_data``)
    holding only the CHANGED rows tagged ``update_preimage`` /
    ``update_postimage`` / ``insert`` / ``delete`` — so CDF consumers
    see row-level changes, not the rewritten file's carried-over rows,
    and OPTIMIZE (``dataChange=false``) is invisible to the feed. The
    change rows leave in the same Spark write as the commit's data
    rows: the change type is the outer hive partition level of the
    staged files, so a change file keeps it in its path
    (``_change_type=<type>/<partition dirs>``) and, like a data file,
    holds only the table's non-partition columns.

The COMMIT plane (publish / list / read commits, checkpoints, the
``_last_checkpoint`` pointer) is pluggable via
:mod:`.commitstore` — put-if-absent is the only atomic primitive the
protocol needs, implemented as ``os.link`` locally and as a
conditional PUT on object stores; the in-memory conditional-PUT store
proves the concurrency machinery is independent of local-FS rename
semantics. The DATA plane in this sandbox is local-FS (staged files
are renamed to final writer-unique names), but nothing correctness-
critical rests on that: data files are immutable, uniquely named, and
invisible until the commit references them, so an object-store
deployment simply uploads them before committing.
"""

from __future__ import annotations

import decimal
import json
import os
import pathlib
import shutil
import time
import urllib.parse
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    IntegralType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .commitstore import (
    CommitConflictError,
    LocalFileCommitStore,
    checkpoint_from_bytes,
    checkpoint_to_bytes,
    normalize_root,
    register_store,
    store_for,
)
from .manifest import (
    FileManifest,
    bounds_may_match,
    entries_to_arrow,
    prune_columnar,
    unescape_partition_value,
)
from .util import (
    _advisory_bytes,
    catalyst_bytes,
    local_relation,
    sized_to_batch,
)

_LOG_DIR = "_txlog"
_CDC_DIR = "_change_data"
#: a DML commit's staged rows carry this column: NULL for data rows,
#: the change type for change rows. The feed adds the other two names,
#: so no table column may use any of them.
_CHANGE_TYPE = "_change_type"
_RESERVED_COLUMNS = (_CHANGE_TYPE, "_commit_version", "_commit_timestamp")
#: the staged subtree holding a DML commit's data rows
_DATA_ROWS_DIR = f"{_CHANGE_TYPE}=__HIVE_DEFAULT_PARTITION__"
_DV_DIR = "_deletion_vectors"
_LAST_CHECKPOINT = "_last_checkpoint.json"
_STATS_TYPES = ("int", "bigint", "smallint", "tinyint", "double", "float",
                "string", "date", "decimal", "long")

# Allowed type widenings for merge_schema, by simpleString name (the
# integer chain and float→double — the same safe set Delta's type
# widening ships).
_WIDENS_TO = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "float": {"double"},
}


class ConcurrentWriteError(RuntimeError):
    """Another writer committed a logically conflicting change first."""


class VacuumedFileError(RuntimeError):
    """A time-travel / CDF read needs a data file VACUUM already deleted."""


# ---------------------------------------------------------------------------
# log primitives


# Layout helpers kept for tests/tooling but DELEGATED to the local
# commit store so the on-disk naming has exactly one definition.
def _log_dir(root: str) -> str:
    return LocalFileCommitStore(root)._dir()


def _commit_path(root: str, version: int) -> str:
    return LocalFileCommitStore(root)._commit_path(version)


def _checkpoint_path(root: str, version: int) -> str:
    return LocalFileCommitStore(root)._checkpoint_path(version)


def _list_versions(root: str) -> list[int]:
    return store_for(root).list_commits()


def _list_checkpoints(root: str) -> list[int]:
    return store_for(root).list_checkpoints()


def _read_commit(root: str, version: int) -> dict:
    return store_for(root).read_commit(version)


def _publish_commit(root: str, version: int, action: dict) -> None:
    """Put-if-absent commit through the root's
    :class:`~.commitstore.CommitStore` — the atomic "claim version N"
    primitive (``os.link`` on local FS, conditional PUT on object
    stores). Losing the race raises :class:`ConcurrentWriteError` so
    the caller can re-resolve the snapshot and retry, exactly Delta's
    optimistic-concurrency contract.
    """
    try:
        store_for(root).put_commit_if_absent(version, action)
    except CommitConflictError:
        raise ConcurrentWriteError(
            f"version {version} of {root} was committed concurrently"
        ) from None


# ---------------------------------------------------------------------------
# schema evolution helpers


def _merge_schemas(old: StructType, new: StructType) -> StructType:
    """Delta-``mergeSchema`` union: existing columns keep their position
    (widened in place when the new type is strictly wider), new columns
    append as nullable. Incompatible type pairs raise ``ValueError``."""
    new_by = {f.name: f for f in new.fields}
    out: list[StructField] = []
    for f in old.fields:
        g = new_by.pop(f.name, None)
        if g is None or f.dataType == g.dataType:
            # A column ABSENT from the incoming frame must go nullable:
            # the new files lack it and reads null-fill it, so keeping
            # a non-nullable declaration would serve NULLs under a
            # schema that guarantees none.
            out.append(StructField(
                f.name, f.dataType,
                f.nullable or g is None or g.nullable,
            ))
            continue
        a, b = f.dataType.simpleString(), g.dataType.simpleString()
        if b in _WIDENS_TO.get(a, ()):
            out.append(StructField(f.name, g.dataType, True))
        elif a in _WIDENS_TO.get(b, ()):
            out.append(StructField(f.name, f.dataType, True))
        else:
            raise ValueError(
                f"cannot merge schemas: column {f.name!r} is {a} in the "
                f"table but {b} in the new data"
            )
    for f in new.fields:  # preserve the new frame's column order
        if f.name in new_by:
            out.append(StructField(f.name, f.dataType, True))
    return StructType(out)


def _require_compatible(table: StructType, incoming: StructType) -> None:
    """Strict (non-evolving) write check: same column set, same types
    (nullability and order are not part of the contract — Delta matches
    by name)."""
    a = {f.name: f.dataType.simpleString() for f in table.fields}
    b = {f.name: f.dataType.simpleString() for f in incoming.fields}
    if a != b:
        only_a = sorted(set(a) - set(b))
        only_b = sorted(set(b) - set(a))
        diff = sorted(
            k for k in set(a) & set(b) if a[k] != b[k]
        )
        raise ValueError(
            "schema mismatch (pass merge_schema=True to evolve): "
            f"missing={only_a} new={only_b} "
            f"type_diff={[(k, a[k], b[k]) for k in diff]}"
        )


def _reject_reserved(schema: StructType) -> None:
    """Refuse table columns named like the change feed's own columns:
    the feed would overwrite or duplicate them. Spark resolves names
    case-insensitively, so the check does too."""
    bad = [n for n in schema.fieldNames() if n.lower() in _RESERVED_COLUMNS]
    if bad:
        raise ValueError(
            f"column name(s) {bad} are reserved for the change data feed "
            f"({', '.join(_RESERVED_COLUMNS)}); rename them"
        )


def _align(df: DataFrame, schema: StructType) -> DataFrame:
    """Project ``df`` onto ``schema``: cast shared columns, null-fill
    missing ones — how one file generation is served under a newer
    (or a time-traveled older) snapshot schema."""
    have = set(df.columns)
    return df.select(*[
        (F.col(f.name).cast(f.dataType) if f.name in have
         else F.lit(None).cast(f.dataType)).alias(f.name)
        for f in schema.fields
    ])


# ---------------------------------------------------------------------------
# snapshot resolution


@dataclass
class Snapshot:
    """Table state at one version: live files + schema + properties.

    Each file entry carries ``_schema_json`` — the schema its parquet
    bytes were written under (its *generation*) — so readers can group
    by generation and align to the snapshot schema."""

    root: str
    version: int
    schema_json: str
    properties: dict
    partition_by: list[str]
    # rel_path -> file action dict ({path, partitionValues, numRecords,
    # stats, _schema_json})
    files: dict = field(default_factory=dict)

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.schema_json))


def _load_checkpoint_txns(root: str, version: int) -> dict | None:
    """The app→txnVersion map a checkpoint carries (Delta's
    SetTransaction actions live in checkpoints for exactly this
    reason: log-retention cleanup must not erase idempotent-write
    protection). ``None`` for pre-feature checkpoints that never
    recorded the map — callers must fall back to scanning commits."""
    t = checkpoint_from_bytes(store_for(root).read_checkpoint(version))
    meta = {
        k.decode(): v.decode()
        for k, v in (t.schema.metadata or {}).items()
    }
    if "txns" not in meta:
        return None
    return {k: int(v) for k, v in json.loads(meta["txns"]).items()}


def _txn_map(root: str, version: int) -> dict:
    """Replay app→txnVersion stamps up to ``version``: newest
    checkpoint's recorded map + the tail commits — incremental, so it
    works after earlier commits were retention-cleaned. Falls back to
    a full commit scan when the base checkpoint predates the map."""
    txns: dict = {}
    start = 0
    bases = [c for c in _list_checkpoints(root) if c <= version]
    if bases:
        stored = _load_checkpoint_txns(root, bases[-1])
        if stored is not None:
            txns = dict(stored)
            start = bases[-1] + 1
    for v in _list_versions(root):
        if not (start <= v <= version):
            continue
        p = _read_commit(root, v).get("operationParameters", {})
        if p.get("txnAppId") is not None and p.get("txnVersion") is not None:
            txns[str(p["txnAppId"])] = int(p["txnVersion"])
    return txns


def _load_checkpoint(root: str, version: int):
    """Read one parquet log checkpoint into replay state — as a LAZY
    :class:`~.manifest.FileManifest` over the parquet's Arrow table.
    Entries are NEVER bulk-materialized to Python dicts here (a
    driver bottleneck at ~10⁶ files); snapshot consumers
    materialize individual entries on demand and pruning runs
    columnar (see :mod:`.manifest`)."""
    t = checkpoint_from_bytes(store_for(root).read_checkpoint(version))
    meta = {
        k.decode(): v.decode()
        for k, v in (t.schema.metadata or {}).items()
    }
    return (
        FileManifest(t),
        meta.get("schema", ""),
        json.loads(meta.get("properties", "{}")),
        json.loads(meta.get("partition_by", "[]")),
    )


def _resolve(root: str, version: int | None = None,
             timestamp_ms: int | None = None) -> Snapshot:
    versions = _list_versions(root)
    checkpoints = _list_checkpoints(root)
    if not versions and not checkpoints:
        raise FileNotFoundError(f"no transaction log at {root}/{_LOG_DIR}")
    if timestamp_ms is not None:
        eligible = [
            v for v in versions
            if _read_commit(root, v)["timestamp_ms"] <= timestamp_ms
        ]
        if not eligible:
            raise ValueError(
                f"no commit at or before timestamp {timestamp_ms} in {root}"
            )
        version = eligible[-1]
    elif version is None:
        version = max(versions[-1] if versions else -1,
                      checkpoints[-1] if checkpoints else -1)
    elif version not in versions and version not in checkpoints:
        raise ValueError(f"version {version} does not exist in {root}")

    files: dict = {}
    schema_json = ""
    properties: dict = {}
    partition_by: list[str] = []
    start = 0
    base = max((c for c in checkpoints if c <= version), default=None)
    if base is not None:
        files, schema_json, properties, partition_by = _load_checkpoint(
            root, base
        )
        start = base + 1
    replay = [v for v in versions if start <= v <= version]
    expected = set(range(start, version + 1))
    if set(replay) != expected:
        raise ValueError(
            f"cannot resolve version {version} of {root}: commits "
            f"{sorted(expected - set(replay))} are missing and no "
            f"checkpoint covers them"
        )
    for v in replay:
        c = _read_commit(root, v)
        if c.get("schema"):
            schema_json = c["schema"]
        if c.get("properties"):
            properties.update(c["properties"])
        if c.get("partition_by") is not None:
            partition_by = c["partition_by"]
        file_schema = c.get("fileSchema") or schema_json
        for rm in c.get("remove", []):
            files.pop(rm, None)
        for ad in c.get("add", []):
            entry = dict(ad)
            # restore-copied entries keep their original generation;
            # fresh adds are stamped with the commit's file schema.
            entry.setdefault("_schema_json", file_schema)
            files[entry["path"]] = entry
    return Snapshot(root, version, schema_json, properties, partition_by, files)


def _data_files(root: str) -> list[str]:
    """Relative paths of the parquet DATA files under ``root`` — files
    in hidden/internal subtrees (``_txlog``, ``_change_data``, staging
    dirs prefixed with ``_``/``.``) don't count."""
    out = []
    for p in pathlib.Path(root).rglob("*.parquet"):
        rel = p.relative_to(root)
        if any(seg.startswith(("_", ".")) for seg in rel.parts):
            continue
        out.append(str(rel))
    return sorted(out)


def _lossy_partition_types(spark: SparkSession, schema: StructType,
                           files: list[str], part_cols: list[str]) -> set:
    """Partition columns whose INFERRED type loses directory values.

    Partition discovery types a column from its directory names, so
    ``day=01`` infers INT and reads back ``1``. A column keeps its
    inferred type only when casting every directory value to it and
    back to string reproduces the value exactly; the columns returned
    here must be adopted as STRING. NULL partitions
    (``__HIVE_DEFAULT_PARTITION__``) carry no value and don't vote.
    One bounded job over the distinct directory values."""
    types = {f.name: f.dataType for f in schema.fields}
    pairs = set()
    for rel in files:
        for seg in os.path.dirname(rel).split(os.sep):
            k, eq, raw = seg.partition("=")
            if eq and k in part_cols and types.get(k) != StringType():
                v = unescape_partition_value(raw)
                if v != "__HIVE_DEFAULT_PARTITION__":
                    pairs.add((k, v))
    if not pairs:
        return set()
    vals = local_relation(spark, sorted(pairs), "k string, v string")
    cols = sorted({k for k, _ in pairs})
    val = F.col("v")
    row = vals.agg(*[
        F.min(F.when(
            F.col("k") == c,
            F.coalesce(val.try_cast(types[c]).cast("string") == val,
                       F.lit(False)).cast("int"),
        )).alias(f"_rt{i}")
        for i, c in enumerate(cols)
    ]).collect()[0]
    return {c for i, c in enumerate(cols) if row[f"_rt{i}"] == 0}


def _partition_values(rel: str) -> dict:
    """``{column: directory value}`` from a file's hive path, values in
    the escaped directory form the log records."""
    pv = {}
    for seg in os.path.dirname(rel).split(os.sep):
        k, eq, v = seg.partition("=")
        if eq:
            pv[k] = v
    return pv


# ---------------------------------------------------------------------------
# per-file stats from parquet footers
#
# Spark's parquet writer (parquet-java) records each column chunk's row
# count, null count and min/max in the file footer, so a staged file's
# ``numRecords`` and min/max come from reading its footer on the driver
# — no Spark job. The values are the ones a Spark ``min``/``max``
# aggregate over the file returns (pinned against that aggregate by
# ``tests/test_txlog.py``), up to two differences that only widen the
# bounds: -0.0 and 0.0 may swap, and a string chunk whose min/max
# parquet-java dropped (values over 4 KB) logs None/None.


def _partition_stat(raw: str | None, dtype):
    """A partition column's value as a Spark read types it: the
    unescaped directory value cast to ``dtype`` (None for the NULL
    partition or a value the cast rejects)."""
    if raw is None:
        return None
    v = unescape_partition_value(raw)
    if v == "__HIVE_DEFAULT_PARTITION__":
        return None
    try:
        if isinstance(dtype, IntegralType):
            return int(v)
        if isinstance(dtype, (FloatType, DoubleType)):
            return float(v)
        if isinstance(dtype, DecimalType):
            return decimal.Decimal(v).quantize(
                decimal.Decimal(1).scaleb(-dtype.scale),
                context=decimal.Context(prec=dtype.precision + 2),
            )
    except (ValueError, ArithmeticError):
        return None
    return v  # string, date (ISO text)


def _footer_bounds(md, idx: int | None, dtype) -> dict:
    """``{"min", "max"}`` of column ``idx`` over every row group of a
    file's footer metadata ``md``. NaN-aware like Spark's ``max``: a
    chunk max of NaN makes the file max NaN; a min is NaN only when
    every chunk's is. A chunk that holds values but carries no min/max
    makes both None, which keeps the file under every predicate."""
    unknown = {"min": None, "max": None}
    if idx is None:  # column absent from this file: all NULL on read
        return unknown
    if isinstance(dtype, (FloatType, DoubleType)) and not (
        md.created_by or ""
    ).startswith(("parquet-mr", "parquet-java")):
        # other writers (Arrow's among them) leave NaN out of min/max,
        # so the bounds would prune a file whose NaN rows match ">"
        return unknown
    mins, maxs = [], []
    for rg in range(md.num_row_groups):
        chunk = md.row_group(rg).column(idx)
        st = chunk.statistics
        if st is not None and st.has_null_count \
                and st.null_count >= chunk.num_values:
            continue  # all NULL: no bound to contribute
        if st is None or not st.has_min_max:
            return unknown
        if isinstance(dtype, DecimalType) and chunk.physical_type in (
            "INT32", "INT64"
        ):
            lo = decimal.Decimal(st.min_raw).scaleb(-dtype.scale)
            hi = decimal.Decimal(st.max_raw).scaleb(-dtype.scale)
        else:
            try:
                lo, hi = st.min, st.max
            except (ValueError, NotImplementedError, OverflowError):
                return unknown
        mins.append(lo)
        maxs.append(hi)
    if not mins:
        return unknown
    if isinstance(dtype, (FloatType, DoubleType)):
        real = [v for v in mins if v == v]
        lo = min(real) if real else float("nan")
        hi = float("nan") if any(v != v for v in maxs) else max(maxs)
    else:
        lo, hi = min(mins), max(maxs)
    return {"min": lo, "max": hi}


#: reader options that stop parquet from skipping row groups by their
#: footer min/max and pages by their column index
_NO_PARQUET_BOUNDS_FILTER = {
    "parquet.filter.stats.enabled": "false",
    "parquet.filter.columnindex.enabled": "false",
}


def _float_bounds_unknown(entries: list[dict], schema: StructType,
                          partition_by: list[str]) -> bool:
    """Whether some float/double data column of ``schema`` has no max
    logged for one of ``entries``. Such a file may come from a writer
    that leaves NaN out of its footer and page min/max (Arrow's, for
    one, see :func:`_footer_bounds`); Spark orders NaN above every
    number, so parquet's own filtering of ``d > 5`` would skip NaN rows
    that match it, and the scan must switch that filtering off."""
    floats = [f.name for f in schema.fields
              if isinstance(f.dataType, (FloatType, DoubleType))
              and f.name not in partition_by]
    return any(
        ((e.get("stats") or {}).get(c) or {}).get("max") is None
        for e in entries for c in floats
    )


# ---------------------------------------------------------------------------
# bloom-filter file index (Delta's bloom filter index analog)
#
# Opt-in per table via properties at create time:
#   ``bloom.columns`` (comma list), ``bloom.bits`` (default 1024),
#   ``bloom.hashes`` (default 3).
# Every staged file then carries, per indexed column, a ``bits``-wide
# bitmap (hex string in the commit JSON, ~bits/4 bytes) with the
# positions of all its values set. An equality predicate probes the
# bitmap DRIVER-SIDE before Spark lists or opens anything: any unset
# probe position proves the value is absent (no false negatives by
# construction — pinned exhaustively in tests), so point lookups skip
# files that min/max ranges cannot (interleaved values make every
# range "possibly contains"). Positions are md5-derived (60 hex bits
# mod ``bits``) so the executor-side Spark expression and the
# driver-side Python probe are bit-identical — same portability trick
# as the CMS bucket hash and the sampling keys.

#: types whose Spark ``cast("string")`` matches Python ``str()``
#: exactly — the prerequisite for driver-side probing. Floats are
#: excluded (formatting differs), dates/timestamps could be added with
#: care.
_BLOOM_TYPES = ("string", "tinyint", "smallint", "int", "bigint")


def _dv_map(files) -> dict:
    """``{path: dv bundle path}`` for the dv-carrying entries of a
    snapshot's file set — columnar over a manifest (two columns, no
    entry materialization), a dict scan otherwise."""
    if isinstance(files, FileManifest):
        t = files.table
        out = {}
        if "dv" in t.column_names:
            for p, v in zip(
                t.column("path").to_pylist(), t.column("dv").to_pylist()
            ):
                if p not in files.removed and v and v != "{}":
                    out[p] = json.loads(v).get("path")
        for p, e in files.extra.items():
            if e.get("dv"):
                out[p] = e["dv"]["path"]
            else:
                out.pop(p, None)
        return out
    return {p: e["dv"]["path"] for p, e in files.items() if e.get("dv")}


def _lite_map(files) -> dict:
    """``{path: lite entry}`` (path + schema generation + dv ref) for a
    snapshot's file set — columnar over a manifest (three columns, no
    full entry materialization). Seeds ``change_feed``'s state walk
    when ``cleanup_log`` has pruned the commits below the latest
    checkpoint."""
    if isinstance(files, FileManifest):
        t = files.table
        names = t.column_names
        dvs = (
            t.column("dv").to_pylist()
            if "dv" in names else [None] * t.num_rows
        )
        out = {}
        for p, s, v in zip(
            t.column("path").to_pylist(),
            t.column("schema_json").to_pylist(),
            dvs,
        ):
            if p in files.removed:
                continue
            lite = {"path": p, "_schema_json": s}
            if v and v != "{}":
                lite["dv"] = json.loads(v)
            out[p] = lite
        for p, e in files.extra.items():
            lite = {"path": p, "_schema_json": e.get("_schema_json")}
            if e.get("dv"):
                lite["dv"] = e["dv"]
            out[p] = lite
        return out
    out = {}
    for p, e in files.items():
        lite = {"path": p, "_schema_json": e.get("_schema_json")}
        if e.get("dv"):
            lite["dv"] = e["dv"]
        out[p] = lite
    return out


def _dv_params(properties: dict) -> tuple[bool, float]:
    """Deletion-vector (merge-on-read) DML opt-in, per table property:
    ``dv.enabled`` turns it on, ``dv.maxDeletedFraction`` (default 0.5)
    is the per-file ceiling on TOTAL deleted fraction (existing DV +
    this commit's deletes) above which the file is copy-on-write
    rewritten instead — a file that is mostly holes should be
    compacted, not annotated."""
    return (
        str(properties.get("dv.enabled", "false")).lower() == "true",
        float(properties.get("dv.maxDeletedFraction", 0.5)),
    )


def _bloom_params(properties: dict) -> tuple[list[str], int, int]:
    cols = [
        c.strip()
        for c in str(properties.get("bloom.columns", "")).split(",")
        if c.strip()
    ]
    return (
        cols,
        int(properties.get("bloom.bits", 1024)),
        int(properties.get("bloom.hashes", 3)),
    )


import functools


@functools.lru_cache(maxsize=1024)
def _bloom_positions_py(value, hashes: int, bits: int) -> tuple[int, ...]:
    # cached: positions depend only on (literal, k, bits) — without the
    # cache a point lookup over millions of files recomputes k md5s per
    # file on the driver
    import hashlib

    return tuple(
        int(hashlib.md5(f"{i}|{value}".encode()).hexdigest()[:15], 16) % bits
        for i in range(hashes)
    )


def _bloom_expr(col: str, seed: int, bits: int):
    """Spark mirror of :func:`_bloom_positions_py` for one hash row."""
    h = F.md5(F.concat_ws("|", F.lit(str(seed)), F.col(col).cast("string")))
    return F.pmod(
        F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint"), F.lit(bits)
    )


def _bloom_may_contain(bl: dict | None, lit) -> bool:
    """Driver-side probe: False only when the bitmap PROVES absence.

    ``bits`` comes from the stored entry, NOT the mask's hex length —
    a bit count that isn't a multiple of 4 (or a mask whose top bits
    overflow the hex width) would otherwise make the probe use a
    different modulus than the build side and falsely prune."""
    if not bl or not bl.get("mask"):
        return True
    bits = int(bl.get("bits", len(bl["mask"]) * 4))
    mask = int(bl["mask"], 16)
    return all(
        (mask >> p) & 1
        for p in _bloom_positions_py(lit, int(bl.get("k", 3)), bits)
    )


#: the predicate operators read()/_prune understand — validated up
#: front so an unsupported op (e.g. '!=') fails with a clear error
#: instead of being silently ignored by pruning and then crashing the
#: row filter with a bare KeyError.
_PRED_FNS = {
    "=": lambda c, v: c == v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
}


def _validate_predicates(predicates) -> None:
    for _col, op, _lit in predicates or []:
        if op not in _PRED_FNS:
            raise ValueError(
                f"unsupported predicate op {op!r}; supported operators: "
                f"{list(_PRED_FNS)}"
            )


def _filter_rows(df: DataFrame, predicates) -> DataFrame:
    """``df`` filtered row-exactly by ``[(col, op, literal)]``."""
    for col, op, lit in predicates or []:
        df = df.filter(_PRED_FNS[op](F.col(col), F.lit(lit)))
    return df


def _keep_entry(f_: dict, predicates) -> bool:
    """Scalar file-skipping decision for ONE entry dict — the same
    semantics :func:`~.manifest.prune_columnar` evaluates columnarly
    (bounds via :func:`~.manifest.bounds_may_match`, blooms via
    :func:`_bloom_may_contain`); every ambiguity resolves to keep. A
    partition value compares as the value it encodes, not as its
    escaped directory name."""
    for col, op, lit in predicates or []:
        # probe only literal types whose str() provably matches the
        # indexed column's Spark string cast (int/str — the same
        # eligibility rule as _BLOOM_TYPES): a float literal on an
        # int column would encode "2.0" vs the indexed "2" and
        # produce a FALSE NEGATIVE, turning pruning into a filter.
        if (
            op == "="
            and isinstance(lit, (int, str))
            and not isinstance(lit, bool)
            and not _bloom_may_contain((f_.get("bloom") or {}).get(col), lit)
        ):
            return False
        pv = (f_.get("partitionValues") or {}).get(col)
        st = (f_.get("stats") or {}).get(col)
        if pv is not None:
            lo = hi = unescape_partition_value(pv)
        elif st is not None:
            lo, hi = st.get("min"), st.get("max")
        else:
            continue
        if not bounds_may_match(lo, hi, op, lit):
            return False
    return True


def _prune(snap: Snapshot, predicates) -> list[dict]:
    """File-skipping: drop files whose partition values or min/max stats
    prove no row can match. ``predicates`` is a list of
    ``(column, op, literal)`` with op in {=, <, <=, >, >=}; unknown
    columns / missing stats keep the file (pruning is only ever an
    optimization, never a filter). Equality predicates additionally
    probe the file's BLOOM bitmap when one was indexed (see
    ``bloom.columns``): min/max answers "could the range contain it",
    the bloom answers "was this VALUE probably written here" — the
    point-lookup skipper that stats can't provide once values
    interleave across files.

    Checkpoint-backed snapshots evaluate the predicates COLUMNARLY
    over the manifest's Arrow base (``pyarrow.compute``/numpy — see
    :mod:`.manifest`) and materialize only the survivors; the few
    tail-commit entries filter scalar-side. Dict-backed snapshots
    (young tables, no checkpoint yet) loop entries directly."""
    _validate_predicates(predicates)
    files = snap.files
    if isinstance(files, FileManifest):
        out = prune_columnar(files, predicates, _bloom_positions_py)
        out += [
            f_ for f_ in files.extra.values() if _keep_entry(f_, predicates)
        ]
        return out
    return [f_ for f_ in files.values() if _keep_entry(f_, predicates)]


def _key_range_predicates(key_set, key_schema: StructType) -> list[tuple]:
    """``[(k, ">=", min), (k, "<=", max)]`` over the batch's MERGE keys
    (``key_set``, a pyarrow table), for :func:`_prune` to skip probe
    files that cannot hold any of them. A key column contributes only
    when its order agrees with the join's equality and with the logged
    bounds: an integral column or a binary-collated string column
    (partition values compare unescaped, see :func:`_keep_entry`), and
    only when no batch key is NULL there (a NULL key matches NULL
    null-safely, and min/max stats skip NULLs). Floats (NaN, -0.0),
    collated strings and every other type keep every file."""
    import pyarrow.compute as pc

    preds = []
    for f_ in key_schema.fields:
        t = f_.dataType
        if not (isinstance(t, IntegralType) or t == StringType()):
            continue
        col = key_set.column(f_.name)
        if col.null_count:
            continue
        mm = pc.min_max(col)
        preds += [(f_.name, ">=", mm["min"].as_py()),
                  (f_.name, "<=", mm["max"].as_py())]
    return preds


def _staged_key_set(root: str, adds: list[dict], key_schema: StructType):
    """The keys of a source staged as ``adds`` (files under ``root``
    holding one row per key, keyed on no partition column), as the
    pyarrow table a Spark ``toArrow`` of them gives, read on the driver
    with no job: each file's key columns, cast to the key schema's
    Arrow types."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(key_schema)
    tables = []
    for a in adds:
        with pq.ParquetFile(os.path.join(root, a["path"])) as f:
            data = f.read(columns=schema.names)
        tables.append(pa.Table.from_arrays(
            [data.column(n).cast(t) for n, t in zip(schema.names,
                                                    schema.types)],
            schema=schema,
        ))
    return pa.concat_tables(tables)


# ---------------------------------------------------------------------------
# MERGE key membership
#
# A MERGE splits target and source rows by whether their key is in a key
# set. A small set becomes a literal predicate in the query itself; a
# larger one is a left-outer join against the distinct keys with an
# indicator column. Either way the frame gains the never-NULL boolean
# column _MEMBER, so the code downstream is the same.

#: key sets at or below this many keys become a literal predicate
#: instead of a broadcast join: the broadcast costs a job per query that
#: uses it, the literal costs driver-side planning that grows with the
#: key count (measured in CHANGES.md).
_LITERAL_KEYS_MAX = 256

_MEMBER = "__txmerge_member"
_INT_SUFFIX = {ByteType: "Y", ShortType: "S", IntegerType: "", LongType: "L"}


def _sql_literals(col, dtype) -> list | None:
    """Exact, typed Spark SQL literals for the values of one Arrow key
    column (None for a NULL value), or None when ``dtype`` has no exact
    rendering. Strings go through their UTF-8 hex, so no escaping is
    needed; timestamps through their integer microseconds, so the
    session time zone cannot shift them."""
    import pyarrow as pa

    t = type(dtype)
    if t in _INT_SUFFIX:
        return [None if v is None else f"{v}{_INT_SUFFIX[t]}"
                for v in col.to_pylist()]
    if dtype == StringType():  # the default (binary) collation only
        return [None if v is None else
                f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
                for v in col.to_pylist()]
    if t is TimestampType and col.type.unit == "us":
        return [None if v is None else f"timestamp_micros({v})"
                for v in col.cast(pa.int64()).to_pylist()]
    if t is DateType:
        return [None if v is None else f"DATE '{v.isoformat()}'"
                for v in col.to_pylist()]
    if t in (DoubleType, FloatType, DecimalType):
        def text(v) -> str:
            if isinstance(v, decimal.Decimal):
                return format(v, "f")
            if v != v:
                return "NaN"
            if v in (float("inf"), float("-inf")):
                return "Infinity" if v > 0 else "-Infinity"
            return repr(v)
        return [None if v is None else
                f"CAST('{text(v)}' AS {dtype.simpleString()})"
                for v in col.to_pylist()]
    return None


def _literal_membership(key_set, key_schema: StructType) -> str | None:
    """SQL predicate, never NULL, that holds exactly for rows whose key
    columns equal one row of ``key_set`` (a pyarrow table) null-safely,
    as the join's ``<=>`` does; None when a key type has no exact
    literal. Keys without a NULL form one ``IN`` list (over a struct for
    several columns); a key holding a NULL adds its own ``<=>`` term."""
    cols = []
    for f_ in key_schema.fields:
        lits = _sql_literals(key_set.column(f_.name), f_.dataType)
        if lits is None:
            return None
        cols.append(lits)
    names = ["`" + f_.name.replace("`", "``") + "`"
             for f_ in key_schema.fields]
    full = [t for t in zip(*cols) if None not in t]
    terms = []
    if full:
        if len(names) == 1:
            lhs, items = names[0], [t[0] for t in full]
        else:
            def struct(vals) -> str:
                return "named_struct(" + ", ".join(
                    f"'k{i}', {v}" for i, v in enumerate(vals)) + ")"
            lhs, items = struct(names), [struct(t) for t in full]
        terms.append(f"coalesce({lhs} IN ({', '.join(items)}), false)")
    for t in zip(*cols):
        if None in t:
            terms.append("(" + " AND ".join(
                f"{n} IS NULL" if v is None else f"{n} <=> {v}"
                for n, v in zip(names, t)) + ")")
    return " OR ".join(terms)


def _key_members(spark: SparkSession, key_set, key_schema: StructType):
    """The membership test for the distinct keys ``key_set``: a literal
    predicate (SQL text) at or below :data:`_LITERAL_KEYS_MAX` keys, else
    a broadcast relation of the keys."""
    if key_set.num_rows <= _LITERAL_KEYS_MAX:
        expr = _literal_membership(key_set, key_schema)
        if expr is not None:
            return expr
    return F.broadcast(spark.createDataFrame(key_set, key_schema))


def _mark(df: DataFrame, keys: list[str], members) -> DataFrame:
    """``df`` plus the never-NULL boolean column :data:`_MEMBER`: its key
    is in ``members`` null-safely. ``members`` is a literal predicate
    (:func:`_key_members`) or a frame of distinct keys, joined left-outer
    with an indicator column."""
    if isinstance(members, str):
        return df.withColumn(_MEMBER, F.expr(members))
    right = members.select(
        *[F.col(k).alias(f"{_MEMBER}{i}") for i, k in enumerate(keys)],
        F.lit(True).alias(_MEMBER),
    )
    cond = None
    for i, k in enumerate(keys):
        c = F.col(k).eqNullSafe(F.col(f"{_MEMBER}{i}"))
        cond = c if cond is None else cond & c
    return df.join(right, cond, "left_outer").select(
        *[F.col(c) for c in df.columns],
        F.coalesce(F.col(_MEMBER), F.lit(False)).alias(_MEMBER),
    )


def _drop_duplicate_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """``df.dropDuplicates(keys)``, keeping each kept row's own key
    values: the dedup aggregate outputs a float key normalized (-0.0 as
    0.0), while a MERGE writes the source row as it is."""
    types = {f.name: f.dataType for f in df.schema.fields}
    raw = {
        k: f"{_MEMBER}_raw{i}" for i, k in enumerate(keys)
        if isinstance(types[k], (FloatType, DoubleType))
    }
    if not raw:
        return df.dropDuplicates(keys)
    return (
        df.withColumns({a: F.col(k) for k, a in raw.items()})
        .dropDuplicates(keys)
        .withColumns({k: F.col(a) for k, a in raw.items()})
        .drop(*raw.values())
    )


def _union_all(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f_ in frames[1:]:
        out = out.unionByName(f_)
    return out


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering for TxTable.optimize(zorder_cols=...)


def _rank_surrogate(df: DataFrame, col: str) -> "F.Column":
    """Order-preserving numeric surrogate for any orderable column, so
    quantile bucketing works uniformly: numerics pass through,
    timestamps/dates become epoch numbers, strings fold their first 8
    characters into an int64 (lexicographic order preserved for ASCII —
    the same prefix treatment Delta's Z-ORDER applies)."""
    t = dict(df.dtypes)[col].lower()
    c = F.col(col)
    if t.startswith("timestamp"):
        return F.unix_micros(c.cast("timestamp")).cast("double")
    if t == "date":
        return F.unix_date(c).cast("double")
    if t in ("string", "varchar"):
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(8)),
            F.lit(0).cast("long"),
            lambda acc, i: acc * 256
            + F.coalesce(F.ascii(c.substr(i, F.lit(1))), F.lit(0)).cast(
                "long"
            ),
        ).cast("double")
    return c.cast("double")


def _zvalue(df: DataFrame, cols: list[str], bits: int = 8) -> "F.Column":
    """Morton (Z-curve) value: per-column rank buckets, bits interleaved.

    Each column is reduced to a per-column bucket by ranking its
    order-preserving numeric surrogate against approximate quantile
    cutpoints — ONE multi-column ``approxQuantile`` pass for all
    columns, with relativeError sized to the bucket width so adjacent
    cutpoints don't collapse (rank-based, so skewed columns bucket as
    evenly as uniform ones; a percent_rank window would funnel the
    table through a single-partition sort). Bucket bits are then
    interleaved MSB-first: z = b1[7] b2[7] b1[6] b2[6] ... Sorting by z
    gives every column locality, unlike a lexicographic sort which
    gives trailing columns none.

    Bit budget: bits is capped at 63 // len(cols) so the interleaved
    value never reaches the int64 sign bit (which would sort the top
    half of the leading column FIRST and silently destroy clustering).
    """
    bits = max(1, min(bits, 63 // max(1, len(cols))))
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    surrogates = {c: _rank_surrogate(df, c) for c in cols}
    proj = df.select(
        *[s.alias(f"_zq{i}") for i, s in enumerate(surrogates.values())]
    )
    all_cuts = proj.approxQuantile(
        [f"_zq{i}" for i in range(len(cols))], probs, 1.0 / (2 * n_buckets)
    )
    def fold_for(s):
        # closure (NOT a default arg: pyspark reads lambda arity to pick
        # the 2- vs 3-parameter HOF form)
        return lambda acc, x: acc + F.when(s >= x, 1).otherwise(0).cast(
            "long"
        )

    buckets = []
    for (c, surrogate), cuts in zip(surrogates.items(), all_cuts):
        cuts = sorted(set(cuts))
        # bucket = #cutpoints <= value (map-side fold over a literal
        # array; distinct cutpoints keep it <= 2^bits-1 comparisons)
        b = F.aggregate(
            F.lit(cuts), F.lit(0).cast("long"), fold_for(surrogate)
        )
        # Rescale to the FULL bit range: a low-cardinality column dedups
        # to few cutpoints, and raw counts {1..k} live in the low bits —
        # the interleave would then be dominated by high-cardinality
        # columns. Spreading over [0, 2^bits-1] keeps every column's
        # split in the TOP interleaved bits.
        b = F.call_function(
            "div", b * F.lit(n_buckets - 1), F.lit(max(1, len(cuts)))
        )
        buckets.append(b)
    one = F.lit(1).cast("long")
    z = F.lit(0).cast("long")
    for bit in range(bits - 1, -1, -1):
        for b in buckets:
            z = F.shiftleft(z, 1).bitwiseOR(
                F.shiftright(b, bit).bitwiseAND(one)
            )
    return z


# ---------------------------------------------------------------------------
# the table API


class TxTable:
    """Versioned parquet table — the repo's one table format (Delta Lake's
    role in the reference)."""

    #: consolidate the replayed log into a parquet manifest every N
    #: commits (Delta's default checkpoint interval is also 10). Set to
    #: 0 to disable.
    checkpoint_interval: int = 10

    def __init__(self, spark: SparkSession, path: str,
                 checkpoint_interval: int | None = None,
                 store=None):
        self.spark = spark
        self.root = normalize_root(path)
        if store is not None:
            # Route this table's commit plane through the given
            # CommitStore (registered so module-level log reads —
            # snapshot resolution, history, vacuum — resolve to it too).
            register_store(self.root, store)
        else:
            # No pluggable store passed: refuse object-store schemes
            # UNLESS one was already registered for this root (a second
            # handle re-attaching to a configured table must work) —
            # the file-based fallback's rename/link atomicity is
            # exactly what a registered CommitStore (conditional PUT)
            # exists to replace.
            scheme = path.split("://", 1)[0] if "://" in path else ""
            if scheme not in ("", "file") and isinstance(
                store_for(self.root), LocalFileCommitStore
            ):
                raise ValueError(
                    f"TxTable at {path!r}: scheme {scheme!r} has no atomic "
                    f"rename/link for the default file-based commit log; "
                    f"pass/register a CommitStore with put-if-absent "
                    f"semantics (e.g. a conditional-PUT object-store store)"
                )
        if checkpoint_interval is not None:
            self.checkpoint_interval = checkpoint_interval
        #: observability: did the last merge() broadcast its key probe?
        self._last_merge_used_broadcast: bool | None = None

    # -- creation ----------------------------------------------------------

    @classmethod
    def create(cls, spark: SparkSession, path: str, schema: StructType,
               partition_by: list[str] | None = None,
               properties: dict | None = None,
               store=None) -> "TxTable":
        """Empty-table create with schema + properties (S8;
        reference ``delta_setup.py:450-505``). Version 0 holds the
        schema and table properties and zero files."""
        _reject_reserved(schema)
        t = cls(spark, path, store=store)
        os.makedirs(t.root, exist_ok=True)
        if _list_versions(t.root):
            raise FileExistsError(f"table already exists at {t.root}")
        strays = _data_files(t.root)
        if strays:
            # A log-less directory that already holds parquet data is a
            # PRE-TXLOG table, not an empty location: creating a fresh
            # log here would make every existing row invisible to reads
            # and VACUUM would later delete them as untracked strays —
            # silent state loss on the upgrade path.
            raise FileExistsError(
                f"{t.root} holds {len(strays)} parquet data file(s) but no "
                f"transaction log; use TxTable.bootstrap() to adopt them "
                f"as the initial commit (or point create() at an empty "
                f"directory)"
            )
        _publish_commit(t.root, 0, {
            "version": 0,
            "timestamp_ms": int(time.time() * 1000),
            "operation": "CREATE TABLE",
            "operationParameters": {},
            "schema": schema.json(),
            "properties": properties or {},
            "partition_by": partition_by or [],
            "add": [], "remove": [],
        })
        return t

    @classmethod
    def bootstrap(cls, spark: SparkSession, path: str,
                  properties: dict | None = None) -> "TxTable":
        """Adopt an existing PLAIN-parquet directory as a versioned
        table: version 0 commits the directory's current data files as
        its adds, so previously written rows stay visible — and tracked
        (VACUUM no longer sees them as deletable strays). This is the
        upgrade path for targets written before the transaction log
        existed (e.g. a merge stream resuming over a pre-txlog target;
        Delta's equivalent is ``CONVERT TO DELTA``).

        Hive-partitioned layouts are adopted too: partition columns are
        inferred from the directory names (their values come from the
        path at read time, exactly like fresh partitioned writes). A
        column keeps its inferred type only when that type reproduces
        every directory value (:func:`_lossy_partition_types`), so
        ``day=01`` stays the string ``'01'``.

        Float/double stats are logged only for files parquet-java
        wrote: other writers (Arrow's among them) leave NaN out of the
        footer min/max, so their bounds are unknown and never prune,
        and every scan of such a file switches parquet's own min/max
        filtering off (:func:`_float_bounds_unknown`), so a range
        condition keeps its NaN rows in reads, DELETE and UPDATE alike.
        """
        t = cls(spark, path)
        if _list_versions(t.root):
            raise FileExistsError(
                f"already a transaction-log table: {t.root}"
            )
        files = _data_files(t.root)
        if not files:
            raise FileNotFoundError(
                f"no parquet data files to adopt under {t.root}"
            )
        # partition columns derived from the paths UP FRONT: they must
        # be excluded from bloom indexing (their inferred types can
        # differ from the stored directory strings)
        part_cols: list[str] = []
        for rel in files:
            for seg in os.path.dirname(rel).split(os.sep):
                if "=" in seg:
                    k = seg.partition("=")[0]
                    if k not in part_cols:
                        part_cols.append(k)
        df = spark.read.option("basePath", t.root).parquet(t.root)
        restring = _lossy_partition_types(spark, df.schema, files, part_cols)
        if restring:
            df = spark.read.option("basePath", t.root).schema(StructType([
                StructField(f.name, StringType(), f.nullable)
                if f.name in restring else f
                for f in df.schema.fields
            ])).parquet(t.root)
        schema = df.schema
        _reject_reserved(schema)
        # numRecords + min/max column stats for every adopted file, from
        # its footer (same auto-indexing as fresh writes), so log-side
        # file skipping works immediately — not only after a rewrite.
        # Zero-row files are not adopted (Delta doesn't commit them).
        per_file = t._collect_stats(t.root, files, schema, None,
                                    properties or {}, part_cols)
        adds = [
            {"path": rel, "partitionValues": _partition_values(rel),
             **per_file[rel]}
            for rel in files if rel in per_file
        ]
        _publish_commit(t.root, 0, {
            "version": 0,
            "timestamp_ms": int(time.time() * 1000),
            "operation": "BOOTSTRAP",
            "operationParameters": {"numFiles": len(adds)},
            "schema": schema.json(),
            "fileSchema": schema.json(),
            "properties": properties or {},
            "partition_by": part_cols,
            "add": adds, "remove": [],
        })
        return t

    @classmethod
    def exists(cls, spark: SparkSession, path: str) -> bool:
        try:
            return store_for(normalize_root(path)).log_exists()
        except OSError:
            return False

    # -- snapshot reads ----------------------------------------------------

    def snapshot(self, version: int | None = None,
                 timestamp_ms: int | None = None) -> Snapshot:
        return _resolve(self.root, version, timestamp_ms)

    #: deletion-vector sets at or below this many rows broadcast into
    #: the scan's anti-join (per schema generation); above it the join
    #: falls back to shuffle so a pathological DV volume can never OOM
    #: executors — same size-gating discipline as merge's key probe.
    dv_broadcast_rows: int = 5_000_000

    def _read_entries(self, entries: list[dict], schema: StructType,
                      partition_by: list[str],
                      with_position: bool = False) -> DataFrame:
        """Read a set of file entries aligned to ``schema``: files are
        grouped by the schema GENERATION they were written under, each
        group is scanned with its exact schema (so parquet types always
        match), and every group is cast/null-filled onto the target
        schema. One scan per generation — generations are few even when
        files are millions.

        Entries carrying a deletion vector (``entry["dv"]``) have their
        deleted positions dropped at scan: the referenced DV bundles
        (parquet of ``(file, row_index)``) anti-join against the scan's
        ``_metadata`` (file path + row index) — broadcast when the total
        cardinality is bounded, shuffle otherwise. ``with_position=True``
        appends ``_dv_rel`` (root-relative file path) and ``_dv_pos``
        (physical row index) columns — what the DV write path uses to
        address rows.

        A group with a float/double column whose bounds the log does
        not hold is scanned with parquet's row-group and page filtering
        off (:func:`_float_bounds_unknown`)."""
        if not entries:
            df = self.spark.createDataFrame([], schema)
            if with_position:
                df = df.withColumn(
                    "_dv_rel", F.lit(None).cast("string")
                ).withColumn("_dv_pos", F.lit(None).cast("long"))
            return df
        reserved = {"_dv_rel", "_dv_pos"} & {f.name for f in schema.fields}
        if reserved:
            raise ValueError(
                f"table schema reserves column names {sorted(reserved)}"
            )
        target_json = schema.json()
        groups: dict[str, list[dict]] = {}
        for f_ in entries:
            p = os.path.join(self.root, f_["path"])
            if not os.path.exists(p):
                raise VacuumedFileError(
                    f"data file {f_['path']} was removed by VACUUM; this "
                    f"snapshot is no longer reconstructable"
                )
            dv = f_.get("dv")
            if dv and not os.path.exists(os.path.join(self.root, dv["path"])):
                raise VacuumedFileError(
                    f"deletion vector {dv['path']} was removed by VACUUM; "
                    f"this snapshot is no longer reconstructable"
                )
            groups.setdefault(
                f_.get("_schema_json") or target_json, []
            ).append(f_)
        # _metadata.file_path renders as a Hadoop URI ("file:" +
        # percent-encoded absolute path) — a root or partition dir
        # with spaces / non-ASCII would make a raw prefix strip
        # mis-count. Decode the URI first (pre-encoding literal '+' so
        # url_decode is a pure percent-decode, not form-decoding),
        # THEN strip the plain-path prefix — exact for any root.
        prefix = "file:" + os.path.abspath(self.root) + "/"

        def _rel_expr():
            decoded = F.url_decode(
                F.regexp_replace(
                    F.col("_metadata.file_path"), r"\+", "%2B"
                )
            )
            return F.substring(decoded, len(prefix) + 1, 1_000_000)
        parts = []
        for sj in sorted(groups):
            es = groups[sj]
            reader = self.spark.read
            if partition_by:
                reader = reader.option("basePath", self.root)
            gen_schema = StructType.fromJson(json.loads(sj))
            if _float_bounds_unknown(es, gen_schema, partition_by):
                reader = reader.options(**_NO_PARQUET_BOUNDS_FILTER)
            part = reader.schema(gen_schema).parquet(
                *[os.path.join(self.root, e["path"]) for e in es]
            )
            dv_entries = [e for e in es if e.get("dv")]
            if dv_entries or with_position:
                part = part.select(
                    "*",
                    _rel_expr().alias("_dv_rel"),
                    F.col("_metadata.row_index").alias("_dv_pos"),
                )
            if dv_entries:
                bundles = sorted({e["dv"]["path"] for e in dv_entries})
                dv_df = self.spark.read.parquet(
                    *[os.path.join(self.root, b) for b in bundles]
                )
                rels = sorted(e["path"] for e in dv_entries)
                if len(rels) <= 1000:
                    # pushdown-friendly for the common bounded case;
                    # omitting the filter is CORRECT regardless (a
                    # bundle's stale rows reference rels no longer in
                    # the scan, or a subset of a newer referenced
                    # bundle's rows — see the DV commit invariants)
                    dv_df = dv_df.filter(F.col("file").isin(rels))
                total_card = sum(
                    e["dv"].get("cardinality", 0) for e in dv_entries
                )
                right = dv_df.select(
                    F.col("file").alias("_dv_rel2"),
                    F.col("row_index").alias("_dv_pos2"),
                )
                if total_card <= self.dv_broadcast_rows:
                    right = F.broadcast(right)
                part = part.join(
                    right,
                    (F.col("_dv_rel") == F.col("_dv_rel2"))
                    & (F.col("_dv_pos") == F.col("_dv_pos2")),
                    "left_anti",
                )
            have = set(part.columns)
            cols = [
                (F.col(f.name).cast(f.dataType) if f.name in have
                 else F.lit(None).cast(f.dataType)).alias(f.name)
                for f in schema.fields
            ]
            if with_position:
                cols += [F.col("_dv_rel"), F.col("_dv_pos")]
            parts.append(part.select(*cols))
        return _union_all(parts)

    def read(self, version: int | None = None,
             timestamp_ms: int | None = None,
             predicates=None) -> DataFrame:
        """Snapshot read, optionally time-traveled (D4) and file-pruned.

        ``predicates`` — ``[(col, op, literal)]`` — prunes the FILE LIST
        driver-side from partition values + stats before Spark opens
        anything, AND applies as a row-level filter on the surviving
        files, so the result is exact (file skipping is purely an
        optimization; a file kept for lack of stats still has its
        non-matching rows filtered).

        A snapshot whose files span schema generations (after
        ``merge_schema`` writes) is served under the snapshot's schema:
        old-generation files are cast/null-filled; time travel to an
        old version serves that version's (old) schema.
        """
        snap = self.snapshot(version, timestamp_ms)
        _validate_predicates(predicates)
        files = _prune(snap, predicates)
        return _filter_rows(
            self._read_entries(files, snap.schema, snap.partition_by),
            predicates,
        )

    # -- commit machinery --------------------------------------------------

    def _maybe_checkpoint(self, version: int) -> None:
        if self.checkpoint_interval and version > 0 \
                and version % self.checkpoint_interval == 0:
            self._write_checkpoint(version)

    def _write_checkpoint(self, version: int) -> None:
        """Consolidate the replayed state at ``version`` into a parquet
        manifest (Delta's checkpoint): snapshot resolution then reads
        one columnar file + ≤ ``checkpoint_interval`` JSON commits
        instead of replaying the whole log — the difference between
        O(interval) and O(history) driver work at millions of files.
        Idempotent and race-safe: concurrent writers produce identical
        content for the same version, and the store's checkpoint write
        is an atomic whole-object replace.

        The manifest is written in the v2 layout (:mod:`.manifest`):
        the v1 JSON columns plus parsed partition-value / stats-bound
        / bloom-bitmap sidecar columns for columnar skipping. A
        checkpoint-backed snapshot builds the next manifest as a
        columnar filter of its base + an Arrow slice for the tail
        adds — entries are NOT round-tripped through Python dicts."""
        snap = _resolve(self.root, version)
        if isinstance(snap.files, FileManifest):
            table = snap.files.to_arrow(snap.schema_json, snap.partition_by)
        else:
            table = entries_to_arrow(
                list(snap.files.values()), snap.schema_json,
                snap.partition_by,
            )
        table = table.replace_schema_metadata({
            "version": str(version),
            "schema": snap.schema_json,
            "properties": json.dumps(snap.properties),
            "partition_by": json.dumps(snap.partition_by),
            # app→txnVersion stamps survive log-retention cleanup only
            # through the checkpoint (Delta stores SetTransaction
            # actions in checkpoints for the same reason)
            "txns": json.dumps(_txn_map(self.root, version)),
        })
        store = store_for(self.root)
        store.write_checkpoint(version, checkpoint_to_bytes(table))
        store.write_pointer({"version": version})

    def _commit(self, base_version: int, build_action, removes: list[str],
                exclusive: bool = False, max_retries: int = 20) -> int:
        """Publish with optimistic-concurrency retry (Delta's
        WriteSerializable rules). ``build_action(version)`` produces the
        action dict for a candidate version. On losing the put-if-absent
        race, the intervening commits are examined:

          * any of them removed a file WE remove (overlapping rewrite)
            → :class:`ConcurrentWriteError`;
          * any of them changed the schema (our frames were validated
            against a schema that no longer governs) → error;
          * ``exclusive`` commits (overwrite — replace-ALL semantics
            can't merge with anything) → error;
          * otherwise the commits are logically disjoint (append vs
            append, rewrites of different files/partitions) and we
            re-claim the next version.
        """
        version = base_version + 1
        for _ in range(max_retries):
            try:
                _publish_commit(self.root, version, build_action(version))
            except ConcurrentWriteError:
                latest = _list_versions(self.root)[-1]
                if exclusive:
                    raise
                ours = set(removes)
                for v in range(version, latest + 1):
                    c = _read_commit(self.root, v)
                    theirs = set(c.get("remove", []))
                    if ours & theirs:
                        raise ConcurrentWriteError(
                            f"version {v} concurrently rewrote "
                            f"{sorted(ours & theirs)[:3]}..."
                        ) from None
                    if c.get("schema"):
                        raise ConcurrentWriteError(
                            f"version {v} concurrently changed the schema"
                        ) from None
                version = latest + 1
                continue
            self._maybe_checkpoint(version)
            return version
        raise ConcurrentWriteError(
            f"gave up after {max_retries} optimistic retries on {self.root}"
        )

    # -- writes ------------------------------------------------------------

    def write(self, df: DataFrame, mode: str = "append",
              operation: str | None = None,
              stats_cols: list[str] | None = None,
              params: dict | None = None,
              merge_schema: bool = False) -> int:
        """Append or overwrite; returns the new version.

        The frame is staged with Spark's parquet writer (hive partition
        layout when the table is partitioned), per-file row counts +
        min/max stats are read from the staged files' parquet footers on
        the driver (no second job; Delta collects stats at the same
        point), each staged file is moved into the table root under a
        writer-unique name, and the commit is published last. One Spark
        job stages the files; a ``bloom.columns`` table adds one
        aggregate over them for its bitmaps.

        ``merge_schema=True`` is Delta's ``mergeSchema``: the committed
        schema becomes the union (new nullable columns appended,
        int/float types widened); with ``mode="overwrite"`` it is
        ``overwriteSchema`` (the incoming schema replaces the table's).
        Without it, a frame whose columns/types differ from the table
        schema is rejected.
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        _reject_reserved(df.schema)
        snap = self.snapshot()
        schema_json: str | None = None
        if not snap.schema_json:
            schema_json = df.schema.json()
        elif merge_schema:
            if mode == "overwrite":  # overwriteSchema: replace outright
                if df.schema != snap.schema:
                    schema_json = df.schema.json()
            else:
                merged = _merge_schemas(snap.schema, df.schema)
                if merged != snap.schema:
                    schema_json = merged.json()
        else:
            _require_compatible(snap.schema, df.schema)
        adds, _ = self._stage_files(df, snap.version + 1, snap.partition_by,
                                    stats_cols, snap.properties)

        def action(version: int) -> dict:
            a = {
                "version": version,
                "timestamp_ms": int(time.time() * 1000),
                "operation": operation or mode.upper(),
                "operationParameters": {"mode": mode, **(params or {})},
                "fileSchema": df.schema.json(),
                "add": adds,
                "remove": sorted(snap.files) if mode == "overwrite" else [],
            }
            if schema_json is not None:
                a["schema"] = schema_json
            return a

        return self._commit(
            snap.version, action,
            removes=sorted(snap.files) if mode == "overwrite" else [],
            exclusive=(mode == "overwrite" or schema_json is not None),
        )

    def _stage_files(self, df: DataFrame, version: int,
                     partition_by: list[str],
                     stats_cols: list[str] | None,
                     properties: dict | None = None,
                     changes: bool = False) -> tuple[list[dict], list[str]]:
        """Write ``df`` once and move its files into the table: returns
        the data files' add actions and the change files' paths.

        ``changes=True`` is a DML commit's frame: the table columns plus
        :data:`_CHANGE_TYPE`, NULL for data rows. It is written with
        ``_CHANGE_TYPE`` as the outer partition level, so one job stages
        both kinds: the ``__HIVE_DEFAULT_PARTITION__`` subtree holds the
        data files, every other subtree change files, which move under
        ``_change_data/`` keeping their hive sub-path
        (``_change_type=insert/p=a%3Ab/cdc-*.parquet``). Either kind of
        file holds exactly the table's non-partition columns."""
        # Sibling of the table root (never inside it, so snapshot reads
        # can't see it), WITHOUT a leading underscore: "_"-prefixed dirs
        # are invisible to Spark's own file listing, which would break
        # the bloom read-back of a ``bloom.columns`` table's staged
        # files. The token makes both the stage dir and the final file
        # names writer-unique, so concurrent writers can never clobber
        # each other's data files.
        token = uuid.uuid4().hex[:8]
        stage = self.root + f"__stage_v{version}_{token}"
        shutil.rmtree(stage, ignore_errors=True)
        levels = ([_CHANGE_TYPE] if changes else []) + list(partition_by)
        writer = df.write.mode("overwrite")
        if levels:
            writer = writer.partitionBy(*levels)
        writer.parquet(stage)

        staged = sorted(
            str(p.relative_to(stage))
            for p in pathlib.Path(stage).rglob("*.parquet")
        )
        data_root, data = stage, staged
        if changes:
            data_root = os.path.join(stage, _DATA_ROWS_DIR)
            data = [rel.split(os.sep, 1)[1] for rel in staged
                    if rel.startswith(_DATA_ROWS_DIR + os.sep)]
        schema = StructType(
            [f for f in df.schema.fields if f.name != _CHANGE_TYPE]
        )
        per_file = self._collect_stats(data_root, data, schema, stats_cols,
                                       properties, partition_by)
        store = store_for(self.root)
        adds = []
        # Tasks that received no rows still write a zero-row parquet
        # file; don't commit those (Delta doesn't either).
        for i, rel in enumerate(r for r in data if r in per_file):
            final_rel = os.path.join(
                os.path.dirname(rel),
                f"part-{version:010d}-{token}-{i:05d}.parquet",
            )
            store.publish_file(os.path.join(data_root, rel),
                               os.path.join(self.root, final_rel))
            adds.append({"path": final_rel,
                         "partitionValues": _partition_values(rel),
                         **per_file[rel]})
        cdc = []
        if changes:
            import pyarrow.parquet as pq

            for i, rel in enumerate(
                r for r in staged if not r.startswith(_DATA_ROWS_DIR + os.sep)
            ):
                src = os.path.join(stage, rel)
                if pq.read_metadata(src).num_rows == 0:
                    continue
                final_rel = os.path.join(
                    _CDC_DIR, os.path.dirname(rel),
                    f"cdc-{version:010d}-{token}-{i:05d}.parquet",
                )
                store.publish_file(src, os.path.join(self.root, final_rel))
                cdc.append(final_rel)
        shutil.rmtree(stage, ignore_errors=True)
        return adds, cdc

    #: like Delta's dataSkippingNumIndexedCols: auto-collect min/max
    #: stats for at most this many leading eligible columns when the
    #: caller doesn't name stats columns explicitly.
    auto_stats_cols: int = 32

    def _collect_stats(self, stage: str, staged: list[str],
                       schema: StructType,
                       stats_cols: list[str] | None,
                       properties: dict | None = None,
                       partition_by: list[str] | None = None) -> dict:
        """Per-file ``numRecords`` and column min/max for log-side data
        skipping, read from each staged file's parquet footer on the
        driver (see :func:`_footer_bounds`); a partition column's bounds
        are its typed directory value (:func:`_partition_stat`). Files
        whose footer counts zero rows — a write task that got no rows —
        are left out, so they are never committed (Delta doesn't either).
        ``stats_cols=None`` auto-indexes the first ``auto_stats_cols``
        eligible columns (Delta's default behavior — stats are what make
        `_prune`'s file skipping work without the writer having to opt
        in); pass an explicit list to control it, or ``[]`` to collect
        none.

        Only a table that opts in to bloom indexing (``bloom.columns``
        property) runs a Spark job here: one aggregate over the staged
        files collects each file's bloom bit positions per indexed
        column — ``hashes`` collect_set aggregates of the md5-derived
        position expression, bounded by ``bloom.bits`` values per file
        per column — folded into per-file hex bitmaps for `_prune`'s
        driver-side equality probe."""
        import pyarrow.parquet as pq

        dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
        if stats_cols is None:
            stats_cols = [
                c for c, t in dtypes.items() if t.startswith(_STATS_TYPES)
            ][: self.auto_stats_cols]
        cols = [
            c for c in stats_cols
            if dtypes.get(c, "").startswith(_STATS_TYPES)
        ]
        types = {f.name: f.dataType for f in schema.fields}
        parts = set(partition_by or [])
        out = {}
        for rel in staged:
            md = pq.read_metadata(os.path.join(stage, rel))
            if md.num_rows == 0:
                continue
            pv = _partition_values(rel)
            idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
            stats = {}
            for c in cols:
                if c in parts:
                    v = _partition_stat(pv.get(c), types[c])
                    mm = {"min": v, "max": v}
                else:
                    mm = _footer_bounds(md, idx.get(c), types[c])
                # plain JSON in the commit: dates/decimals as text
                stats[c] = {
                    k: v if v is None or isinstance(v, (int, float, str))
                    else str(v)
                    for k, v in mm.items()
                }
            out[rel] = {"numRecords": md.num_rows, "stats": stats}

        bloom_cols, bits, hashes = _bloom_params(properties or {})
        # Partition columns are NEVER bloom-indexed: partitionValues
        # already give _prune the EXACT per-file value (a bitmap adds
        # nothing), and on the bootstrap path their inferred type can
        # differ from the stored directory string (day='01' inferred
        # INT 1), which would build a bitmap no true-literal probe can
        # ever match — reproduced false-negative row loss.
        bloom_cols = [
            c for c in bloom_cols
            if dtypes.get(c, "") in _BLOOM_TYPES and c not in parts
        ]
        if bloom_cols and out:
            self._collect_blooms(stage, schema, out, bloom_cols, bits,
                                 hashes)
        return out

    def _collect_blooms(self, stage: str, schema: StructType, out: dict,
                        bloom_cols: list[str], bits: int,
                        hashes: int) -> None:
        """Add each non-empty staged file's ``bloom`` bitmaps to its
        ``out`` entry, from one aggregate over the staged files."""
        aggs = [
            F.collect_set(_bloom_expr(c, i, bits)).alias(f"_bf_{ci}_{i}")
            for ci, c in enumerate(bloom_cols)
            for i in range(hashes)
        ]
        # Explicit schema on the read-back: partition-type INFERENCE
        # would retype a string partition value like day='01' to INT 1,
        # and a bloom bitmap built from the retyped value ('1') can
        # never match the true literal ('01') — a false-negative prune,
        # i.e. silent row loss (the same hazard the partitioned merge
        # sink pins for its target read).
        rows = (
            self.spark.read.option("basePath", stage).schema(schema)
            .parquet(*[os.path.join(stage, rel) for rel in out])
            .groupBy(F.input_file_name().alias("_f"))
            .agg(*aggs)
            .collect()  # bounded: one row per staged file
        )
        seen = set()
        for r in rows:
            # input_file_name() renders a percent-encoded URI; decode
            # so staged paths with spaces/non-ASCII keep exact rels
            # (urllib.parse.unquote leaves literal '+' alone).
            rel = os.path.relpath(
                urllib.parse.unquote(r["_f"].removeprefix("file:")), stage
            )
            blooms = {}
            for ci, c in enumerate(bloom_cols):
                mask = 0
                for i in range(hashes):
                    for p in r[f"_bf_{ci}_{i}"] or []:
                        mask |= 1 << p
                blooms[c] = {
                    "k": hashes,
                    "bits": bits,
                    "mask": format(mask, f"0{(bits + 3) // 4}x"),
                }
            out[rel]["bloom"] = blooms
            seen.add(rel)
        # Every file the footers count rows in must have been read back;
        # a miss (e.g. a hidden-path listing rule eating the stage dir)
        # fails loudly instead of committing a file without its bitmap.
        missing = sorted(set(out) - seen)
        if missing:
            raise RuntimeError(
                f"bloom read-back missed non-empty staged files {missing[:3]}"
            )

    # -- history / time travel / restore ----------------------------------

    def history(self, limit: int = 20) -> DataFrame:
        """Commit history, newest first (O3/D4; reference
        ``delta_setup.py:568-579``). Same core columns as Delta's
        ``history()``: version, timestamp, operation, operationParameters."""
        rows = [
            Row(
                version=v,
                timestamp=c["timestamp_ms"],
                operation=c["operation"],
                operationParameters=json.dumps(
                    c.get("operationParameters", {}), sort_keys=True
                ),
                numAddedFiles=len(c.get("add", [])),
                numRemovedFiles=len(c.get("remove", [])),
            )
            for v in _list_versions(self.root)
            for c in [_read_commit(self.root, v)]
        ]
        rows.sort(key=lambda r: -r.version)
        return self.spark.createDataFrame(
            rows[:limit],
            "version long, timestamp long, operation string, "
            "operationParameters string, numAddedFiles long, "
            "numRemovedFiles long",
        )

    def txn_version(self, app_id: str) -> int | None:
        """Latest committed ``txnVersion`` for ``app_id``, or None if the
        app has never written. Mirrors Delta's idempotent-write contract
        (``txnAppId``/``txnVersion`` write options; reference relies on
        the same mechanism via checkpointed foreachBatch,
        etl_framework.py:490-524): a writer that stamps monotonically
        increasing versions — e.g. streaming batch ids — can skip any
        batch at or below this value after a checkpoint replay.

        Driver-side: commits newest-first down to the newest
        checkpoint, then that checkpoint's recorded txn map — O(tail)
        JSON reads, no Spark job, and correct across
        :meth:`cleanup_log` (the stamps live on in the checkpoint,
        like Delta's SetTransaction actions). Pre-map checkpoints fall
        back to scanning the whole surviving log.
        """
        checkpoints = _list_checkpoints(self.root)
        floor = -1
        stored: dict | None = None
        if checkpoints:
            stored = _load_checkpoint_txns(self.root, checkpoints[-1])
            if stored is not None:
                floor = checkpoints[-1]
        for v in sorted(_list_versions(self.root), reverse=True):
            if v <= floor:
                break  # history at/below the checkpoint is summarized
            p = _read_commit(self.root, v).get("operationParameters", {})
            if p.get("txnAppId") == app_id:
                return int(p["txnVersion"])
        if stored is not None and app_id in stored:
            return int(stored[app_id])
        return None

    def restore_to_version(self, version: int) -> int:
        """RESTORE (D4; reference ``delta_setup.py:581-596``): commit a
        new version whose live set equals the target snapshot's — adds
        back its files, removes everything newer. History is preserved
        (restore is itself a commit), exactly Delta's semantics. The
        re-added entries keep their original ``_schema_json``
        generation, and the restore commit re-instates the target's
        schema, so a restore across a schema evolution round-trips."""
        target = self.snapshot(version)
        current = self.snapshot()
        # paths first, entries after: only the DIFF materializes (a
        # restore touching 1% of a million-file table reads 1% of the
        # manifest's entries, not all of them). A path live in BOTH
        # snapshots still needs re-adding when its deletion-vector
        # reference differs (merge-on-read DML changes an entry's DV
        # without changing its path) — compared via the cheap dv-ref
        # maps, not entry materialization.
        cur_dv, tgt_dv = _dv_map(current.files), _dv_map(target.files)
        add = [
            target.files[p]
            for p in target.files
            if p not in current.files or tgt_dv.get(p) != cur_dv.get(p)
        ]
        for f_ in add:  # files (and their DV bundles) must still exist
            if not os.path.exists(os.path.join(self.root, f_["path"])):
                raise VacuumedFileError(
                    f"cannot restore to {version}: {f_['path']} was vacuumed"
                )
            dv = f_.get("dv")
            if dv and not os.path.exists(os.path.join(self.root, dv["path"])):
                raise VacuumedFileError(
                    f"cannot restore to {version}: deletion vector "
                    f"{dv['path']} was vacuumed"
                )
        removes = sorted(p for p in current.files if p not in target.files)

        def action(new_version: int) -> dict:
            return {
                "version": new_version,
                "timestamp_ms": int(time.time() * 1000),
                "operation": "RESTORE",
                "operationParameters": {"version": version},
                "schema": target.schema_json,
                "add": add,
                "remove": removes,
            }

        return self._commit(current.version, action, removes=removes,
                            exclusive=True)

    # -- vacuum ------------------------------------------------------------

    def vacuum(self, retention_hours: float = 168.0,
               dry_run: bool = False) -> list[str]:
        """Delete data files no longer referenced by the CURRENT snapshot
        whose tombstoning commit is older than ``retention_hours`` (D3;
        reference ``delta_setup.py:548-566``), CDC change files whose
        commit is past retention (Delta vacuums ``_change_data`` the
        same way), plus untracked stray files past retention (crash /
        lost-race leftovers — possible because data lands before the
        commit). Returns the deleted (or would-delete) relative paths.
        Time travel or ``change_feed`` needing a vacuumed file raises
        :class:`VacuumedFileError` afterwards — the same trade Delta
        makes."""
        cutoff_ms = (time.time() - retention_hours * 3600) * 1000
        snap = self.snapshot()
        live = set(snap.files)
        removed_at: dict[str, int] = {}
        cdc_at: dict[str, int] = {}
        # deletion-vector bundle lifecycle: a bundle is collectable
        # once NO live entry references it and the commit that dropped
        # its last reference is past retention (same trade as
        # tombstoned data files — time travel into the retained window
        # keeps working). Reference counts replay from the log;
        # RESTORE re-adding a dv-carrying entry resurrects its bundle.
        dv_ref: dict[str, str] = {}       # data path -> bundle
        dv_count: dict[str, int] = {}     # bundle -> live references
        dv_removed_at: dict[str, int] = {}
        dv_tracked: set = set()
        versions = _list_versions(self.root)
        seed_version = None
        if versions and versions[0] > 0:
            # cleanup_log pruned the log prefix below the latest
            # checkpoint, so reference counts cannot replay from
            # genesis: a bundle whose only add-reference lives in the
            # checkpoint would look like an untracked crash leftover
            # and be rmtree'd while the CURRENT snapshot still reads
            # it (bricking the table). Seed the replay from the
            # resolved checkpoint state at the first surviving version
            # — its commit's own DV bookkeeping is then skipped below
            # (the checkpoint already reflects it).
            seed_version = versions[0]
            for p, b in _dv_map(
                self.snapshot(version=seed_version).files
            ).items():
                if b:
                    dv_ref[p] = b
                    dv_count[b] = dv_count.get(b, 0) + 1
                    dv_tracked.add(b)
        for v in versions:
            c = _read_commit(self.root, v)
            ts = c["timestamp_ms"]
            seeded = v == seed_version
            for b in c.get("dvc", []):
                dv_tracked.add(b)

            def _drop_ref(path: str) -> None:
                b = dv_ref.pop(path, None)
                if b is not None:
                    dv_count[b] -= 1
                    if dv_count[b] == 0:
                        dv_removed_at[b] = ts
            for rm in c.get("remove", []):
                removed_at[rm] = ts
                if not seeded:  # seed state already reflects this commit
                    _drop_ref(rm)
            for ad in c.get("add", []):
                removed_at.pop(ad["path"], None)  # re-added by RESTORE
                if seeded:
                    continue
                b = (ad.get("dv") or {}).get("path")
                if dv_ref.get(ad["path"]) != b:
                    _drop_ref(ad["path"])
                if b is not None:
                    dv_ref[ad["path"]] = b
                    dv_count[b] = dv_count.get(b, 0) + 1
                    dv_removed_at.pop(b, None)
                    dv_tracked.add(b)
            for cd in c.get("cdc", []):
                cdc_at[cd] = ts
        live_dv = set(dv_ref.values())
        # The replay above covers only commits that survived
        # cleanup_log; a bundle whose last add-reference lives in the
        # checkpoint (its commit JSON pruned) would otherwise look like
        # an untracked crash leftover and be deleted while the CURRENT
        # snapshot still reads it. Seed from the snapshot itself —
        # mirrors how `live` protects data files.
        snap_dv = {b for b in _dv_map(snap.files).values() if b}
        live_dv |= snap_dv
        dv_tracked |= snap_dv
        tracked = set(removed_at) | set(cdc_at) | live
        doomed = [
            p for p, ts in removed_at.items()
            if p not in live and ts <= cutoff_ms
        ]
        doomed += [p for p, ts in cdc_at.items() if ts <= cutoff_ms]
        doomed_dv = [
            b for b, ts in dv_removed_at.items()
            if b not in live_dv and ts <= cutoff_ms
        ]
        # crash leftovers: bundle dirs no surviving commit references
        dv_dir = os.path.join(self.root, _DV_DIR)
        if os.path.isdir(dv_dir):
            for entry in sorted(os.listdir(dv_dir)):
                rel = os.path.join(_DV_DIR, entry)
                if rel in dv_tracked or rel in live_dv:
                    continue
                full = os.path.join(dv_dir, entry)
                if os.path.getmtime(full) * 1000 <= cutoff_ms:
                    doomed_dv.append(rel)
        for p in sorted(
            str(q.relative_to(self.root))
            for q in pathlib.Path(self.root).rglob("*.parquet")
        ):
            if p not in tracked and not p.startswith((_LOG_DIR, _DV_DIR)):
                # DV bundle part files are covered by the bundle-level
                # lifecycle above, never by the per-file stray scan
                mtime_ms = os.path.getmtime(os.path.join(self.root, p)) * 1000
                if mtime_ms <= cutoff_ms:
                    doomed.append(p)
        doomed = sorted(set(doomed))
        doomed_dv = sorted(set(doomed_dv))
        # Crashed staging directories live as SIBLINGS of the table
        # root (`<root>__stage_v*_*` — outside the root so snapshot
        # reads can't see them), so the in-root stray scan above never
        # finds them; a writer that died between staging and its final
        # rename would leak a full copy of the written data forever.
        parent = os.path.dirname(self.root.rstrip("/")) or "."
        base = os.path.basename(self.root.rstrip("/"))
        # Stage dirs are reported as ABSOLUTE paths (they live outside
        # the table root, so a root-relative path would escape via
        # `..` and break the relative-under-root contract of the other
        # entries) and deleted via rmtree directly — the unlink-then-
        # catch-IsADirectoryError dance is Linux-specific (macOS raises
        # PermissionError for unlink-on-dir).
        stage_dirs = []
        stage_prefixes = tuple(
            f"{base}{kind}" for kind in ("__stage_", "__cdcstage_",
                                         "__dvstage_")
        )
        for entry in sorted(os.listdir(parent)):
            if not entry.startswith(stage_prefixes):
                continue
            full = os.path.join(parent, entry)
            if os.path.isdir(full) and os.path.getmtime(full) * 1000 <= cutoff_ms:
                stage_dirs.append(full)
        if not dry_run:
            for rel in doomed_dv:
                shutil.rmtree(os.path.join(self.root, rel),
                              ignore_errors=True)
            for p in doomed:
                full = os.path.join(self.root, p)
                try:
                    os.unlink(full)
                except FileNotFoundError:
                    pass
            for full in stage_dirs:
                shutil.rmtree(full, ignore_errors=True)
        return doomed + doomed_dv + stage_dirs

    def cleanup_log(self, retention_hours: float = 168.0,
                    dry_run: bool = False) -> list[int]:
        """Commit-LOG retention (Delta's ``logRetentionDuration``
        counterpart to data-file VACUUM): delete commit JSONs that are
        both (a) BELOW the newest log checkpoint — resolving any
        version at or above it never replays them — and (b) older than
        ``retention_hours``. Returns the deleted versions.

        Without this the log is O(all commits ever) forever; at 100 TB
        scale (micro-batch writers: thousands of commits/day) the
        checkpoint mechanism bounds snapshot RESOLUTION cost but only
        retention bounds log STORAGE and ``history()``/stream-planning
        listings. Contracts after cleanup, both pinned by test:

        * time travel to a version whose commits are gone raises the
          documented missing-commits error (``_resolve`` already
          detects the gap) — same as Delta past its log retention;
        * a LAGGING (or fresh-from-0) txtable STREAM raises instead of
          silently skipping cleaned commits (see
          ``txstream.partitions``), because an append-only reader that
          jumps the gap would lose rows without notice.
        """
        checkpoints = _list_checkpoints(self.root)
        if not checkpoints:
            return []
        base = checkpoints[-1]
        cutoff_ms = (time.time() - retention_hours * 3600) * 1000
        store = store_for(self.root)
        dropped = []
        for v in _list_versions(self.root):
            if v >= base:
                break
            if _read_commit(self.root, v)["timestamp_ms"] > cutoff_ms:
                # contiguous-prefix deletion ONLY (like Delta): commit
                # timestamps can invert at ms granularity under racing
                # writers, and deleting v+1 while keeping v would leave
                # an interior gap a lagging stream could silently jump
                break
            dropped.append(v)
        if not dry_run:
            if dropped and _load_checkpoint_txns(self.root, base) is None:
                # pre-txn-map checkpoint: deleting commits under it
                # would erase txnAppId/txnVersion stamps and silently
                # break idempotent-write replay protection — re-write
                # the checkpoint (idempotent; commits still present)
                # so the map is recorded first.
                self._write_checkpoint(base)
            for v in dropped:
                store.delete_commit(v)
        return dropped

    # -- change data feed --------------------------------------------------

    def change_feed(self, from_version: int,
                    to_version: int | None = None) -> DataFrame:
        """Change Data Feed (D7; reference enables it at
        ``delta_setup.py:111,464``): row-level changes between versions,
        tagged ``_change_type`` ∈ {insert, delete, update_preimage,
        update_postimage}, ``_commit_version``, ``_commit_timestamp``.

        Commits that wrote explicit change files (DELETE/UPDATE/MERGE —
        Delta's ``_change_data`` mechanism) are served from those files,
        so a copy-on-write rewrite surfaces ONLY its changed rows with
        true update pre/post-images — never the rewritten file's
        carried-over rows. A change file sits under
        ``_change_data/_change_type=<type>/<partition dirs>/`` and holds
        the non-partition columns, so it is read with
        ``basePath=_change_data`` under the commit's ``fileSchema`` plus
        ``_change_type``; flat change files of older commits hold every
        column and read as they are. Plain appends/overwrites are
        reconstructed from add/remove actions (exactly how Delta serves
        CDF for commits without change files), and ``dataChange=false``
        commits (OPTIMIZE) are invisible. Output columns follow the
        schema at the range's end; older-generation rows are
        cast/null-filled. Needs the underlying files still on disk
        (pre-VACUUM)."""
        all_versions = _list_versions(self.root)
        hi = to_version if to_version is not None else (
            all_versions[-1] if all_versions else 0
        )
        versions = [v for v in all_versions if from_version <= v <= hi]

        # One driver-side walk tracking the effective schema AND each
        # live file's lite state ({schema generation, dv ref}) — the
        # remove-side of a reconstructed commit must serve the rows
        # that were LIVE at removal time (deletion-vectored rows were
        # already gone), and a re-adding commit (RESTORE) serves its
        # adds under their own DV.
        schema_at: dict[int, str] = {}
        live: dict[str, dict] = {}
        state_at: dict[int, tuple[list[dict], list[dict]]] = {}
        sj = ""
        seed_version = None
        if all_versions and all_versions[0] > 0:
            # cleanup_log pruned the log prefix: files added below the
            # latest checkpoint have no surviving add commit, so a
            # later remove would find nothing in `live` and its delete
            # rows would be silently dropped. Seed the walk from the
            # checkpoint state at the first surviving version (lite
            # entries incl. each file's schema generation + dv ref).
            seed_version = all_versions[0]
            seed_snap = self.snapshot(version=seed_version)
            live = _lite_map(seed_snap.files)
            sj = seed_snap.schema.json()
        # immutable copy of the seed state keyed by path: a remove that
        # misses `live` (the path was already popped by an earlier
        # surviving commit) still reconstructs from the ORIGINAL lite
        # entry — schema generation and DV ref intact — instead of
        # synthesizing one. Removes by the seed commit itself stay on
        # the synthesized fallback below: their pre-seed lite state is
        # unrecoverable (checkpoints store live entries only), pinned
        # as over-delivery in
        # test_change_feed_seed_commit_removal_over_delivers_dv_rows.
        seed_lites = dict(live)
        for v in all_versions:
            if v > hi:
                break
            c = _read_commit(self.root, v)
            if c.get("schema"):
                sj = c["schema"]
            schema_at[v] = sj
            fs = c.get("fileSchema") or sj
            removed_entries = []
            for rm in c.get("remove", []):
                if rm in live:
                    # the seed state already reflects the seed commit's
                    # own removes — don't double-serve them
                    if v != seed_version:
                        removed_entries.append(live[rm])
                else:
                    # add commit pruned AND absent from `live`: prefer
                    # the seed state's original lite entry (schema
                    # generation + DV ref) when the path was in the
                    # seed state at all; only a file the seed commit
                    # itself removed falls back to the effective
                    # schema — conservative (its checkpoint-era DV is
                    # unrecoverable, so its delete rows over-deliver),
                    # never a silent drop; vacuumed files raise in
                    # read_lites.
                    removed_entries.append(
                        seed_lites.get(rm)
                        or {"path": rm, "_schema_json": fs}
                    )
            for rm in c.get("remove", []):
                live.pop(rm, None)
            added_entries = []
            for ad in c.get("add", []):
                lite = {
                    "path": ad["path"],
                    "_schema_json": ad.get("_schema_json") or fs,
                }
                if ad.get("dv"):
                    lite["dv"] = ad["dv"]
                live[ad["path"]] = lite
                added_entries.append(lite)
            state_at[v] = (added_entries, removed_entries)
        final_schema = StructType.fromJson(json.loads(schema_at.get(hi, sj)))

        snap = self.snapshot()

        def read_lites(entries: list[dict]) -> DataFrame | None:
            for e in entries:
                if not os.path.exists(os.path.join(self.root, e["path"])):
                    raise VacuumedFileError(
                        f"change feed needs vacuumed file {e['path']}"
                    )
            if not entries:
                return None
            return self._read_entries(entries, final_schema,
                                      snap.partition_by)

        parts = []
        for v in versions:
            c = _read_commit(self.root, v)
            if c.get("dataChange") is False:
                continue  # OPTIMIZE etc: files moved, no rows changed
            stamp = (
                lambda df: df.withColumn(
                    "_commit_version", F.lit(v).cast("long")
                ).withColumn(
                    "_commit_timestamp",
                    F.lit(c["timestamp_ms"]).cast("long"),
                )
            )
            if c.get("cdc"):
                for rel in c["cdc"]:
                    if not os.path.exists(os.path.join(self.root, rel)):
                        raise VacuumedFileError(
                            f"change feed needs vacuumed change file {rel}"
                        )
                ct = StructField(_CHANGE_TYPE, StringType())
                paths = [os.path.join(self.root, rel) for rel in c["cdc"]]
                if c["cdc"][0].startswith(
                    os.path.join(_CDC_DIR, _CHANGE_TYPE + "=")
                ):
                    # hive layout: _change_type and the partition values
                    # come from the path, the rest from the file
                    file_schema = StructType.fromJson(json.loads(
                        c.get("fileSchema") or schema_at[v]
                    ))
                    raw = (
                        self.spark.read
                        .option("basePath", os.path.join(self.root, _CDC_DIR))
                        .schema(StructType(file_schema.fields + [ct]))
                        .parquet(*paths)
                    )
                else:  # flat files holding every column (older commits)
                    raw = self.spark.read.parquet(*paths)
                parts.append(stamp(_align(
                    raw, StructType(final_schema.fields + [ct])
                )))
                continue
            added_entries, removed_entries = state_at.get(v, ([], []))
            for kind, entries in (
                ("insert", added_entries),
                ("delete", removed_entries),
            ):
                df = read_lites(entries)
                if df is not None:
                    parts.append(
                        stamp(df.withColumn("_change_type", F.lit(kind)))
                    )
        if not parts:
            empty = self.spark.createDataFrame([], snap.schema)
            return (
                empty.withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(0).cast("long"))
                .withColumn("_commit_timestamp", F.lit(0).cast("long"))
                .limit(0)
            )
        return _union_all(parts)

    # -- copy-on-write DML -------------------------------------------------

    def _touched_files(self, cond,
                       predicates=None) -> tuple[dict, Snapshot]:
        """``{relative path: matching-row count}`` of live files
        containing >=1 row matching ``cond`` — ONE filtered aggregate
        over the snapshot, grouped by ``input_file_name`` (DV-deleted
        rows are already excluded by the snapshot read, so counts are
        of LIVE matches). ``predicates`` (the caller's log-prunable
        ``[(col, op, lit)]`` hints) shrink the probed FILE LIST via
        partition values + min/max stats before Spark opens anything —
        at scale this is what keeps a partition-scoped DELETE from
        scanning the whole table."""
        snap = self.snapshot()
        if not snap.files:
            return {}, snap
        _validate_predicates(predicates)
        files = _prune(snap, predicates)
        # _dv_rel (the scan's root-relative _metadata.file_path), not
        # input_file_name(): the latter is undefined on a multi-source
        # plan, which every DV-applying read is (scan ⟕ anti bundle)
        df = _filter_rows(
            self._read_entries(files, snap.schema, snap.partition_by,
                               with_position=True),
            predicates,
        )
        hits = (
            df.filter(cond)
            .groupBy("_dv_rel")
            .count()
            .collect()  # bounded: one row per touched file
        )
        return {r["_dv_rel"]: r["count"] for r in hits}, snap

    def _dv_split(self, snap: Snapshot,
                  counts: dict) -> tuple[list[str], list[str]]:
        """Partition the touched files into (dv_route, rewrite_route):
        a file takes the merge-on-read route when DVs are enabled and
        its TOTAL deleted fraction (existing DV cardinality + this
        commit's matches) stays at or under ``dv.maxDeletedFraction``;
        files without a row count always rewrite."""
        dv_on, dv_frac = _dv_params(snap.properties)
        dv_set, rw_set = [], []
        for p in sorted(counts):
            e = snap.files[p]
            nrec = e.get("numRecords")
            old = (e.get("dv") or {}).get("cardinality", 0)
            if dv_on and nrec and (old + counts[p]) / nrec <= dv_frac:
                dv_set.append(p)
            else:
                rw_set.append(p)
        return dv_set, rw_set

    def _stage_dv(self, dv_df: DataFrame, version: int,
                  dv_rels: list[str]) -> tuple[str, dict]:
        """Write one deletion-vector BUNDLE — a parquet directory of
        ``(file, row_index)`` under ``_deletion_vectors/`` holding, for
        every file on this commit's DV route, the UNION of its previous
        DV positions and the newly deleted ones (bundles are immutable;
        accumulation copies forward, exactly how Delta rewrites a
        file's DV). Returns ``(bundle rel path, {file: cardinality})``.

        Invariants the readers rely on: within one snapshot every
        dv-carrying entry references a bundle whose rows for that file
        are the COMPLETE deleted set, and any other referenced bundle's
        rows for the same file are a subset (accumulation) or reference
        rel paths no longer live (rewrite) — so applying the UNION of
        referenced bundles is exact."""
        token = uuid.uuid4().hex[:8]
        rel = os.path.join(_DV_DIR, f"dv-{version:010d}-{token}")
        stage = self.root + f"__dvstage_{token}"
        shutil.rmtree(stage, ignore_errors=True)
        dv_df.write.mode("overwrite").parquet(stage)
        counts = {
            r["file"]: r["n"]
            for r in self.spark.read.parquet(stage)
            .groupBy("file").agg(F.count(F.lit(1)).alias("n"))
            .collect()  # bounded: one row per dv'd file
        }
        missing = [p for p in dv_rels if p not in counts]
        if missing:
            raise RuntimeError(
                f"deletion-vector stage lost files {missing[:3]}..."
            )
        # bundle publication goes through the store's data-plane hook
        # (a bare os.rename would assume a rename-capable filesystem
        # even when the commit plane is object-store-backed)
        store_for(self.root).publish_dir(stage, os.path.join(self.root, rel))
        return rel, counts

    def _dv_adds(self, snap: Snapshot, dv_set: list[str], bundle: str,
                 counts: dict) -> list[dict]:
        """Re-add entries for the DV-route files: same data file, new
        DV reference (the file's bytes are untouched — its entry keeps
        its stats, bloom, and schema generation)."""
        out = []
        for p in dv_set:
            e = dict(snap.files[p])
            e["dv"] = {"path": bundle, "cardinality": int(counts[p])}
            out.append(e)
        return out

    def _build_dv_rows(self, matches_pos: DataFrame, snap: Snapshot,
                       dv_set: list[str]) -> DataFrame:
        """(file, row_index) rows for the new bundle: this commit's
        matches plus the carried-forward positions from the bundles the
        DV-route files currently reference."""
        new_rows = matches_pos.select(
            F.col("_dv_rel").alias("file"), F.col("_dv_pos").alias("row_index")
        )
        old_bundles = sorted({
            snap.files[p]["dv"]["path"]
            for p in dv_set
            if snap.files[p].get("dv")
        })
        if not old_bundles:
            return new_rows
        rels_df = self.spark.createDataFrame(
            [(p,) for p in dv_set], "file string"
        )
        old_rows = (
            self.spark.read.parquet(
                *[os.path.join(self.root, b) for b in old_bundles]
            )
            .join(F.broadcast(rels_df), "file", "left_semi")
            .select("file", "row_index")
        )
        # distinct: two referenced bundles can both carry (subset) rows
        # for one dv_set file — cardinality must count positions once
        return new_rows.unionByName(old_rows).dropDuplicates(
            ["file", "row_index"]
        )

    def _dv_route(self, snap: Snapshot, dv_set: list[str],
                  schema: StructType,
                  match) -> tuple[DataFrame, list[dict], str]:
        """Merge-on-read half of a DML commit: the rows of the DV-route
        files that ``match`` (positional frame → its matched rows)
        selects, checkpointed and projected onto ``schema``; their new
        deletion-vector bundle; and the files' re-add entries."""
        matched = match(self._read_entries(
            [snap.files[p] for p in dv_set], schema, snap.partition_by,
            with_position=True,
        )).localCheckpoint(eager=False)
        bundle, card = self._stage_dv(
            self._build_dv_rows(matched, snap, dv_set),
            snap.version + 1, dv_set,
        )
        return (
            matched.select(*[f.name for f in schema.fields]),
            self._dv_adds(snap, dv_set, bundle, card),
            bundle,
        )

    def _rewrite(self, touched: list[str], snap: Snapshot, rows: DataFrame,
                 operation: str, params: dict,
                 schema_json: str | None = None,
                 file_schema: StructType | None = None,
                 dv_adds: list[dict] | None = None,
                 dv_bundle: str | None = None) -> int:
        """Shared DML tail for DELETE/UPDATE/MERGE. ``rows`` is the
        commit's one frame: the table columns plus ``_change_type``,
        NULL for a row of the new data files (survivors of the rewritten
        files, updated and inserted rows) and the change type for a
        change row. It is staged in one write (:meth:`_stage_files`);
        the DV-route entries re-add with their new bundle; the commit
        publishes with disjoint-rewrite retry. A commit whose rows are
        all change rows (a pure merge-on-read DELETE) adds no data file.

        ``touched`` lists EVERY logically modified file (both routes):
        they all appear in ``remove`` so concurrent-writer conflict
        detection covers DV updates too; the DV-route paths re-add in
        the same commit, which replay and VACUUM's re-add tracking
        already understand (the RESTORE pattern).

        The write is sized to the commit
        (:func:`~.util.sized_to_batch`): ``rows`` reads only the touched
        files and, for a MERGE, the source's staged files, so a commit
        of a few KB stages one data file and one change file per change
        type in one task, not one file per shuffle partition."""
        adds, cdc = self._stage_files(sized_to_batch(rows),
                                      snap.version + 1, snap.partition_by,
                                      None, snap.properties, changes=True)
        adds = adds + (dv_adds or [])

        def action(v: int) -> dict:
            a = {
                "version": v,
                "timestamp_ms": int(time.time() * 1000),
                "operation": operation,
                "operationParameters": params,
                "fileSchema": (file_schema or snap.schema).json(),
                "add": adds,
                "remove": touched,
            }
            if cdc:
                a["cdc"] = cdc
            if dv_bundle:
                a["dvc"] = [dv_bundle]
            if schema_json is not None:
                a["schema"] = schema_json
            return a

        return self._commit(snap.version, action, removes=touched,
                            exclusive=(schema_json is not None))

    def _touched_df(self, snap: Snapshot, touched: list[str]) -> DataFrame:
        return self._read_entries(
            [snap.files[p] for p in touched], snap.schema, snap.partition_by
        )

    def delete(self, cond, predicates=None) -> int:
        """DELETE by predicate (D5; reference ``delta_setup.py:670-686``):
        rewrite only the files containing matching rows, keeping their
        non-matching rows; untouched files are not rewritten. Writes the
        deleted rows as explicit change files, so the feed shows only
        true deletes, not the survivors' rewrite. ``predicates`` —
        log-prunable ``[(col, op, lit)]`` hints implied by ``cond`` —
        skip files from the touched-file probe via partition values +
        stats (they must be IMPLIED by cond: a file they skip must hold
        no matching row).

        With ``dv.enabled`` (merge-on-read), files whose total deleted
        fraction stays under ``dv.maxDeletedFraction`` are NOT
        rewritten: the commit re-adds them with a deletion-vector
        bundle marking the deleted row positions, and readers drop
        those rows at scan — a 1-row delete in a 1 GB file writes a
        KB-scale bundle instead of re-copying the gigabyte (the cost
        center of copy-on-write at 100 TB). Change feed, time travel,
        RESTORE, and VACUUM contracts are unchanged."""
        counts, snap = self._touched_files(cond, predicates)
        touched = sorted(counts)
        if not touched:
            return snap.version
        dv_set, rw_set = self._dv_split(snap, counts)
        parts, dv_adds, bundle = [], None, None
        if rw_set:
            # A row survives unless cond is TRUE (Delta DELETE
            # semantics): a NULL-condition row stays a data row.
            parts.append(self._touched_df(snap, rw_set).select(
                "*", F.when(cond, F.lit("delete")).alias(_CHANGE_TYPE)
            ))
        if dv_set:
            deleted, dv_adds, bundle = self._dv_route(
                snap, dv_set, snap.schema, lambda df: df.filter(cond)
            )
            parts.append(deleted.withColumn(_CHANGE_TYPE, F.lit("delete")))
        return self._rewrite(
            touched, snap, _union_all(parts), "DELETE",
            {"predicate": str(cond)}, dv_adds=dv_adds, dv_bundle=bundle,
        )

    def update(self, cond, assignments: dict, predicates=None) -> int:
        """UPDATE by predicate (D5; reference ``delta_setup.py:688-702``).
        ``assignments`` maps column -> Column expression applied where
        ``cond`` holds. Change files carry the matched rows as
        ``update_preimage`` / ``update_postimage`` pairs — Delta's CDF
        row types for UPDATE. ``predicates`` — log-prunable hints
        implied by ``cond`` — skip files from the touched-file probe
        (see :meth:`delete`).

        Merge-on-read (``dv.enabled``): for files under the DV
        threshold, the matched rows' positions go into a deletion
        vector and their UPDATED images append as new files — the
        unmatched rows of those files are never rewritten."""
        counts, snap = self._touched_files(cond, predicates)
        touched = sorted(counts)
        if not touched:
            return snap.version
        dv_set, rw_set = self._dv_split(snap, counts)
        images = F.array(F.lit("update_preimage"), F.lit("update_postimage"),
                         F.lit(None).cast("string"))

        def rows(df: DataFrame, kinds) -> DataFrame:
            # A matched row leaves as its preimage, its postimage and its
            # updated data row; the assignments skip the preimage.
            out = df.select("*", F.explode(kinds).alias(_CHANGE_TYPE))
            pre = F.col(_CHANGE_TYPE).eqNullSafe("update_preimage")
            for col, expr in assignments.items():
                out = out.withColumn(
                    col, F.when(~pre & cond, expr).otherwise(F.col(col))
                )
            return out

        parts, dv_adds, bundle = [], None, None
        if rw_set:
            parts.append(rows(
                self._touched_df(snap, rw_set),
                F.when(cond, images).otherwise(
                    F.array(F.lit(None).cast("string"))
                ),
            ))
        if dv_set:
            matched, dv_adds, bundle = self._dv_route(
                snap, dv_set, snap.schema, lambda df: df.filter(cond)
            )
            parts.append(rows(matched, images))
        return self._rewrite(
            touched, snap, _union_all(parts), "UPDATE",
            {"predicate": str(cond)}, dv_adds=dv_adds, dv_bundle=bundle,
        )

    def merge(self, source: DataFrame, keys: list[str],
              params: dict | None = None,
              merge_schema: bool = False,
              max_broadcast_keys: int = 500_000) -> int:
        """MERGE upsert (D6/J7; reference ``delta_setup.py:636-668``):
        whenMatchedUpdateAll + whenNotMatchedInsertAll on ``keys``.
        Only files holding matched keys are rewritten; unmatched source
        rows land as new files. The row-level semantics are the repo's
        tested :func:`..operators.merge.merge_upsert`, applied here at
        file granularity.

        The source, deduplicated by key and aligned to the table schema,
        is evaluated once: the first job stages it as data files in the
        table root (:meth:`_stage_files`) and every later step reads
        those files. Their footers' ``numRecords`` sum to the source's key
        count, exactly, since the source holds one row per key; that
        count is the size gate. A source with no rows, or a table with
        no live files, commits the staged files as a pure append
        (:meth:`_append_files`), which runs no further job unless the
        table has ``bloom.columns`` or Catalyst could not size the
        source. At or below ``max_broadcast_keys`` keys — the
        bounded-CDC-batch fast path — the key set is read on the driver
        from the staged files' key columns (:func:`_staged_key_set`), or
        by one Spark query over them when a key is a partition column:

        * the touched-file probe reads only the files that can hold a
          key: each integral or binary-collated string key column with
          no NULL among the batch's keys hands its ``[min, max]`` to
          :func:`_prune` (see :func:`_key_range_predicates`). When no
          file survives, the staged files commit as a pure append;
        * the probe returns the matched ``(file, key)`` pairs, so the
          touched files and the matched keys come from one job, and
          every later split tests the matched keys alone;
        * a key set of at most ``_LITERAL_KEYS_MAX`` keys is tested as a
          literal predicate in the query (:func:`_literal_membership`),
          a larger one by a broadcast join. No job broadcasts a small
          key set.

        Above the gate the splits join against the staged source's keys
        (shuffle hash/sort-merge) and the probe reads every live file,
        so an unbounded source can never OOM the driver or executors
        with a forced broadcast.

        A commit that rewrites files leaves in one write
        (:meth:`_rewrite`): each row of the staged source is exploded
        into its data row and its change row (``update_postimage`` when
        its key matched, ``insert`` when not), and each row of a
        rewritten file is a surviving data row or, when its key matched,
        an ``update_preimage`` change row. The staged files do not join
        that commit, so it adds one data file per write task, as a
        DELETE or UPDATE does; they are deleted once the rewrite has
        returned or raised. A failure before a pure append's commit
        deletes them too; once that commit may have published, they
        stay.

        A source that changes nothing — no rows and no schema change —
        commits no version and returns the current one, as
        :meth:`delete`/:meth:`update` do when nothing matches.

        ``merge_schema=True`` lets the source carry new columns
        (appended nullable) or widened types, evolving the table schema
        in the same commit — the reference's ``schema.autoMerge``
        behavior for streaming MERGE. A source may also LACK existing
        table columns: matched rows then keep the target's values for
        those columns (Delta's ``updateAll`` + ``schema.autoMerge``
        semantics — the aligned source's null-fill applies only to
        inserted rows, never overwrites a matched row's data).

        The staging write, the probe's scan and the rewrite are sized to
        the batch (:func:`~.util.sized_to_batch`): each runs in
        ``ceil(estimate / spark.sql.adaptive.advisoryPartitionSizeInBytes)``
        partitions, never more than it had, from Catalyst's estimate, so
        no job runs to get it. For the staging write the coalesce sits
        above the key dedup's aggregate, which has its input clustered
        by the keys, so it pulls only the work after the last exchange
        into the sized tasks; the probe and the rewrite read files. A
        micro-batch of a few KB then stages one source file, probes in
        one task with no exchange, and rewrites one data file and one
        change file per change type. A source Catalyst cannot size
        stages one file per non-empty shuffle partition of the dedup; a
        pure append writes those files again, sized by their bytes
        (:meth:`_append_files`), and a rewrite reads them.
        """
        src_cols = set(source.columns)
        src = _drop_duplicate_keys(source, keys)
        snap = self.snapshot()
        schema_json: str | None = None
        target_schema = snap.schema
        if merge_schema:
            _reject_reserved(src.schema)
            merged = _merge_schemas(snap.schema, src.schema)
            if merged != snap.schema:
                schema_json = merged.json()
                target_schema = merged
        else:
            _require_compatible(snap.schema, src.schema)
        src = _align(src, target_schema)
        self._last_merge_used_broadcast = None
        unsized = catalyst_bytes(src) is None
        # no bloom bitmaps yet: only a pure append commits these files
        staged, _ = self._stage_files(sized_to_batch(src), snap.version + 1,
                                      snap.partition_by, None)
        kept = False  # the staged files joined a commit that may publish

        def append() -> int:
            nonlocal kept
            adds = self._append_files(staged, snap, target_schema, unsized)
            kept = True
            return self._commit_append(adds, snap, params, schema_json,
                                       target_schema)

        try:
            n_keys = sum(a["numRecords"] for a in staged)
            if not n_keys or not snap.files:
                return append()
            return self._merge_into_files(
                staged, snap, keys, src_cols, params, schema_json,
                target_schema, n_keys <= max_broadcast_keys, append,
            )
        finally:
            if not kept:  # read by the rewrite, or left by a failure
                for a in staged:
                    pathlib.Path(self.root, a["path"]).unlink(missing_ok=True)

    def _merge_into_files(self, staged: list[dict], snap: Snapshot,
                          keys: list[str], src_cols: set,
                          params: dict | None, schema_json: str | None,
                          target_schema: StructType, bounded: bool,
                          append) -> int:
        """The body of :meth:`merge` for a target with live files and a
        source with rows, staged as ``staged``; ``append()`` commits
        those files as a pure append."""
        self._last_merge_used_broadcast = bounded
        key_schema = StructType([target_schema[k] for k in keys])
        src = self._read_entries(staged, target_schema, snap.partition_by)
        if bounded:
            if set(keys) & set(snap.partition_by):
                key_set = src.select(*keys).toArrow()
            else:
                key_set = _staged_key_set(self.root, staged, key_schema)
            preds = _key_range_predicates(key_set, key_schema)
            entries = _prune(snap, preds) if preds else list(
                snap.files.values()
            )
            if not entries:
                return append()
            members = _key_members(self.spark, key_set, key_schema)
        else:
            members = src.select(*keys)
            entries = list(snap.files.values())

        # Probe with the positional read (_dv_rel = the scan's
        # root-relative _metadata.file_path, captured at scan level):
        # input_file_name() is undefined both above shuffles and on the
        # multi-source plans every DV-applying read produces.
        probe = _mark(
            sized_to_batch(self._read_entries(
                entries, target_schema, snap.partition_by, with_position=True,
            )),
            keys, members,
        ).where(F.col(_MEMBER))
        counts: dict[str, int] = {}
        if bounded:
            # count aliased to the reserved _dv_pos: no key can be named so
            hits = (
                probe.groupBy("_dv_rel", *keys)
                .agg(F.count(F.lit(1)).alias("_dv_pos"))
                .toArrow()
            )
            for rel, n in zip(hits.column("_dv_rel").to_pylist(),
                              hits.column("_dv_pos").to_pylist()):
                counts[rel] = counts.get(rel, 0) + n
            # A touched file's row has a source key exactly when its key
            # was matched, so every later split needs the matched keys
            # alone (distinct: a key can sit in several files; the
            # grouping already normalized NaN and -0.0).
            members = _key_members(
                self.spark, hits.group_by(keys).aggregate([]), key_schema
            )
        else:
            for r in probe.groupBy("_dv_rel").count().collect():
                counts[r["_dv_rel"]] = r["count"]
        touched = sorted(counts)
        if not touched:
            return append()

        # Merge-on-read split (see delete()): files under the DV
        # threshold get their MATCHED rows deletion-vectored and the
        # updated images appended as new files — their unmatched rows
        # are never rewritten, which is the whole cost story for the
        # reference's frequent-MERGE pipelines at 100 TB.
        dv_set, rw_set = self._dv_split(snap, counts)
        fields = [f.name for f in target_schema.fields]
        parts, pre, dv_adds, bundle = [], [], None, None
        if dv_set:
            matched, dv_adds, bundle = self._dv_route(
                snap, dv_set, target_schema,
                lambda df: _mark(df, keys, members).where(F.col(_MEMBER)),
            )
            pre.append(matched)
            parts.append(
                matched.withColumn(_CHANGE_TYPE, F.lit("update_preimage"))
            )
        if rw_set:
            # Every target row with a matched key is by construction in
            # a touched file, so only the touched files are read. A
            # matched row leaves as its preimage alone: its new image
            # comes from the source.
            tdf = _mark(
                self._read_entries([snap.files[p] for p in rw_set],
                                   target_schema, snap.partition_by),
                keys, members,
            )
            parts.append(tdf.select(*fields, F.when(
                F.col(_MEMBER), F.lit("update_preimage")
            ).alias(_CHANGE_TYPE)))
            pre.append(tdf.where(F.col(_MEMBER)).select(*fields))
        if not bounded:
            # the source splits on the keys the target holds
            members = _union_all(pre).select(*keys).distinct() \
                .localCheckpoint(eager=False)
        src = _mark(src, keys, members)
        # Columns the ORIGINAL source doesn't carry must keep the
        # TARGET's values on matched rows (Delta updateAll +
        # schema.autoMerge leaves them unchanged) — _align's null-fill
        # is correct only for inserted rows. Carry them from the
        # matched target rows, one row per key (ties under duplicate
        # target keys follow the engine's documented keep-one merge
        # semantics).
        missing = [c for c in fields if c not in src_cols]
        if missing:
            # Aliased keys + null-safe condition: a matched NULL-key
            # row must still pick up its carried columns (a plain
            # on=keys inner join would drop the row entirely).
            carried = _union_all(pre).select(
                *[F.col(k).alias(f"_ck_{k}") for k in keys], *missing
            ).dropDuplicates([f"_ck_{k}" for k in keys])
            ccond = None
            for k in keys:
                c = F.col(k).eqNullSafe(F.col(f"_ck_{k}"))
                ccond = c if ccond is None else ccond & c
            updates = (
                src.where(F.col(_MEMBER)).drop(*missing)
                .join(F.broadcast(carried) if bounded else carried, ccond)
                .select(*fields, _MEMBER)
            )
            src = updates.unionByName(
                src.where(~F.col(_MEMBER)).select(*fields, _MEMBER)
            )
        # One scan of the staged source yields each row's data row (NULL
        # type) and its change row.
        kind = F.when(F.col(_MEMBER), F.lit("update_postimage")) \
            .otherwise(F.lit("insert"))
        parts.append(src.select(*fields, F.explode(
            F.array(F.lit(None).cast("string"), kind)
        ).alias(_CHANGE_TYPE)))
        return self._rewrite(
            touched, snap, _union_all(parts), "MERGE",
            {"keys": keys, **(params or {})},
            schema_json=schema_json, file_schema=target_schema,
            dv_adds=dv_adds, dv_bundle=bundle,
        )

    def _append_files(self, adds: list[dict], snap: Snapshot,
                      target_schema: StructType, unsized: bool
                      ) -> list[dict]:
        """The data files a MERGE's pure append commits: the source's
        staged files ``adds``, with their bloom bitmaps on a
        ``bloom.columns`` table (one aggregate over them). A source
        Catalyst could not size (``unsized``: an RDD of Python rows, a
        Kafka micro-batch) staged one file per non-empty shuffle
        partition of its key dedup; when a partition directory holds
        more of them than ``ceil(bytes / advisory)``, they are written
        again in that many partitions (one job, which also collects the
        bitmaps) and deleted."""
        if not adds:
            return adds
        n = -(-sum(os.path.getsize(os.path.join(self.root, a["path"]))
                   for a in adds) // _advisory_bytes(self.spark))
        per_dir: dict[str, int] = {}
        for a in adds:
            d = os.path.dirname(a["path"])
            per_dir[d] = per_dir.get(d, 0) + 1
        if unsized and max(per_dir.values()) > max(1, n):
            files = self._read_entries(adds, target_schema, snap.partition_by)
            out, _ = self._stage_files(files.coalesce(max(1, n)),
                                       snap.version + 1, snap.partition_by,
                                       None, snap.properties)
            for a in adds:
                os.remove(os.path.join(self.root, a["path"]))
            return out
        stats = self._collect_stats(self.root, [a["path"] for a in adds],
                                    target_schema, [], snap.properties,
                                    snap.partition_by)
        for a in adds:
            if "bloom" in stats[a["path"]]:
                a["bloom"] = stats[a["path"]]["bloom"]
        return adds

    def _commit_append(self, adds: list[dict], snap: Snapshot,
                       params: dict | None, schema_json: str | None,
                       target_schema: StructType) -> int:
        """MERGE with no matched key: commit the source's staged files
        ``adds`` as a pure append (plus the schema evolution, if any),
        no file rewritten. Nothing to add and no schema change commits
        nothing: the current version is returned."""
        if not adds and schema_json is None:
            return snap.version

        def action(v: int) -> dict:
            a = {
                "version": v,
                "timestamp_ms": int(time.time() * 1000),
                "operation": "MERGE",
                "operationParameters": {"mode": "append", **(params or {})},
                "fileSchema": target_schema.json(),
                "add": adds,
                "remove": [],
            }
            if schema_json is not None:
                a["schema"] = schema_json
            return a

        return self._commit(snap.version, action, removes=[],
                            exclusive=(schema_json is not None))

    # -- maintenance -------------------------------------------------------

    def optimize(self, zorder_cols: list[str] | None = None,
                 target_files: int | None = None,
                 stats_cols: list[str] | None = None,
                 predicates=None) -> int:
        """OPTIMIZE as a versioned commit (D1/D2 on the log): rewrite
        the live snapshot into ``target_files`` files — optionally
        Morton-clustered on ``zorder_cols`` (:func:`_zvalue`: every
        listed column gets min/max locality, not just the leading one)
        — and commit add/remove with ``dataChange=false``, so
        pre-compaction versions stay time-travelable and the change
        feed correctly sees NO row changes (Delta marks compaction
        commits the same way).

        ``predicates`` scopes the rewrite to the files the log proves
        CAN match (partition values / stats / bloom — the same pruning
        as ``read``), Delta's ``OPTIMIZE ... WHERE``: at 100 TB you
        compact the partitions a backfill just fragmented, never the
        whole table. Untouched files stay committed as-is; pruning is
        file-conservative, so a kept file's non-matching rows are
        simply rewritten along (row content never changes)."""
        snap = self.snapshot()
        scope = _prune(snap, predicates) if predicates else list(
            snap.files.values()
        )
        if not scope:
            return snap.version
        df = self._read_entries(scope, snap.schema, snap.partition_by)
        n = target_files or max(
            1, self.spark.sparkContext.defaultParallelism // 4
        )
        if zorder_cols:
            zcol = "_z__morton_tmp"
            while zcol in df.columns:
                zcol += "_"
            df = (
                df.withColumn(zcol, _zvalue(df, zorder_cols))
                .repartitionByRange(n, F.col(zcol))
                .sortWithinPartitions(zcol)
                .drop(zcol)
            )
        else:
            df = df.coalesce(n)
        adds, _ = self._stage_files(
            df, snap.version + 1, snap.partition_by,
            stats_cols or zorder_cols, snap.properties,
        )
        removes = sorted(f_["path"] for f_ in scope)

        def action(v: int) -> dict:
            return {
                "version": v,
                "timestamp_ms": int(time.time() * 1000),
                "operation": "OPTIMIZE",
                "operationParameters": {
                    "zorder_cols": zorder_cols or [], "target_files": n,
                },
                "dataChange": False,
                "fileSchema": snap.schema_json,
                "add": adds,
                "remove": removes,
            }

        return self._commit(snap.version, action, removes=removes)

    def purge_deletion_vectors(self, target_files: int | None = None) -> int:
        """Rewrite ONLY the files carrying deletion vectors, compacting
        their holes away (Delta's ``REORG TABLE ... APPLY (PURGE)``).
        The rewrite reads through the DVs (so row content is the live
        set), commits with ``dataChange=false`` (no logical change),
        and the dropped bundles become VACUUM-collectable once past
        retention. Returns the current version when nothing carries a
        DV."""
        snap = self.snapshot()
        files = snap.files
        if isinstance(files, FileManifest):
            import numpy as np

            scope = []
            if "dv" in files.table.column_names:
                col = files.table.column("dv").to_pylist()
                mask = files._base_live_mask()
                for i in np.flatnonzero(mask):
                    if col[i] and col[i] != "{}":
                        scope.append(files._entry(i))
            scope += [e for e in files.extra.values() if e.get("dv")]
        else:
            scope = [e for e in files.values() if e.get("dv")]
        if not scope:
            return snap.version
        df = self._read_entries(scope, snap.schema, snap.partition_by)
        n = target_files or max(1, len(scope))
        adds, _ = self._stage_files(df.coalesce(n), snap.version + 1,
                                    snap.partition_by, None, snap.properties)
        removes = sorted(e["path"] for e in scope)

        def action(v: int) -> dict:
            return {
                "version": v,
                "timestamp_ms": int(time.time() * 1000),
                "operation": "PURGE DV",
                "operationParameters": {"numFiles": len(scope)},
                "dataChange": False,
                "fileSchema": snap.schema_json,
                "add": adds,
                "remove": removes,
            }

        return self._commit(snap.version, action, removes=removes)

    # -- detail / metrics --------------------------------------------------

    def detail(self) -> dict:
        """Table detail + health metrics (D8; reference
        ``delta_setup.py:598-634``): file/row/byte counts, partition
        columns, properties, latest commit info — same fields the
        reference's ``get_table_details``/``check_table_health`` read."""
        snap = self.snapshot()
        latest = _read_commit(self.root, snap.version)
        size = sum(
            os.path.getsize(os.path.join(self.root, p))
            for p in snap.files
            if os.path.exists(os.path.join(self.root, p))
        )
        if isinstance(snap.files, FileManifest):
            physical = snap.files.total_records()
            dv_card = snap.files.total_dv_cardinality()
        else:
            physical = sum(
                f_.get("numRecords", 0) or 0 for f_ in snap.files.values()
            )
            dv_card = sum(
                (f_.get("dv") or {}).get("cardinality", 0)
                for f_ in snap.files.values()
            )
        # logical rows: physical minus deletion-vectored
        num_records = (physical - dv_card) if physical else None
        return {
            "location": self.root,
            "numFiles": len(snap.files),
            "sizeInBytes": size,
            "numRecords": num_records,
            "numDeletedRecords": dv_card,
            "partitionColumns": snap.partition_by,
            "properties": snap.properties,
            "latest_version": snap.version,
            "latest_operation": latest["operation"],
            "latest_timestamp": latest["timestamp_ms"],
        }
