"""Streaming source over the native transaction log — Delta
streaming-source parity (S3; the reference reads
``spark.readStream.format("delta")`` in its silver/gold hops) via
Spark 4's Python Data Source API::

    spark.dataSource.register(TxTableDataSource)
    df = (spark.readStream.format("txtable")
          .option("path", "/data/events_tx").load())

Semantics (matching Delta's streaming source for append-style tables):

* Offsets are LOG VERSIONS: offset ``{"version": N, "bytes": B,
  "bytesFrom": F}`` means "commits ``<= N`` have been emitted". Each
  micro-batch emits exactly the rows of files ADDED by commits in
  ``(start, end]`` — incremental tailing of the table, not a directory
  listing. Planning reads ``version`` only, so an offset without the
  other two fields (a checkpoint written before they existed) still
  plans.
* ``bytes`` is a running total of the estimated bytes that the
  data-changing commits from version ``F`` to ``N`` added: each add
  action's ``numRecords`` times the pinned schema's row width
  (Catalyst's rule, 8 bytes plus each field's default size). So
  ``end − start`` of a micro-batch whose two offsets share ``F`` is
  its size, known before the batch runs: the streaming MERGE sink
  sizes the batch by it (:func:`offset_log_bytes`), because a Python
  data source gives Catalyst no statistics. ``F`` is the first commit
  the log still holds (never below ``startingVersion``); log
  retention (``cleanup_log``) moves it, and a batch whose offsets
  differ on it is left unsized. The walk reads commit JSON only: no
  Spark job, no stat of a data file. An add without ``numRecords``
  leaves the offset without ``bytes`` and ``bytesFrom``. The estimate
  errs large (a string counts 20 bytes), the safe side for sizing.
* ``dataChange=false`` commits (OPTIMIZE) are skipped entirely: their
  adds are rewrites of already-emitted rows.
* A data-changing commit that REMOVES files (overwrite / DELETE /
  UPDATE / MERGE rewrite) makes the stream raise, because an
  append-only reader cannot represent row removal — exactly Delta's
  error contract. ``.option("ignoreChanges", "true")`` downgrades this
  to Delta's documented behavior: the commit's added files ARE
  emitted, so updated rows are re-delivered (consumers must be
  idempotent / keyed).
* ``.option("startingVersion", N)`` starts tailing FROM commit N
  inclusive — Delta's documented contract — (default 0 = emit the
  whole table history, including a bootstrap-adopted commit 0).

Scale shape: ``partitions(start, end)`` is driver-side log metadata
only (one ``InputPartition`` per added file); the actual parquet
reading happens in executor Python workers as Arrow record batches —
no row ever passes through the driver. Schema is pinned at stream
start (the snapshot schema); older-generation files are served
null-filled for appended columns, like the batch reader.
"""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    CalendarIntervalType,
    CharType,
    DataType,
    DateType,
    DayTimeIntervalType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    NullType,
    ShortType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
    UserDefinedType,
    VarcharType,
    VariantType,
    YearMonthIntervalType,
)

from ..operators.txlog import (
    _WIDENS_TO,
    VacuumedFileError,
    _list_versions,
    _read_commit,
    _resolve,
)

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

#: Catalyst's ``DataType.defaultSize`` of the types whose size does not
#: depend on a parameter
_DEFAULT_SIZE = {
    NullType: 1, BooleanType: 1, ByteType: 1, ShortType: 2,
    IntegerType: 4, LongType: 8, FloatType: 4, DoubleType: 8,
    DateType: 4, TimestampType: 8, TimestampNTZType: 8, StringType: 20,
    BinaryType: 100, CalendarIntervalType: 16, DayTimeIntervalType: 8,
    YearMonthIntervalType: 4, VariantType: 2048,
}


def _default_size(t: DataType) -> int | None:
    """Catalyst's ``defaultSize`` of ``t`` (one element per array or
    map), or None for a type this table does not know."""
    if isinstance(t, (CharType, VarcharType)):
        return t.length
    if isinstance(t, DecimalType):
        return 8 if t.precision <= 18 else 16
    if isinstance(t, UserDefinedType):
        return _default_size(t.sqlType())
    if isinstance(t, ArrayType):
        parts = [t.elementType]
    elif isinstance(t, MapType):
        parts = [t.keyType, t.valueType]
    elif isinstance(t, StructType):
        parts = [f.dataType for f in t.fields]
    else:
        return _DEFAULT_SIZE.get(type(t))
    sizes = [_default_size(p) for p in parts]
    return None if None in sizes else sum(sizes)


def row_width(schema: StructType) -> int | None:
    """Estimated bytes of one row of ``schema``: Catalyst's
    ``EstimationUtils.getSizePerRow`` without column statistics (8
    bytes of row overhead plus each field's default size)."""
    size = _default_size(schema)
    return None if size is None else 8 + size


def _size_fields(entry: str) -> list[tuple[int, int] | None]:
    """Per source line of an offset-log entry, its ``(bytes,
    bytesFrom)``, or None for a line without them: a file source's
    ``{"logOffset": N}``, Kafka's partition map, an offset written
    before the fields existed, or ``-`` for a source with no offset."""
    out = []
    for line in entry.splitlines()[2:]:  # after "v1" and the metadata
        try:
            o = json.loads(line)
        except ValueError:
            o = None
        fields = (o.get("bytes"), o.get("bytesFrom")) \
            if isinstance(o, dict) else ()
        out.append(fields if fields and all(type(x) is int for x in fields)
                   else None)
    return out


def offset_range_bytes(start: str | None, end: str) -> int | None:
    """Estimated bytes of one micro-batch, from two entries of its
    query's offset log (the text of ``<checkpoint>/offsets/<id>``):
    ``start`` is the previous batch's entry, None for batch 0, which
    starts at the initial offset's 0, and ``end`` is the batch's own.
    The result is the sum over source lines of ``end.bytes -
    start.bytes``. It is None, so the batch stays unsized, unless every
    source line of both entries carries ``bytes`` and ``bytesFrom`` and
    each pair agrees on ``bytesFrom``: after log retention moved it,
    the difference would mean nothing, and an under-estimate would put
    a large batch in one task."""
    ends = _size_fields(end)
    starts = ([f and (0, f[1]) for f in ends] if start is None
              else _size_fields(start))
    if not ends or len(starts) != len(ends) or None in ends + starts:
        return None
    total = 0
    for (b0, f0), (b1, f1) in zip(starts, ends):
        if f0 != f1 or b1 < b0:
            return None
        total += b1 - b0
    return total


def offset_log_bytes(checkpoint_path: str, batch_id: int) -> int | None:
    """:func:`offset_range_bytes` of micro-batch ``batch_id``, read from
    the query's offset log under ``checkpoint_path`` on the driver.
    Structured Streaming writes a batch's entry before it runs the
    batch, so the entry is there when ``foreachBatch`` runs, and a
    replay reads the same entries. None when an entry cannot be read
    (a checkpoint off the local file system)."""
    path = checkpoint_path
    if path.startswith("file:"):
        path = "/" + path[len("file:"):].lstrip("/")
    elif "://" in path:
        return None

    def entry(i: int) -> str:
        with open(os.path.join(path, "offsets", str(i))) as f:
            return f.read()

    try:
        return offset_range_bytes(
            entry(batch_id - 1) if batch_id > 0 else None, entry(batch_id))
    except OSError:
        return None


class SchemaChangedError(RuntimeError):
    """The table's schema evolved past the stream's pinned schema
    mid-stream; restart the query to pick up the new schema (Delta's
    contract for streaming reads across schema changes)."""


class _AddedFile(InputPartition):
    """One added data file of one commit: everything an executor needs
    to serve its rows without any driver or Spark-session state."""

    def __init__(self, abs_path: str, partition_values: dict,
                 gen_schema_json: str):
        self.abs_path = abs_path
        self.partition_values = partition_values
        self.gen_schema_json = gen_schema_json


def _coerce_partition_value(raw: str, simple_type: str):
    """Hive-style partition dir value → typed Python value.

    Values are stored percent-escaped by the writer (a string
    partition value ``"a b"`` lands as ``col=a%20b``), so unescape
    FIRST. Types outside the supported set fail here with a clear
    driver-side error instead of an executor-side ArrowInvalid when
    the batch is materialized."""
    if raw is None or raw == _HIVE_NULL:
        return None
    from urllib.parse import unquote

    raw = unquote(raw)
    if simple_type in ("tinyint", "smallint", "int", "bigint"):
        return int(raw)
    if simple_type in ("float", "double"):
        return float(raw)
    if simple_type == "date":
        return dt.date.fromisoformat(raw)
    if simple_type == "boolean":
        return raw.lower() == "true"
    if simple_type == "string":
        return raw
    raise NotImplementedError(
        f"txtable stream: unsupported partition column type "
        f"{simple_type!r} (supported: int/float/date/boolean/string); "
        f"partition the table on a supported type or read it in batch"
    )


class TxTableStreamReader(DataSourceStreamReader):
    def __init__(self, path: str, schema: StructType, options: dict):
        self.path = path.rstrip("/")
        self.schema = schema
        # Spark hands options through a case-insensitive map that
        # LOWERCASES keys — look them up lowercased.
        opts = {k.lower(): v for k, v in options.items()}
        self.starting_version = int(opts.get("startingversion", 0))
        self.ignore_changes = (
            str(opts.get("ignorechanges", "false")).lower() == "true"
        )
        self.row_width = row_width(schema)

    # -- offsets -----------------------------------------------------------

    def initialOffset(self) -> dict:
        # Offsets are EXCLUSIVE lower bounds (partitions() takes
        # lo < v <= hi), so the initial offset sits one BELOW the first
        # version to emit — {starting_version} itself would silently
        # skip that commit. With the default startingVersion=0 the
        # offset is -1 and commit 0's adds are delivered, which is what
        # makes bootstrap-adopted tables (ALL pre-existing files land
        # in commit 0) streamable at all.
        offset = {"version": self.starting_version - 1}
        if self.row_width is not None:
            offset.update(bytes=0, bytesFrom=self.starting_version)
        return offset

    def latestOffset(self) -> dict:
        # Clamped at the initial offset: with startingVersion above the
        # table's current max, reporting the (smaller) max would be an
        # offset REGRESSION vs the committed/initial offset, which
        # Structured Streaming may reject on restart. The clamp makes
        # that case plan clean empty ranges until the table catches up.
        versions = _list_versions(self.path)
        latest = versions[-1] if versions else self.starting_version - 1
        hi = max(latest, self.starting_version - 1)
        return {"version": hi, **self._added_bytes(versions, hi)}

    def _added_bytes(self, versions: list[int], hi: int) -> dict:
        """``{"bytes", "bytesFrom"}`` of an offset at version ``hi``
        (module docstring), or ``{}`` when a commit's size is unknown."""
        if self.row_width is None:
            return {}
        base = max(versions[0] if versions else 0, self.starting_version)
        total = 0
        for v in versions:
            if not (base <= v <= hi):
                continue
            c = _read_commit(self.path, v)
            if c.get("dataChange") is False:
                continue  # OPTIMIZE: partitions() emits nothing
            for ad in c.get("add", []):
                if ad.get("numRecords") is None:
                    return {}
                total += ad["numRecords"] * self.row_width
        return {"bytes": total, "bytesFrom": base}

    # -- planning (driver-side, metadata only) -----------------------------

    def _unservable(self, gen_json: str) -> str | None:
        """Why a file generation CANNOT be served under the stream's
        pinned schema, or None if it can.

        Servable = every generation column exists in the pinned schema
        with the same type or one the pinned type safely widens (the
        old-generations-under-a-newer-schema case — null-fill/upcast,
        exactly like the batch reader). NOT servable = the table
        evolved PAST the pinned schema mid-stream: a new column, or a
        type widened beyond the pinned one. Serving those batches would
        silently drop (or corrupt) the evolved column's data — Delta's
        contract is to fail the stream and let a restart re-pin."""
        if not gen_json:
            return None
        gen = StructType.fromJson(json.loads(gen_json))
        pinned = {f.name: f.dataType.simpleString() for f in self.schema.fields}
        for f in gen.fields:
            if f.name not in pinned:
                return f"new column {f.name!r}"
            gt, pt = f.dataType.simpleString(), pinned[f.name]
            if gt != pt and pt not in _WIDENS_TO.get(gt, set()):
                return f"column {f.name!r} evolved to {gt} (pinned: {pt})"
        return None

    def partitions(self, start: dict, end: dict):
        out = []
        lo, hi = int(start["version"]), int(end["version"])
        versions = _list_versions(self.path)
        # EVERY commit the range (lo, hi] expects must still exist:
        # log-retention cleanup (TxTable.cleanup_log) may have removed
        # commits this stream has not consumed — at the head of the log
        # or (if an out-of-band deletion left one) an interior gap.
        # Silently iterating the survivors would JUMP THE GAP and lose
        # rows without notice — fail with the remedy instead (Delta's
        # contract for streams lagging past log retention).
        if hi > lo:
            have = {v for v in versions if lo < v <= hi}
            missing = sorted(set(range(lo + 1, hi + 1)) - have)
            if missing:
                resume = max(missing) + 1
                raise RuntimeError(
                    f"txtable stream at {self.path}: "
                    f"{len(missing)} commit(s) in "
                    f"{missing[0]}..{missing[-1]} were removed (log "
                    f"retention cleanup) before this stream consumed "
                    f"them; backfill in batch and restart with "
                    f".option('startingVersion', {resume}) or later"
                )
        for v in versions:
            if not (lo < v <= hi):
                continue
            c = _read_commit(self.path, v)
            if c.get("dataChange") is False:
                continue  # OPTIMIZE: files moved, no rows changed
            why = self._unservable(c.get("fileSchema") or "")
            if why:
                raise SchemaChangedError(
                    f"txtable stream at {self.path}: commit {v} evolved "
                    f"the table schema mid-stream ({why}); restart the "
                    f"query to pick up the new schema — the checkpoint "
                    f"resumes from this commit"
                )
            if c.get("remove") and not self.ignore_changes:
                raise RuntimeError(
                    f"txtable stream at {self.path}: commit {v} "
                    f"({c.get('operation')}) removed data files; an "
                    f"append-only stream cannot represent removals. Set "
                    f".option('ignoreChanges','true') to re-deliver "
                    f"rewritten rows instead (consumers must be keyed)."
                )
            gen = c.get("fileSchema") or ""
            for ad in c.get("add", []):
                abs_path = os.path.join(self.path, ad["path"])
                if not os.path.exists(abs_path):
                    # a lagging stream can reference a commit whose
                    # files were since rewritten AND vacuumed — fail
                    # with the documented error (same contract as the
                    # batch reader) instead of emitting silent empties
                    # or an executor-side FileNotFoundError
                    raise VacuumedFileError(
                        f"txtable stream at {self.path}: data file "
                        f"{ad['path']} of commit {v} was removed by "
                        f"VACUUM before the stream consumed it; restart "
                        f"from a live version (startingVersion) or "
                        f"lengthen the vacuum retention"
                    )
                out.append(_AddedFile(
                    abs_path,
                    ad.get("partitionValues") or {},
                    ad.get("_schema_json") or gen,
                ))
        return out

    # -- execution (executor-side Python workers) --------------------------

    def read(self, partition: _AddedFile):
        """Every emitted column is coerced to the arrow type Spark
        expects for the field — ``to_arrow_type(f.dataType)`` — whether
        it comes from the file (widened generations: int file column
        served as bigint; physical representations that differ from the
        arrow expectation: INT96 parquet timestamps read back as ns →
        cast to us), from the partition directory, or from null-fill.
        The previous partial simpleString→arrow map returned None for
        timestamp/decimal/array/struct/binary, which made null-filling
        a schema-evolved column of those types produce a null-typed
        array that failed Spark's batch-schema check."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type

        table = pq.read_table(partition.abs_path)
        n = table.num_rows
        by_name = {name: table.column(name) for name in table.column_names}
        arrays, names = [], []
        for f in self.schema.fields:
            names.append(f.name)
            expected = to_arrow_type(f.dataType)
            if f.name in by_name:
                col = by_name[f.name]
                if col.type != expected:
                    col = col.cast(expected)
                arrays.append(col)
            elif f.name in partition.partition_values:
                val = _coerce_partition_value(
                    partition.partition_values[f.name],
                    f.dataType.simpleString(),
                )
                arrays.append(pa.array([val] * n, type=expected))
            else:
                # column appended by schema evolution after this file's
                # generation: null-fill (same as the batch reader)
                arrays.append(pa.nulls(n, type=expected))
        yield from pa.Table.from_arrays(
            arrays, names=names
        ).to_batches(max_chunksize=1 << 16)

    def commit(self, end: dict) -> None:
        pass  # offsets are durable in the query checkpoint


class TxTableDataSource(DataSource):
    """``spark.readStream.format("txtable")`` — register with
    ``spark.dataSource.register(TxTableDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "txtable"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("txtable source requires .option('path', ...)")
        return path

    def schema(self) -> StructType:
        return _resolve(self._path().rstrip("/")).schema

    def streamReader(self, schema: StructType) -> TxTableStreamReader:
        return TxTableStreamReader(self._path(), schema, dict(self.options))
