"""Columnar file-manifest for transaction-log snapshots.

Materializing EVERY checkpoint entry to a Python dict on the driver
(``to_pylist()`` + one ``json.loads`` per entry) and looping those
dicts in ``_prune`` would, at the 100 TB target (~10⁶ files), make
snapshot resolution and every pruned read/DML probe a driver-memory/CPU
bottleneck. Delta solves the same problem by reconstructing log state
as a columnar job; this module is that design for the native log:

* the checkpoint parquet stays the source of truth and is held as a
  **pyarrow table** — never bulk-converted to Python objects;
* tail commits replay as a small ``extra`` dict (adds) plus a
  ``removed`` path set layered over the Arrow base —
  :class:`FileManifest` exposes the Mapping surface snapshot consumers
  use (``in``, ``len``, iteration, ``[path]``) and materializes a base
  entry **only when that specific entry is demanded**;
* partition-value, min/max-stats, and bloom equality predicates are
  evaluated as **columnar expressions** (``pyarrow.compute`` + numpy
  over the checkpoint's parsed columns, written at checkpoint time) and
  only the SURVIVING entries are materialized;
* writing the next checkpoint is ``base.filter(...)`` + an appended
  Arrow slice for the tail adds — no round-trip through Python dicts.

Checkpoint v2 layout: the v1 columns (``path``, ``partitionValues``,
``numRecords``, ``stats``, ``schema_json``, ``bloom`` — JSON strings,
still what entry materialization reads, so fidelity is exact) plus
parsed sidecar columns used ONLY for columnar skipping:

* ``pv:<col>``  — partition value, string (hive directory encoding;
  :func:`_bounds_mask` unescapes it before comparing);
* ``min:<col>`` / ``max:<col>`` — stats bounds, typed from the
  snapshot schema (int64 / float64 / utf8);
* ``bf:<col>`` / ``bfk:<col>`` / ``bfb:<col>`` — bloom bitmap bytes
  (big-endian), hash count, bit width.

A v1 checkpoint (no sidecar columns) still loads: skipping silently
degrades to "keep every base file" for the affected predicate —
pruning is an optimization, never a filter, so the degraded path stays
exact (the row-level filter in ``TxTable.read`` applies regardless).
Every corner where the columnar evaluator cannot mirror the scalar
evaluator exactly (mixed-type stats, unparseable values) resolves to
KEEP — the columnar path is never less conservative than the scalar
one.
"""

from __future__ import annotations

import json
import re

# -- shared predicate semantics (scalar + columnar use ONE definition) ------


def to_num(v):
    """Numeric view of a stored bound: ints/floats pass through,
    numeric strings parse — integer-looking strings via ``int`` so
    bigint bounds beyond 2**53 stay exact (Python compares int vs
    float exactly), the rest via ``float``. Everything else is
    ``None`` (= bound unusable, keep the file)."""
    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        try:
            return int(v)
        except ValueError:
            try:
                return float(v)
            except ValueError:
                return None
    return None


def unescape_partition_value(v: str) -> str:
    """The value a hive directory name ``v`` encodes: each ``%XX``
    becomes the character with hex code ``XX`` — Spark's
    ``unescapePathName``, the inverse of the escaping its partitioned
    writer applies (``a:b`` is written as ``a%3Ab``, ``a/b`` as
    ``a%2Fb``). Logged partition values keep the directory form;
    pruning and partition-column stats compare the unescaped value."""
    if "%" not in v:
        return v
    return re.sub(r"%([0-9A-Fa-f]{2})",
                  lambda m: chr(int(m.group(1), 16)), v)


def range_test(lo, hi, op, lit) -> bool:
    """Could a value in ``[lo, hi]`` satisfy ``value <op> lit``?

    A NaN bound or literal keeps the file: Spark orders NaN above every
    value and equal to itself, so a ``max`` of NaN may hide rows that
    satisfy ``>``/``>=``, and a NaN literal matches NaN rows that no
    ``[lo, hi]`` comparison can see."""
    if lo != lo or hi != hi or lit != lit:
        return True
    if op == "=":
        return lo <= lit <= hi
    if op == "<":
        return lo < lit
    if op == "<=":
        return lo <= lit
    if op == ">":
        return hi > lit
    return hi >= lit  # ">="


def bounds_may_match(lo, hi, op, lit) -> bool:
    """Scalar form of the skipping predicate: True unless the bounds
    PROVE no row can match. Numeric literals compare numerically
    (string bounds parse — hive partition values are strings); string
    literals compare lexicographically against string bounds only;
    any type mismatch keeps the file."""
    if isinstance(lit, bool):
        return True
    if isinstance(lit, (int, float)):
        lo2, hi2 = to_num(lo), to_num(hi)
        if lo2 is None or hi2 is None:
            return True
        return range_test(lo2, hi2, op, lit)
    if isinstance(lit, str):
        if not (isinstance(lo, str) and isinstance(hi, str)):
            return True
        return range_test(lo, hi, op, lit)
    return True


# -- checkpoint v2 construction --------------------------------------------


def _stat_arrow_type(simple: str):
    import pyarrow as pa

    if simple in ("tinyint", "smallint", "int", "bigint", "long"):
        return pa.int64()
    if simple in ("float", "double"):
        return pa.float64()
    return pa.string()


def _coerce_stat(v, typ):
    """Stat value → the column's Arrow type; mismatches become null
    (columnar skipping then keeps the file — conservative)."""
    import pyarrow as pa

    if v is None:
        return None
    if typ == pa.int64():
        return v if isinstance(v, int) and not isinstance(v, bool) else None
    if typ == pa.float64():
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return float(v)
        return None
    return v if isinstance(v, str) else None


def schema_stat_types(schema_json: str) -> dict:
    """Column → Arrow stats type, from the snapshot schema JSON."""
    out = {}
    if not schema_json:
        return out
    for f in json.loads(schema_json).get("fields", []):
        t = f.get("type")
        if isinstance(t, str):  # nested types never carry stats
            out[f["name"]] = _stat_arrow_type(t)
    return out


def entries_to_arrow(entries: list, schema_json: str,
                     partition_by: list) -> "pyarrow.Table":
    """Build a checkpoint-v2 Arrow table from entry dicts: the exact v1
    JSON columns plus the parsed sidecar columns for columnar
    skipping."""
    import pyarrow as pa

    stat_types = schema_stat_types(schema_json)
    stat_cols = sorted(
        {c for e in entries for c in (e.get("stats") or {})} & set(stat_types)
    )
    bloom_cols = sorted({c for e in entries for c in (e.get("bloom") or {})})

    cols = {
        "path": pa.array([e["path"] for e in entries], pa.string()),
        "partitionValues": pa.array(
            [json.dumps(e.get("partitionValues") or {}) for e in entries],
            pa.string(),
        ),
        "numRecords": pa.array(
            [e.get("numRecords") for e in entries], pa.int64()
        ),
        "stats": pa.array(
            [json.dumps(e.get("stats") or {}) for e in entries], pa.string()
        ),
        "schema_json": pa.array(
            [e.get("_schema_json") or schema_json for e in entries],
            pa.string(),
        ),
        "bloom": pa.array(
            [json.dumps(e.get("bloom") or {}) for e in entries], pa.string()
        ),
        "dv": pa.array(
            [json.dumps(e.get("dv") or {}) for e in entries], pa.string()
        ),
        # sidecar: deletion-vector cardinality for columnar row totals
        "dvcard": pa.array(
            [(e.get("dv") or {}).get("cardinality", 0) for e in entries],
            pa.int64(),
        ),
    }
    for c in partition_by or []:
        cols[f"pv:{c}"] = pa.array(
            [(e.get("partitionValues") or {}).get(c) for e in entries],
            pa.string(),
        )
    for c in stat_cols:
        typ = stat_types[c]
        mins, maxs = [], []
        for e in entries:
            st = (e.get("stats") or {}).get(c) or {}
            mins.append(_coerce_stat(st.get("min"), typ))
            maxs.append(_coerce_stat(st.get("max"), typ))
        cols[f"min:{c}"] = pa.array(mins, typ)
        cols[f"max:{c}"] = pa.array(maxs, typ)
    for c in bloom_cols:
        masks, ks, bits = [], [], []
        for e in entries:
            bl = (e.get("bloom") or {}).get(c)
            if bl and bl.get("mask"):
                # a bloom.bits whose hex width (bits+3)//4 is odd would
                # crash fromhex — left-pad; zero-extending the most-
                # significant side preserves every bit position.
                h = bl["mask"]
                masks.append(bytes.fromhex("0" + h if len(h) % 2 else h))
                ks.append(int(bl.get("k", 3)))
                bits.append(int(bl.get("bits", len(bl["mask"]) * 4)))
            else:
                masks.append(None)
                ks.append(None)
                bits.append(None)
        cols[f"bf:{c}"] = pa.array(masks, pa.binary())
        cols[f"bfk:{c}"] = pa.array(ks, pa.int32())
        cols[f"bfb:{c}"] = pa.array(bits, pa.int32())
    return pa.table(cols)


# -- the lazy manifest ------------------------------------------------------


class FileManifest:
    """Mapping-shaped view over (Arrow checkpoint base) + (tail-commit
    deltas). Base entries materialize to dicts one at a time, on
    demand; bulk operations (pruning, the next checkpoint, record
    totals) stay columnar. ``materialized`` counts base-entry dict
    conversions — the scale tests pin that pruned reads never
    materialize the full manifest."""

    def __init__(self, table):
        self.table = table
        self._idx_cache: dict | None = None
        self.removed: set = set()  # base paths removed OR shadowed
        self.extra: dict = {}      # path -> entry (tail adds / re-adds)
        self.materialized = 0

    @property
    def _idx(self) -> dict:
        """path → base-row index; built lazily (a snapshot resolved
        exactly at its checkpoint version and pruned columnarly never
        needs it)."""
        if self._idx_cache is None:
            self._idx_cache = {
                p: i
                for i, p in enumerate(self.table.column("path").to_pylist())
            }
        return self._idx_cache

    # - entry materialization (the only JSON-parsing point) -
    def _entry(self, i: int) -> dict:
        self.materialized += 1
        t = self.table
        entry = {
            "path": t.column("path")[i].as_py(),
            "partitionValues": json.loads(
                t.column("partitionValues")[i].as_py()
            ),
            "_schema_json": t.column("schema_json")[i].as_py(),
        }
        n = t.column("numRecords")[i].as_py()
        if n is not None:
            entry["numRecords"] = n
        stats = json.loads(t.column("stats")[i].as_py())
        if stats:
            entry["stats"] = stats
        if "bloom" in t.column_names:
            bloom = json.loads(t.column("bloom")[i].as_py())
            if bloom:
                entry["bloom"] = bloom
        if "dv" in t.column_names:
            v = t.column("dv")[i].as_py()
            dv = json.loads(v) if v else {}
            if dv:
                entry["dv"] = dv
        return entry

    # - Mapping surface -
    def __getitem__(self, path: str) -> dict:
        if path in self.extra:
            return self.extra[path]
        if path in self._idx and path not in self.removed:
            return self._entry(self._idx[path])
        raise KeyError(path)

    def get(self, path: str, default=None):
        try:
            return self[path]
        except KeyError:
            return default

    def __contains__(self, path) -> bool:
        return path in self.extra or (
            path in self._idx and path not in self.removed
        )

    def __iter__(self):
        for p in self._idx:
            if p not in self.removed:
                yield p
        yield from self.extra

    def keys(self):
        return iter(self)

    def __len__(self) -> int:
        return len(self._idx) - len(self.removed) + len(self.extra)

    def __bool__(self) -> bool:
        return len(self) > 0

    def values(self):
        for p in self:
            yield self[p]

    def items(self):
        for p in self:
            yield p, self[p]

    # - replay mutations (tail commits) -
    def pop(self, path: str, default=None):
        """Remove ``path`` from the live set. Returns ``default`` for
        base entries (no materialization — replay never reads the
        removed entry)."""
        if path in self.extra:
            return self.extra.pop(path)
        if path in self._idx and path not in self.removed:
            self.removed.add(path)
        return default

    def __setitem__(self, path: str, entry: dict) -> None:
        if path in self._idx:
            self.removed.add(path)  # shadow the base row
        self.extra[path] = entry

    # - columnar bulk operations -
    def _base_live_mask(self):
        import numpy as np

        keep = np.ones(self.table.num_rows, dtype=bool)
        for p in self.removed:
            keep[self._idx[p]] = False
        return keep

    def total_records(self) -> int:
        """Σ numRecords over the live set without materializing
        entries (files without a count contribute 0, matching the
        dict path's ``or 0`` sum)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        mask = self._base_live_mask()
        col = self.table.column("numRecords").filter(pa.array(mask))
        total = pc.sum(col).as_py() or 0
        for e in self.extra.values():
            total += e.get("numRecords", 0) or 0
        return total

    def total_dv_cardinality(self) -> int:
        """Σ deletion-vector cardinality over the live set, columnar
        (0 for pre-DV checkpoints)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        total = 0
        if "dvcard" in self.table.column_names:
            mask = self._base_live_mask()
            col = self.table.column("dvcard").filter(pa.array(mask))
            total = pc.sum(col).as_py() or 0
        for e in self.extra.values():
            total += (e.get("dv") or {}).get("cardinality", 0)
        return total

    def to_arrow(self, schema_json: str, partition_by: list):
        """The next checkpoint's table: live base rows (columnar
        filter) + the tail adds (built from their dicts). Sidecar
        columns merge by name; on any cross-generation type conflict
        the build falls back to full materialization (rare — implies
        an overwriteSchema that retyped a column)."""
        import pyarrow as pa

        base = self.table.filter(pa.array(self._base_live_mask()))
        if not self.extra:
            return base
        tail = entries_to_arrow(
            list(self.extra.values()), schema_json, partition_by
        )
        if base.num_rows == 0:
            return tail
        try:
            return pa.concat_tables(
                [base, tail], promote_options="permissive"
            )
        except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError):
            return entries_to_arrow(
                list(self.values()), schema_json, partition_by
            )


# -- columnar pruning -------------------------------------------------------


def _parse_numeric(strings):
    """Vectorized ``to_num`` over a string column: factorize, parse the
    (few) distinct values with the SAME scalar function, map back."""
    import numpy as np
    import pandas as pd

    codes, uniques = pd.factorize(pd.Series(strings, dtype="object"))

    def _safe(u):
        # ints beyond float53 would round in the float64 output array;
        # emit None (= NaN = keep) — conservative, the scalar path does
        # the exact comparison (never less conservative than scalar).
        # Ints beyond float64 range make float() RAISE rather than
        # round — same verdict (None = keep), never a planning crash.
        v = to_num(u) if u is not None else None
        if isinstance(v, int):
            try:
                if float(v) != v:
                    return None
            except OverflowError:
                return None
        return v

    parsed = np.array([_safe(u) for u in uniques], dtype="object")
    out = np.full(len(codes), np.nan)
    ok = codes >= 0
    vals = parsed[codes[ok]]
    num = np.array([v if v is not None else np.nan for v in vals])
    out[ok] = num
    return out  # float64, NaN = unusable bound (keep)


def _bounds_mask(table, col: str, op: str, lit):
    """Per-base-row boolean: could the file contain a matching row?
    Mirrors :func:`bounds_may_match`: partition value when present,
    else stats bounds, else keep."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = table.num_rows
    keep = np.ones(n, dtype=bool)
    names = set(table.column_names)
    numeric_lit = isinstance(lit, (int, float)) and not isinstance(lit, bool)
    string_lit = isinstance(lit, str)
    if not (numeric_lit or string_lit) or lit != lit:  # NaN literal: keep
        return keep

    def apply(lo_vals, hi_vals, rows_mask):
        """rows_mask: rows whose bounds come from (lo_vals, hi_vals)
        (numpy float64 with NaN-keep, or Arrow arrays)."""
        if isinstance(lo_vals, np.ndarray):
            with np.errstate(invalid="ignore"):
                if op == "=":
                    bad = ~((lo_vals <= lit) & (hi_vals >= lit))
                elif op == "<":
                    bad = ~(lo_vals < lit)
                elif op == "<=":
                    bad = ~(lo_vals <= lit)
                elif op == ">":
                    bad = ~(hi_vals > lit)
                else:
                    bad = ~(hi_vals >= lit)
            # NaN comparisons are False -> bad True; a NaN bound must
            # KEEP the file
            bad &= ~(np.isnan(lo_vals) | np.isnan(hi_vals))
            keep[rows_mask & bad] = False
        else:  # Arrow arrays (typed stats): pc keeps int64 exactness
            if op == "=":
                ok = pc.and_kleene(
                    pc.less_equal(lo_vals, lit), pc.greater_equal(hi_vals, lit)
                )
            elif op == "<":
                ok = pc.less(lo_vals, lit)
            elif op == "<=":
                ok = pc.less_equal(lo_vals, lit)
            elif op == ">":
                ok = pc.greater(hi_vals, lit)
            else:
                ok = pc.greater_equal(hi_vals, lit)
            # scalar contract: EITHER bound missing or NaN -> keep
            valid = pc.and_(pc.is_valid(lo_vals), pc.is_valid(hi_vals))
            if pa.types.is_floating(lo_vals.type):
                valid = pc.and_(valid, pc.invert(pc.or_(
                    pc.is_nan(lo_vals), pc.is_nan(hi_vals)
                )))
            bad = pc.and_(
                pc.invert(pc.fill_null(ok, True)), valid
            ).combine_chunks().to_numpy(zero_copy_only=False).astype(bool)
            keep[rows_mask & bad] = False

    pv_name = f"pv:{col}"
    has_pv = np.zeros(n, dtype=bool)
    if pv_name in names:
        pv = [
            None if v is None else unescape_partition_value(v)
            for v in table.column(pv_name).to_pylist()
        ]
        has_pv = np.array([v is not None for v in pv], dtype=bool)
        if has_pv.any():
            if numeric_lit:
                vals = _parse_numeric(pv)
                apply(vals, vals, has_pv)
            else:  # string literal vs string pv: lexicographic
                arr = np.array(
                    [v if v is not None else "" for v in pv], dtype=object
                )
                with np.errstate(invalid="ignore"):
                    if op == "=":
                        bad = ~(arr == lit)
                    elif op == "<":
                        bad = ~(arr < lit)
                    elif op == "<=":
                        bad = ~(arr <= lit)
                    elif op == ">":
                        bad = ~(arr > lit)
                    else:
                        bad = ~(arr >= lit)
                keep[has_pv & bad] = False

    min_name, max_name = f"min:{col}", f"max:{col}"
    if min_name in names:
        lo_col = table.column(min_name)
        hi_col = table.column(max_name)
        rows = ~has_pv  # stats apply only where no partition value
        typ = lo_col.type
        if pa.types.is_string(typ) or pa.types.is_large_string(typ):
            if numeric_lit:
                lo = _parse_numeric(lo_col.to_pylist())
                hi = _parse_numeric(hi_col.to_pylist())
                apply(lo, hi, rows)
            else:
                lo = np.array(
                    [v if v is not None else None for v in lo_col.to_pylist()],
                    dtype=object,
                )
                hi = np.array(
                    [v if v is not None else None for v in hi_col.to_pylist()],
                    dtype=object,
                )
                usable = np.array(
                    [a is not None and b is not None for a, b in zip(lo, hi)],
                    dtype=bool,
                )
                lo2 = np.where(usable, lo, "")
                hi2 = np.where(usable, hi, "")
                if op == "=":
                    bad = ~((lo2 <= lit) & (hi2 >= lit))
                elif op == "<":
                    bad = ~(lo2 < lit)
                elif op == "<=":
                    bad = ~(lo2 <= lit)
                elif op == ">":
                    bad = ~(hi2 > lit)
                else:
                    bad = ~(hi2 >= lit)
                keep[rows & usable & bad] = False
        elif numeric_lit:
            apply(lo_col, hi_col, rows)
        # string literal vs numeric stats: keep (type mismatch)
    return keep


def _bloom_mask(table, col: str, lit, positions_fn):
    """Vectorized bloom probe over the base rows: False where the
    bitmap PROVES the value absent. Grouped by (k, bits) so mixed
    generations probe with their own parameters."""
    import numpy as np

    names = set(table.column_names)
    n = table.num_rows
    keep = np.ones(n, dtype=bool)
    if f"bf:{col}" not in names:
        return keep
    masks = table.column(f"bf:{col}").to_pylist()
    ks = table.column(f"bfk:{col}").to_pylist()
    bs = table.column(f"bfb:{col}").to_pylist()
    groups: dict = {}
    for i, (m, k, b) in enumerate(zip(masks, ks, bs)):
        if m is None or k is None or b is None:
            continue
        groups.setdefault((k, b, len(m)), []).append(i)
    for (k, bits, length), rows in groups.items():
        buf = b"".join(masks[i] for i in rows)
        mat = np.frombuffer(buf, dtype=np.uint8).reshape(len(rows), length)
        all_set = np.ones(len(rows), dtype=bool)
        for p in positions_fn(lit, k, bits):
            byte_idx = length - 1 - p // 8
            all_set &= ((mat[:, byte_idx] >> (p % 8)) & 1).astype(bool)
        idx = np.array(rows)
        keep[idx[~all_set]] = False
    return keep


def prune_columnar(manifest: FileManifest, predicates,
                   positions_fn) -> list:
    """Evaluate the skipping predicates columnarly over the manifest's
    Arrow base and materialize ONLY the surviving base entries (the
    tail ``extra`` entries are the caller's to filter scalar-side).
    ``positions_fn`` is the bloom position derivation shared with the
    build side."""
    import numpy as np

    keep = manifest._base_live_mask()
    for col, op, lit in predicates or []:
        if not keep.any():
            break
        if (
            op == "="
            and isinstance(lit, (int, str))
            and not isinstance(lit, bool)
        ):
            keep &= _bloom_mask(manifest.table, col, lit, positions_fn)
        keep &= _bounds_mask(manifest.table, col, op, lit)
    return [manifest._entry(i) for i in np.flatnonzero(keep)]
