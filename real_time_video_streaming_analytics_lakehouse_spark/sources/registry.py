"""Per-topic schema registry + validated ingest (one composed surface).

Reference parity: ``kafka-setup/topics.py:76-165`` (``SchemaRegistry`` —
versioned subjects, in-memory or remote storage) and ``:599-663``
(``_register_topic_schema`` — per-topic JSON schemas with ``required``
field lists, registered as ``{topic}-value`` subjects). The reference
validates producer payloads against that registry; this module is the
same capability composed Spark-first at INGEST time:

* the registry itself is driver-side metadata (a handful of subjects,
  each a small JSON document — never a distributed dataset). Optional
  directory persistence uses one put-if-absent file per version
  (``O_CREAT|O_EXCL``), so concurrent registrants can never clobber or
  reuse a version number — the same commit discipline as
  :mod:`..operators.commitstore`, scaled down to metadata;
* each JSON schema compiles ONCE to a Spark ``StructType`` + required
  field list; per-row validation is then pure JVM projection —
  ``from_json`` with a corrupt-record column for malformed payloads,
  ``IS NULL`` checks on required fields — no Python UDF anywhere, so
  ingest validation rides whole-stage codegen at any scale;
* routing is one filter per target over the SAME annotated frame:
  valid rows flatten into their topic's typed table, violating rows
  keep the ORIGINAL payload plus machine-readable ``_dq_errors`` in a
  dead-letter frame (replayable/repairable — nothing is dropped, where
  the reference's batch validator discards invalid rows).

Schema evolution: ``register`` enforces BACKWARD compatibility by
default (a consumer on the new version can read data produced under
the old one): a shared property may not change type, and a field newly
promoted to ``required`` must already exist in the previous version's
properties. Confluent's subject-level mode set is complete:
``compatibility="forward"`` checks the other direction (data produced
under the new version stays valid to readers on the old one — a
property the old version requires must survive into the new one, and
stay required), ``"full"`` checks both directions, and ``"none"`` opts
out per registry. The two directions are deliberately NOT symmetric
about required-ness — see :func:`backward_incompatibilities`.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

#: JSON-schema primitive type → Spark type. ``integer`` widens to LONG
#: (a 100 TB ingest WILL see 33-bit ids; narrowing is the producer's
#: job), ``number`` to DOUBLE.
_TYPE_MAP = {
    "string": StringType(),
    "integer": LongType(),
    "number": DoubleType(),
    "boolean": BooleanType(),
}

#: reserved column the compiled struct uses to capture unparseable
#: payload text (Spark's columnNameOfCorruptRecord mechanism).
CORRUPT_COL = "_corrupt_record"


def json_schema_to_struct(schema: dict) -> StructType:
    """Compile a JSON-schema ``object`` document to a Spark StructType.

    Nested ``object``s with ``properties`` become nested structs;
    ``object`` without properties becomes ``MAP<STRING,STRING>``
    (schemaless bag, the pragmatic wide-open case); ``array`` uses its
    ``items`` type (string items if unspecified). Unknown scalar types
    fail loudly — a registry that silently coerced would defer the
    error to per-row parse time at 100 TB.
    """
    if schema.get("type") != "object":
        raise ValueError(
            f"topic schema must be a JSON-schema object, got "
            f"{schema.get('type')!r}"
        )
    fields = []
    for name, spec in (schema.get("properties") or {}).items():
        fields.append(StructField(name, _compile_type(name, spec), True))
    return StructType(fields)


def _compile_type(name: str, spec: dict):
    t = spec.get("type", "string")
    if t == "object":
        props = spec.get("properties")
        if props:
            return json_schema_to_struct(spec)
        return MapType(StringType(), StringType())
    if t == "array":
        return ArrayType(_compile_type(name, spec.get("items") or {}))
    try:
        return _TYPE_MAP[t]
    except KeyError:
        raise ValueError(
            f"unsupported JSON-schema type {t!r} for property {name!r}"
        ) from None


def backward_incompatibilities(
    old: dict, new: dict, strict: bool = False
) -> list[str]:
    """Why ``new`` cannot BACKWARD-compatibly replace ``old`` (empty =
    compatible): shared properties must keep their declared type, and
    a property required by ``new`` must already exist in ``old``'s
    properties (otherwise data produced under ``old`` is invalid to a
    consumer expecting ``new``).

    DELIBERATE RELAXATION vs strict Confluent JSON-schema semantics:
    promoting an EXISTING optional property to required is admitted
    here even though some old-produced payloads may then omit a
    now-required field. Required-ness is this engine's DLQ gate, not a
    parse-breaking change: post-promotion, such payloads route to the
    dead-letter table with ``missing:<field>`` for repair-replay (the
    mid-stream evolution e2e test pins exactly this workflow),
    whereas a TYPE change or a required field with no property would
    corrupt the typed table itself and is rejected. The FORWARD
    direction (:func:`forward_incompatibilities`) is intentionally
    NOT the mirror image on this point — it rejects the
    required→optional demotion — because old READERS are outside this
    registry's control: there is no DLQ on their side to catch a
    payload missing a field they require.

    ``strict=True`` opts into Confluent-parity semantics
    for deployments whose consumers are NOT behind this engine's DLQ:
    the optional→required promotion is then rejected too, exactly as
    Confluent's BACKWARD checker would."""
    problems = []
    op = old.get("properties") or {}
    np = new.get("properties") or {}
    old_required = set(old.get("required") or [])
    for name in op.keys() & np.keys():
        if op[name].get("type", "string") != np[name].get("type", "string"):
            problems.append(
                f"property {name!r} changed type "
                f"{op[name].get('type')!r} -> {np[name].get('type')!r}"
            )
    for name in new.get("required") or []:
        if name not in op:
            problems.append(
                f"property {name!r} is newly required but absent from "
                f"the previous version's properties"
            )
        elif strict and name not in old_required:
            problems.append(
                f"property {name!r} promoted optional -> required "
                f"(rejected in strict/Confluent-parity mode: payloads "
                f"produced under the old schema may omit it)"
            )
    return problems


def forward_incompatibilities(old: dict, new: dict) -> list[str]:
    """Why ``new`` cannot FORWARD-compatibly replace ``old`` (empty =
    compatible): data produced under ``new`` must stay valid to a
    consumer still reading with ``old``: shared properties keep their
    type; a property ``old`` REQUIRES must stay REQUIRED in ``new``
    (merely keeping it optional is not enough — a new-produced payload
    may then omit a field old readers demand, Confluent JSON-schema
    semantics). Confluent's FORWARD mode, including the rejection of a
    required→optional demotion. NOT the exact mirror of the backward
    algebra: forward is STRICT about required-ness where backward
    deliberately relaxes it
    — see the relaxation note on
    :func:`backward_incompatibilities` for why the asymmetry is the
    design (our DLQ exists, old readers' doesn't)."""
    problems = []
    op = old.get("properties") or {}
    np = new.get("properties") or {}
    new_required = set(new.get("required") or [])
    for name in op.keys() & np.keys():
        if op[name].get("type", "string") != np[name].get("type", "string"):
            problems.append(
                f"property {name!r} changed type "
                f"{op[name].get('type')!r} -> {np[name].get('type')!r}"
            )
    for name in old.get("required") or []:
        if name not in np:
            problems.append(
                f"property {name!r} is required by the previous version "
                f"but absent from the new version's properties"
            )
        elif name not in new_required:
            problems.append(
                f"property {name!r} is required by the previous version "
                f"but demoted to optional in the new version — "
                f"new-produced payloads may omit it"
            )
    return problems


class SchemaRegistry:
    """Versioned per-subject schema store (reference
    ``kafka-setup/topics.py:76-165``; subjects follow the reference's
    ``{topic}-value`` convention but plain topic names work too).

    ``root=None`` is in-memory (the reference's development mode);
    with a directory, every version is one immutable put-if-absent
    JSON file under ``root/{subject}/v{N}.json``, so a second process
    (or a restart) sees exactly the registered history.
    """

    def __init__(self, root: str | None = None,
                 compatibility: str = "backward",
                 strict: bool = False) -> None:
        """``strict=True`` applies Confluent-parity BACKWARD semantics
        (optional→required promotions rejected) instead of this
        engine's documented DLQ-gated relaxation — for deployments
        whose old consumers are not behind the DLQ."""
        if compatibility not in ("backward", "forward", "full", "none"):
            raise ValueError(f"unknown compatibility mode {compatibility!r}")
        self.root = root
        self.compatibility = compatibility
        self.strict = strict
        self._mem: dict[str, dict[int, dict]] = {}
        if root:
            os.makedirs(root, exist_ok=True)

    # -- storage ----------------------------------------------------
    def _versions_of(self, subject: str) -> dict[int, dict]:
        if self.root is None:
            return self._mem.setdefault(subject, {})
        out: dict[int, dict] = {}
        sub_dir = os.path.join(self.root, subject)
        if os.path.isdir(sub_dir):
            for fn in os.listdir(sub_dir):
                if fn.startswith("v") and fn.endswith(".json"):
                    with open(os.path.join(sub_dir, fn)) as f:
                        out[int(fn[1:-5])] = json.load(f)
        return out

    def register(self, subject: str, schema: dict) -> int:
        """Register ``schema``; returns the new version (1-based).
        Re-registering the latest schema verbatim is a no-op returning
        the existing version (idempotent producers)."""
        json_schema_to_struct(schema)  # validate before storing
        while True:
            have = self._versions_of(subject)
            if have:
                latest = max(have)
                if have[latest] == schema:
                    return latest
                directions = {
                    "backward": ("backward",),
                    "forward": ("forward",),
                    "full": ("backward", "forward"),
                    "none": (),
                }[self.compatibility]
                for direction in directions:
                    if direction == "backward":
                        problems = backward_incompatibilities(
                            have[latest], schema, strict=self.strict
                        )
                    else:
                        problems = forward_incompatibilities(
                            have[latest], schema
                        )
                    if problems:
                        raise ValueError(
                            f"schema for {subject!r} v{latest + 1} is not "
                            f"{direction}-compatible: " + "; ".join(problems)
                        )
                version = latest + 1
            else:
                version = 1
            if self.root is None:
                self._mem.setdefault(subject, {})[version] = schema
                return version
            sub_dir = os.path.join(self.root, subject)
            os.makedirs(sub_dir, exist_ok=True)
            path = os.path.join(sub_dir, f"v{version}.json")
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                continue  # lost the race: re-read and retry at next v
            with os.fdopen(fd, "w") as f:
                json.dump(schema, f, sort_keys=True)
            return version

    def get(self, subject: str, version: int | str = "latest") -> dict | None:
        have = self._versions_of(subject)
        if not have:
            return None
        if version == "latest":
            return have[max(have)]
        return have.get(int(version))

    def subjects(self) -> list[str]:
        if self.root is None:
            return sorted(s for s, v in self._mem.items() if v)
        return sorted(
            s for s in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, s))
            and self._versions_of(s)
        )

    def versions(self, subject: str) -> list[int]:
        return sorted(self._versions_of(subject))

    # -- compiled views ---------------------------------------------
    def spark_schema(self, subject: str,
                     version: int | str = "latest") -> StructType:
        """The subject's compiled StructType plus the corrupt-record
        capture column (consumed by :func:`annotate_against_registry`)."""
        schema = self.get(subject, version)
        if schema is None:
            raise KeyError(f"no schema registered for subject {subject!r}")
        st = json_schema_to_struct(schema)
        if CORRUPT_COL in st.names:
            raise ValueError(f"{CORRUPT_COL!r} is reserved")
        return st.add(StructField(CORRUPT_COL, StringType(), True))

    def required(self, subject: str,
                 version: int | str = "latest") -> list[str]:
        schema = self.get(subject, version)
        if schema is None:
            raise KeyError(f"no schema registered for subject {subject!r}")
        return list(schema.get("required") or [])

    def topic_subject(self, topic: str) -> str | None:
        """Resolve a topic to its registered subject: the reference's
        ``{topic}-value`` convention first, bare topic name second."""
        have = set(self.subjects())
        for cand in (f"{topic}-value", topic):
            if cand in have:
                return cand
        return None


def _error_expr(parsed, value_col: str, required: list[str]):
    """Comma-joined validation failures for one topic branch, entirely
    JVM-side boolean algebra: ``null_payload`` / ``malformed_json``
    subsume field checks (a payload that never parsed would otherwise
    report every field missing); otherwise each required field missing
    OR null (type-mismatched values also surface as NULL under
    PERMISSIVE parse — same producer bug, same route)."""
    field_errs = [
        F.when(parsed[f].isNull(), F.lit(f"missing:{f}")) for f in required
    ]
    return (
        F.when(F.col(value_col).isNull(), F.lit("null_payload"))
        .when(parsed[CORRUPT_COL].isNotNull(), F.lit("malformed_json"))
        .otherwise(F.concat_ws(",", *field_errs))
    )


def parsed_col_name(subject: str) -> str:
    """Column name of the staged per-subject parse struct that
    :func:`annotate_against_registry` (``keep_parsed=True``) carries
    in its output: ``_dq_parsed_<subject>`` with non-word characters
    mapped to ``_`` (``video_events-value`` →
    ``_dq_parsed_video_events_value``)."""
    import re

    return "_dq_parsed_" + re.sub(r"\W", "_", subject)


def annotate_against_registry(
    raw: DataFrame,
    registry: SchemaRegistry,
    value_col: str = "value",
    topic_col: str = "topic",
    keep_parsed: bool = False,
) -> DataFrame:
    """The composed ingest gate: every row validated against ITS
    topic's registered schema in one pass.

    Output = input columns + ``_dq_subject`` (resolved subject, NULL
    for unregistered topics), ``_dq_version``, ``_dq_errors`` (empty
    string = valid; else comma-joined ``unregistered_topic`` /
    ``null_payload`` / ``malformed_json`` / ``missing:<field>``; a type-mismatched value marks the whole
    record corrupt under PERMISSIVE parse and routes as
    ``malformed_json``) +
    ``_dq_valid`` int. The original payload column is carried through
    untouched, so the invalid slice IS the dead-letter queue — nothing
    to re-fetch when replaying repaired producers.

    Plan shape: a STAGED pair of projections (no per-topic scan, no
    shuffle, no union), which matters when one Kafka stream
    multiplexes many topics. The first projection runs ``from_json``
    exactly ONCE per registered subject into a struct column; the
    second derives the ``when``-chain validation algebra from cheap
    ``GetStructField`` references into those structs. This matters
    because ``JsonToStructs`` is a codegen-fallback expression —
    inlining it per required-field reference (the naive single-select
    formulation) evaluates the parse ``1 + len(required)`` times per
    subject per row with no common-subexpression elimination, and
    Catalyst's CollapseProject deliberately will NOT re-inline a
    non-cheap expression referenced more than once, so the staged
    shape survives optimization.

    ``keep_parsed=True`` additionally carries each subject's parsed
    struct in the output as :func:`parsed_col_name`(subject), so a
    downstream consumer that needs payload FIELDS (typed flattening,
    parsed-value aggregates) extracts them with ``GetStructField``
    from the parse this gate already paid for instead of re-running
    ``from_json``.
    """
    topics = _topics_of(raw, registry, topic_col)
    parsed_name = {subject: parsed_col_name(subject) for _t, subject in topics}
    staged = raw.select(
        "*",
        *[
            F.from_json(
                F.col(value_col).cast("string"),
                registry.spark_schema(subject),
                {"columnNameOfCorruptRecord": CORRUPT_COL},
            ).alias(parsed_name[subject])
            for _t, subject in topics
        ],
    )
    err = F.lit("unregistered_topic")
    subj_expr = F.lit(None).cast("string")
    ver_expr = F.lit(None).cast("long")
    for topic, subject in topics:
        versions = registry.versions(subject)
        parsed = staged[parsed_name[subject]]
        is_t = F.col(topic_col) == topic
        err = F.when(
            is_t, _error_expr(parsed, value_col, registry.required(subject))
        ).otherwise(err)
        subj_expr = F.when(is_t, F.lit(subject)).otherwise(subj_expr)
        ver_expr = F.when(is_t, F.lit(versions[-1])).otherwise(ver_expr)
    carried = list(raw.columns) + (
        [parsed_name[s] for _t, s in topics] if keep_parsed else []
    )
    return staged.select(
        *[F.col(c) for c in carried],
        subj_expr.alias("_dq_subject"),
        ver_expr.alias("_dq_version"),
        err.alias("_dq_errors"),
    ).withColumn("_dq_valid", (F.col("_dq_errors") == "").cast("int"))


def _topics_of(raw, registry, topic_col):
    """(topic, subject) pairs the annotation must branch on — every
    registered subject, resolved through the ``-value`` convention.
    Driven by the REGISTRY (bounded metadata), never by scanning the
    stream for distinct topics."""
    out = []
    for subject in registry.subjects():
        topic = subject[:-6] if subject.endswith("-value") else subject
        out.append((topic, subject))
    return out


def parse_topic(
    valid: DataFrame,
    registry: SchemaRegistry,
    topic: str,
    value_col: str = "value",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Flatten one topic's (already validated) payloads into typed
    columns — the ``good`` side of the split, one ``from_json``
    projection. ``keep_cols`` carries envelope metadata (offsets,
    ingest timestamps) alongside the payload fields. Staged like
    :func:`annotate_against_registry`: the parse lands in its own
    projection so per-field extraction is ``GetStructField`` over the
    struct, not one interpreted ``JsonToStructs`` per output field."""
    subject = registry.topic_subject(topic)
    if subject is None:
        raise KeyError(f"topic {topic!r} has no registered subject")
    staged = valid.select(
        "*",
        F.from_json(
            F.col(value_col).cast("string"),
            registry.spark_schema(subject),
            {"columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("_dq_parsed"),
    )
    names = [f for f in registry.spark_schema(subject).names
             if f != CORRUPT_COL]
    return staged.select(
        *[staged["_dq_parsed"].getField(f).alias(f) for f in names],
        *[F.col(c) for c in keep_cols],
    )


def registry_ingest_frames(
    raw: DataFrame,
    registry: SchemaRegistry,
    value_col: str = "value",
    topic_col: str = "topic",
    keep_cols: tuple[str, ...] = (),
) -> tuple[dict[str, DataFrame], DataFrame]:
    """The full composed surface: ``(good, dlq)`` where ``good`` maps
    each registered topic to its flattened valid-row frame and ``dlq``
    is every invalid row (unregistered topic included) with its
    original payload + ``_dq_subject``/``_dq_errors``. Works unchanged
    on batch and streaming frames (pure projections/filters)."""
    ann = annotate_against_registry(raw, registry, value_col, topic_col)
    good = {}
    for topic, _subject in _topics_of(raw, registry, topic_col):
        rows = ann.filter(
            (F.col(topic_col) == topic) & (F.col("_dq_valid") == 1)
        )
        good[topic] = parse_topic(
            rows, registry, topic, value_col, keep_cols
        )
    dlq = ann.filter(F.col("_dq_valid") == 0).drop("_dq_valid")
    return good, dlq
