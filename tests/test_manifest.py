"""Columnar snapshot resolution + pruning (operators/manifest.py).

The round-6 scale gap: checkpoint loading materialized EVERY entry to
Python dicts driver-side, and pruning looped them. These tests pin the
fix on a synthetic many-thousand-file checkpoint — pure Python (no
Spark session needed): snapshot resolution must stay lazy, columnar
pruning must match the scalar evaluator entry-for-entry, and only the
survivors may materialize. The Spark-integrated behavior is covered by
the whole txlog matrix, which now runs through FileManifest wherever
a checkpoint exists (default interval 10).
"""

from __future__ import annotations

import json
import random

import pytest

from real_time_video_streaming_analytics_lakehouse_spark.operators.commitstore import (
    LocalFileCommitStore,
    checkpoint_to_bytes,
)
from real_time_video_streaming_analytics_lakehouse_spark.operators.manifest import (
    FileManifest,
    bounds_may_match,
    entries_to_arrow,
    unescape_partition_value,
)
from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import (
    _bloom_positions_py,
    _keep_entry,
    _prune,
    _resolve,
)

SCHEMA_JSON = json.dumps({
    "type": "struct",
    "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "name", "type": "string", "nullable": True, "metadata": {}},
        {"name": "score", "type": "double", "nullable": True, "metadata": {}},
        {"name": "day", "type": "string", "nullable": True, "metadata": {}},
    ],
})

BITS, K = 256, 3


def _bloom_for(values) -> dict:
    mask = 0
    for v in values:
        for p in _bloom_positions_py(v, K, BITS):
            mask |= 1 << p
    return {"k": K, "bits": BITS, "mask": format(mask, f"0{BITS // 4}x")}


def _entries(n: int) -> list[dict]:
    out = []
    for i in range(n):
        e = {
            "path": f"day=d{i % 10}/part-{i:07d}.parquet",
            "partitionValues": {"day": f"d{i % 10}"},
            "numRecords": 10,
            "_schema_json": SCHEMA_JSON,
            "stats": {
                "id": {"min": i * 10, "max": i * 10 + 9},
                "score": {"min": i / 7.0, "max": i / 7.0 + 0.5},
            },
        }
        if i % 3 != 0:  # some files predate the bloom index
            e["bloom"] = {"name": _bloom_for([f"v{i}", f"w{i}"])}
        if i % 17 == 0:  # some files have no usable id stats
            e["stats"]["id"] = {"min": None, "max": None}
        out.append(e)
    return out


def _write_synthetic_checkpoint(root: str, entries: list[dict]) -> None:
    import os

    os.makedirs(os.path.join(root, "_txlog"), exist_ok=True)
    table = entries_to_arrow(entries, SCHEMA_JSON, ["day"])
    table = table.replace_schema_metadata({
        "version": "0",
        "schema": SCHEMA_JSON,
        "properties": json.dumps(
            {"bloom.columns": "name", "bloom.bits": BITS, "bloom.hashes": K}
        ),
        "partition_by": json.dumps(["day"]),
        "txns": json.dumps({}),
    })
    store = LocalFileCommitStore(root)
    store.write_checkpoint(0, checkpoint_to_bytes(table))
    store.write_pointer({"version": 0})


N = 20_000
PREDICATE_SETS = [
    [("id", ">=", 199_000)],
    [("id", "<", 500)],
    [("day", "=", "d3")],
    [("day", ">=", "d8")],
    [("name", "=", "v123")],              # bloom point lookup
    [("name", "=", "nowhere")],           # bloom: provably absent
    [("score", "<=", 3.0)],
    [("id", ">=", 1000), ("day", "=", "d7"), ("name", "=", "v1007")],
    [("missing_col", "=", 5)],            # unknown column: keep all
    [],
]


@pytest.fixture(scope="module")
def big_root(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("manifest") / "big")
    entries = _entries(N)
    _write_synthetic_checkpoint(root, entries)
    return root, entries


def test_snapshot_resolution_is_lazy(big_root):
    root, _ = big_root
    snap = _resolve(root)
    assert isinstance(snap.files, FileManifest)
    assert len(snap.files) == N
    # resolving and sizing a 20k-file snapshot materializes ZERO entries
    assert snap.files.materialized == 0
    # membership + single-entry access stay O(1) materializations
    assert "day=d3/part-0000003.parquet" in snap.files
    e = snap.files["day=d3/part-0000003.parquet"]
    assert e["stats"]["id"]["min"] == 30
    assert snap.files.materialized == 1


@pytest.mark.parametrize("preds", PREDICATE_SETS)
def test_columnar_prune_equals_scalar_and_materializes_survivors_only(
    big_root, preds
):
    root, entries = big_root
    snap = _resolve(root)
    got = _prune(snap, preds)
    expected = [e for e in entries if _keep_entry(e, preds)]
    assert {e["path"] for e in got} == {e["path"] for e in expected}
    # full fidelity of materialized survivors, not just their paths
    by_path = {e["path"]: e for e in expected}
    for e in got:
        assert e == by_path[e["path"]]
    # ONLY the survivors were materialized
    assert snap.files.materialized == len(got)
    if preds and preds[0][0] != "missing_col":
        assert len(got) < N


def test_prune_equality_fuzz(big_root):
    root, entries = big_root
    rng = random.Random(7)
    ops = ["=", "<", "<=", ">", ">="]
    for _ in range(40):
        preds = []
        for _ in range(rng.randint(1, 3)):
            col = rng.choice(["id", "day", "name", "score"])
            op = rng.choice(ops)
            lit = {
                "id": rng.randint(-5, N * 10 + 5),
                "day": f"d{rng.randint(0, 11)}",
                "name": rng.choice(
                    [f"v{rng.randint(0, N)}", f"w{rng.randint(0, N)}", "zzz"]
                ),
                "score": rng.uniform(-1.0, N / 7.0 + 1),
            }[col]
            preds.append((col, op, lit))
        snap = _resolve(root)
        got = {e["path"] for e in _prune(snap, preds)}
        expected = {e["path"] for e in entries if _keep_entry(e, preds)}
        assert got == expected, preds


def test_tail_overlay_and_checkpoint_roundtrip(big_root):
    root, entries = big_root
    snap = _resolve(root)
    man = snap.files
    # simulate tail-commit replay: remove two base files, shadow one,
    # add one brand-new file
    man.pop("day=d0/part-0000000.parquet", None)
    man.pop("day=d1/part-0000001.parquet", None)
    shadow = dict(entries[2], numRecords=99)
    man[shadow["path"]] = shadow
    new = {
        "path": "day=d5/part-new.parquet",
        "partitionValues": {"day": "d5"},
        "numRecords": 7,
        "_schema_json": SCHEMA_JSON,
        "stats": {"id": {"min": -100, "max": -90}},
    }
    man[new["path"]] = new
    assert len(man) == N - 2 + 1
    assert man[shadow["path"]]["numRecords"] == 99

    live0 = {e["path"]: e for e in entries[3:]}
    live0[shadow["path"]] = shadow
    live0[new["path"]] = new
    got = {e["path"] for e in _prune(snap, [("id", "<", 0)])}
    assert "day=d5/part-new.parquet" in got
    assert got == {
        p for p, e in live0.items() if _keep_entry(e, [("id", "<", 0)])
    }

    # next checkpoint: columnar filter + tail slice, no dict round-trip
    before = man.materialized
    table = man.to_arrow(SCHEMA_JSON, ["day"])
    assert man.materialized == before
    assert table.num_rows == len(man)
    man2 = FileManifest(table)
    assert man2["day=d5/part-new.parquet"]["stats"]["id"]["min"] == -100
    assert man2[shadow["path"]]["numRecords"] == 99
    assert "day=d0/part-0000000.parquet" not in man2
    # pruning over the round-tripped manifest still matches scalar
    live = {e["path"]: e for e in entries[3:]}
    live[shadow["path"]] = shadow
    live[new["path"]] = new
    for preds in PREDICATE_SETS:
        got = {e["path"] for e in _prune(_mk_snap(snap, man2), preds)}
        expected = {
            p for p, e in live.items() if _keep_entry(e, preds)
        }
        assert got == expected, preds


def _mk_snap(snap, files):
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import Snapshot

    return Snapshot(
        snap.root, snap.version, snap.schema_json, snap.properties,
        snap.partition_by, files,
    )


def test_total_records_columnar(big_root):
    root, entries = big_root
    snap = _resolve(root)
    man = snap.files
    assert man.total_records() == sum(e["numRecords"] for e in entries)
    assert man.materialized == 0


def test_v1_checkpoint_degrades_conservatively(tmp_path):
    """A pre-v2 checkpoint (no sidecar columns) still loads; columnar
    skipping keeps everything (never prunes wrongly)."""
    import pyarrow as pa

    import os

    entries = _entries(50)
    root = str(tmp_path / "v1")
    os.makedirs(os.path.join(root, "_txlog"), exist_ok=True)
    cols = {
        "path": [e["path"] for e in entries],
        "partitionValues": [json.dumps(e["partitionValues"]) for e in entries],
        "numRecords": [e["numRecords"] for e in entries],
        "stats": [json.dumps(e["stats"]) for e in entries],
        "schema_json": [e["_schema_json"] for e in entries],
        "bloom": [json.dumps(e.get("bloom") or {}) for e in entries],
    }
    table = pa.table(cols).replace_schema_metadata({
        "version": "0",
        "schema": SCHEMA_JSON,
        "properties": "{}",
        "partition_by": json.dumps(["day"]),
        "txns": json.dumps({}),
    })
    store = LocalFileCommitStore(root)
    store.write_checkpoint(0, checkpoint_to_bytes(table))
    store.write_pointer({"version": 0})
    snap = _resolve(root)
    got = _prune(snap, [("id", ">=", 100), ("name", "=", "v1")])
    scalar = [e for e in entries if _keep_entry(e, [("id", ">=", 100),
                                                   ("name", "=", "v1")])]
    # degraded skipping keeps a superset of the scalar survivors
    assert {e["path"] for e in got} >= {e["path"] for e in scalar}
    assert len(got) == len(entries)  # no sidecars -> keep all


def test_bounds_may_match_semantics():
    # numeric literal vs string bounds: parse (hive partition values)
    assert bounds_may_match("10", "20", "=", 15)
    assert not bounds_may_match("10", "20", "=", 25)
    assert bounds_may_match("x", "y", "=", 15)       # unparseable: keep
    # string literal vs numeric bounds: type mismatch keeps
    assert bounds_may_match(1, 9, "=", "5")
    # either bound missing keeps
    assert bounds_may_match(None, 9, "<", 100)
    assert bounds_may_match(1, None, ">", -100)
    # bool literal unsupported: keep
    assert bounds_may_match(0, 1, "=", True)
    # plain ranges
    assert not bounds_may_match(1, 9, ">", 9)
    assert bounds_may_match(1, 9, ">=", 9)
    assert not bounds_may_match(5, 9, "<", 5)
    assert bounds_may_match(5, 9, "<=", 5)


def test_nan_bounds_and_literals_keep():
    """Spark orders NaN above every value and equal to itself: a NaN
    bound or literal never proves a file empty, in the scalar test and
    in the columnar one over float64 stats."""
    import numpy as np
    import pyarrow as pa

    from real_time_video_streaming_analytics_lakehouse_spark.operators.manifest import (
        _bounds_mask,
    )

    nan = float("nan")
    assert bounds_may_match(1.0, nan, ">", 5)
    assert bounds_may_match(nan, nan, ">=", 5)
    assert bounds_may_match("1.0", "NaN", ">", 5)
    assert bounds_may_match(1.0, 2.0, "=", nan)
    assert not bounds_may_match(1.0, 2.0, ">", 5)
    table = pa.table({"min:d": pa.array([1.0, 1.0, nan], pa.float64()),
                      "max:d": pa.array([nan, 2.0, nan], pa.float64())})
    assert _bounds_mask(table, "d", ">", 5).tolist() == [True, False, True]
    assert np.all(_bounds_mask(table, "d", "=", nan))


def test_unescape_partition_value():
    assert unescape_partition_value("a%3Ab") == "a:b"
    assert unescape_partition_value("a%2Fb") == "a/b"
    assert unescape_partition_value("100%25") == "100%"
    assert unescape_partition_value("%zz%4") == "%zz%4"
    assert unescape_partition_value("é") == "é"


def test_bigint_bounds_beyond_float53_do_not_false_prune(tmp_path):
    """Round-8 advice (medium): string bounds (hive partition values)
    parsed with float() round past 2**53 — an exact int literal then
    falsely pruned a file containing matching rows. Scalar parsing is
    now int-exact; the columnar path keeps such files (conservative,
    never less conservative than scalar)."""
    big = 9007199254740993  # 2**53 + 1; float(big) == 2**53 != big
    assert bounds_may_match(str(big), str(big), "=", big)
    assert not bounds_may_match(str(big), str(big), "=", big - 1)
    assert bounds_may_match(str(big - 2), str(big), ">", big - 1)

    entries = [
        {
            "path": f"pid={v}/part-0.parquet",
            "partitionValues": {"pid": str(v)},
            "numRecords": 1,
            "_schema_json": SCHEMA_JSON,
        }
        for v in (big, big - 1, 12345)
    ]
    root = str(tmp_path / "t")
    import os

    os.makedirs(os.path.join(root, "_txlog"), exist_ok=True)
    table = entries_to_arrow(entries, SCHEMA_JSON, ["pid"])
    table = table.replace_schema_metadata({
        "version": "0",
        "schema": SCHEMA_JSON,
        "properties": json.dumps({}),
        "partition_by": json.dumps(["pid"]),
        "txns": json.dumps({}),
    })
    store = LocalFileCommitStore(root)
    store.write_checkpoint(0, checkpoint_to_bytes(table))
    store.write_pointer({"version": 0})

    snap = _resolve(root)
    got = {e["path"] for e in _prune(snap, [("pid", "=", big)])}
    # the matching file always survives; the columnar evaluator may
    # conservatively keep its float-indistinguishable sibling
    assert f"pid={big}/part-0.parquet" in got
    assert "pid=12345/part-0.parquet" not in got
    scalar = {
        e["path"] for e in entries if _keep_entry(e, [("pid", "=", big)])
    }
    assert got >= scalar and f"pid={big - 1}/part-0.parquet" not in scalar


def test_int_bounds_beyond_float64_range_keep_not_crash(tmp_path):
    """Round-9 advice (low): an integer partition value past float64
    RANGE (~1e308; think a 400-digit key) made the columnar parser's
    float(v) raise OverflowError and crash planning. Both evaluators
    must treat the bound as unusable (keep the file) instead."""
    huge = 10 ** 400
    # scalar path: exact int compare, no crash
    assert bounds_may_match(str(huge), str(huge), "=", huge)
    assert not bounds_may_match(str(huge), str(huge), "=", huge - 1)

    entries = [
        {
            "path": f"pid={v}/part-0.parquet",
            "partitionValues": {"pid": str(v)},
            "numRecords": 1,
            "_schema_json": SCHEMA_JSON,
        }
        for v in (huge, 12345)
    ]
    root = str(tmp_path / "t")
    import os

    os.makedirs(os.path.join(root, "_txlog"), exist_ok=True)
    table = entries_to_arrow(entries, SCHEMA_JSON, ["pid"])
    table = table.replace_schema_metadata({
        "version": "0",
        "schema": SCHEMA_JSON,
        "properties": json.dumps({}),
        "partition_by": json.dumps(["pid"]),
        "txns": json.dumps({}),
    })
    store = LocalFileCommitStore(root)
    store.write_checkpoint(0, checkpoint_to_bytes(table))
    store.write_pointer({"version": 0})

    snap = _resolve(root)
    # columnar planning survives; the overflow-bound file is KEPT
    # (conservative), the comparable one is pruned normally
    got = {e["path"] for e in _prune(snap, [("pid", "=", 99999)])}
    assert f"pid={huge}/part-0.parquet" in got
    assert "pid=12345/part-0.parquet" not in got


def test_odd_hex_width_bloom_checkpoints(tmp_path):
    """Round-8 advice (low): bloom.bits whose hex width (bits+3)//4 is
    odd (e.g. 1012) crashed bytes.fromhex at checkpoint-write time.
    The mask is now left-padded; probes agree with the scalar path."""
    bits, k = 1012, 3
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import (
        _bloom_positions_py as pos,
    )

    def bloom_for(values):
        mask = 0
        for v in values:
            for p in pos(v, k, bits):
                mask |= 1 << p
        return {"k": k, "bits": bits,
                "mask": format(mask, f"0{(bits + 3) // 4}x")}

    entries = []
    for i in range(50):
        entries.append({
            "path": f"part-{i:04d}.parquet",
            "partitionValues": {},
            "numRecords": 2,
            "_schema_json": SCHEMA_JSON,
            "bloom": {"name": bloom_for([f"v{i}", f"w{i}"])},
        })
    table = entries_to_arrow(entries, SCHEMA_JSON, [])  # no crash
    root = str(tmp_path / "t")
    import os

    os.makedirs(os.path.join(root, "_txlog"), exist_ok=True)
    table = table.replace_schema_metadata({
        "version": "0",
        "schema": SCHEMA_JSON,
        "properties": json.dumps(
            {"bloom.columns": "name", "bloom.bits": bits,
             "bloom.hashes": k}
        ),
        "partition_by": json.dumps([]),
        "txns": json.dumps({}),
    })
    store = LocalFileCommitStore(root)
    store.write_checkpoint(0, checkpoint_to_bytes(table))
    store.write_pointer({"version": 0})
    snap = _resolve(root)
    for lit in ["v7", "w33", "nowhere"]:
        got = {e["path"] for e in _prune(snap, [("name", "=", lit)])}
        scalar = {
            e["path"] for e in entries
            if _keep_entry(e, [("name", "=", lit)])
        }
        assert got == scalar
    assert {e["path"] for e in _prune(snap, [("name", "=", "v7")])} == {
        "part-0007.parquet"
    }
