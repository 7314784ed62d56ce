"""Maintenance-plane wall-clock probe (round-9; r7/r8 brief item #3).

The structural laziness pins in ``tests/test_manifest.py`` prove a
20k-file snapshot resolves with ZERO materialized entries — this probe
adds the missing WALL-CLOCK evidence at {1k, 20k, 100k} files for the
three driver-plane operations that gate every read at scale:

* **snapshot resolve** — checkpoint → ``FileManifest`` (must be
  ~O(bytes of the columnar base), never O(n) Python dicts);
* **columnar prune** — a selective stats predicate over the manifest
  (materializes survivors only);
* **DV-applying read** — plan construction (per-entry existence
  checks + the bundle anti-join assembly) AND a full execution
  ``count()`` with 10% of files carrying deletion vectors.

Synthetic tables: one real 10-row parquet file hard-linked to n paths
(creating n genuine files in ~O(n) linker time instead of n Spark
writes), one shared DV bundle holding 2 deleted positions for every
10th file, and a v0 checkpoint written through the same
``entries_to_arrow``/``checkpoint_to_bytes`` layout the engine writes.
Per-entry id stats are synthesized for prune selectivity (~1%
survivors); contents are timing ballast, not a correctness oracle —
correctness is the txlog/DV test matrix's job. The probe IS the
regression gate: it exits non-zero if resolve materializes any entry,
if pruning materializes more than the survivors, or if the DV read
returns the wrong row count.

Usage::

    python tools/maintenance_probe.py [--tiers 1000,20000,100000]
        [--out FILE] [--merge-into SCALING.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_video_streaming_analytics_lakehouse_spark.operators.commitstore import (
    LocalFileCommitStore,
    checkpoint_to_bytes,
)
from real_time_video_streaming_analytics_lakehouse_spark.operators.manifest import (
    entries_to_arrow,
)
from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import (
    TxTable,
    _prune,
    _resolve,
)

SCHEMA_JSON = json.dumps({
    "type": "struct",
    "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "double", "nullable": True, "metadata": {}},
        {"name": "day", "type": "string", "nullable": True, "metadata": {}},
    ],
})

ROWS_PER_FILE = 10
DV_EVERY = 10          # every 10th file carries a deletion vector
DV_ROWS_PER_FILE = 2   # positions deleted per DV'd file


def build_synthetic_table(root: str, n_files: int) -> None:
    """n_files real (hard-linked) data files + one shared DV bundle +
    a v0 checkpoint, in the engine's own on-disk layout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(root, "_txlog"), exist_ok=True)
    base = pa.table({
        "id": pa.array(range(ROWS_PER_FILE), pa.int64()),
        "v": pa.array([float(i) / 7 for i in range(ROWS_PER_FILE)]),
    })
    # one seed PER DAY DIRECTORY: filesystems cap hardlinks per inode
    # (ext4: 65000), so 100k links to one seed is an OSError
    seeds = {}
    for d in range(10):
        day_dir = os.path.join(root, f"day=d{d}")
        os.makedirs(day_dir, exist_ok=True)
        seeds[d] = os.path.join(day_dir, "_seed.parquet")
        pq.write_table(base, seeds[d])

    entries: list[dict] = []
    dv_files: list[str] = []
    dv_rel = "_deletion_vectors/dv-0000000000-probe"
    for i in range(n_files):
        day = f"d{i % 10}"
        rel = f"day={day}/part-{i:07d}.parquet"
        dst = os.path.join(root, rel)
        os.link(seeds[i % 10], dst)
        e = {
            "path": rel,
            "partitionValues": {"day": day},
            "numRecords": ROWS_PER_FILE,
            "_schema_json": SCHEMA_JSON,
            "stats": {"id": {"min": i * 10, "max": i * 10 + 9}},
        }
        if i % DV_EVERY == 0:
            e["dv"] = {"path": dv_rel, "cardinality": DV_ROWS_PER_FILE}
            dv_files.append(rel)
        entries.append(e)

    bundle_dir = os.path.join(root, dv_rel)
    os.makedirs(bundle_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "file": pa.array(
                [f for f in dv_files for _ in range(DV_ROWS_PER_FILE)]
            ),
            "row_index": pa.array(
                [p for _ in dv_files for p in range(DV_ROWS_PER_FILE)],
                pa.int64(),
            ),
        }),
        os.path.join(bundle_dir, "part-00000.parquet"),
    )

    table = entries_to_arrow(entries, SCHEMA_JSON, ["day"])
    table = table.replace_schema_metadata({
        "version": "0",
        "schema": SCHEMA_JSON,
        "properties": json.dumps({}),
        "partition_by": json.dumps(["day"]),
        "txns": json.dumps({}),
    })
    store = LocalFileCommitStore(root)
    store.write_checkpoint(0, checkpoint_to_bytes(table))
    store.write_pointer({"version": 0})
    with open(os.path.join(root, "_PROBE_READY"), "w") as f:
        f.write(_build_stamp() + "\n")


def _build_stamp() -> str:
    """Identifies the builder's parameters/layout — a cached /tmp tier
    from an OLDER probe version (different row counts, DV layout, or
    schema) must be rebuilt, not silently reused against the current
    `want` arithmetic."""
    return json.dumps({
        "rows_per_file": ROWS_PER_FILE,
        "dv_every": DV_EVERY,
        "dv_rows_per_file": DV_ROWS_PER_FILE,
        "schema": SCHEMA_JSON,
        "layout": 2,  # bump when the on-disk construction changes
    }, sort_keys=True)


def probe_tier(spark, root: str, n_files: int, runs: int = 3) -> dict:
    """Measured seconds for one tier; raises AssertionError on any
    laziness/correctness gate violation."""
    out: dict = {"n_files": n_files}

    resolve_s = []
    for _ in range(runs):
        t0 = time.perf_counter()
        snap = _resolve(root)
        resolve_s.append(time.perf_counter() - t0)
        assert len(snap.files) == n_files
        # THE regression gate: resolve + sizing materializes nothing
        assert snap.files.materialized == 0, (
            f"resolve materialized {snap.files.materialized} entries"
        )
    out["resolve_s"] = round(min(resolve_s), 4)

    cut = (n_files - max(n_files // 100, 1)) * 10
    prune_s = []
    for _ in range(runs):
        snap = _resolve(root)
        t0 = time.perf_counter()
        kept = _prune(snap, [("id", ">=", cut)])
        prune_s.append(time.perf_counter() - t0)
        assert snap.files.materialized == len(kept), (
            "prune materialized non-survivors"
        )
    out["prune_s"] = round(min(prune_s), 4)
    out["prune_survivors"] = len(kept)

    construct_s, exec_s = [], []
    for _ in range(runs):
        t = TxTable(spark, root)
        t0 = time.perf_counter()
        df = t.read()
        construct_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        got = df.count()
        exec_s.append(time.perf_counter() - t0)
        want = n_files * ROWS_PER_FILE - (
            ((n_files + DV_EVERY - 1) // DV_EVERY) * DV_ROWS_PER_FILE
        )
        assert got == want, f"DV read returned {got}, want {want}"
    out["dv_read_construct_s"] = round(min(construct_s), 4)
    out["dv_read_exec_s"] = round(min(exec_s), 4)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tiers", default="1000,20000,100000")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--merge-into", default=None,
        help="also write the result under 'maintenance_plane' in this "
             "existing JSON file",
    )
    args = ap.parse_args()

    from real_time_video_streaming_analytics_lakehouse_spark.session import get_spark

    spark = get_spark("maintenance_probe")
    spark.sparkContext.setLogLevel("ERROR")

    tiers = [int(x) for x in args.tiers.split(",")]
    results = []
    for n in tiers:
        root = f"/tmp/spark_graft_maintprobe_{n}"
        ready = os.path.join(root, "_PROBE_READY")
        try:
            with open(ready) as f:
                reusable = f.read().strip() == _build_stamp()
        except OSError:
            reusable = False
        if not reusable:
            # a crashed partial build, or a tier built by an older
            # probe version, must not masquerade as a current table
            shutil.rmtree(root, ignore_errors=True)
            build_synthetic_table(root, n)
        r = probe_tier(spark, root, n, runs=args.runs)
        print(json.dumps({"tier_done": r}), file=sys.stderr, flush=True)
        results.append(r)

    report = {
        "metric": "maintenance_plane_seconds",
        "runs": args.runs,
        "rows_per_file": ROWS_PER_FILE,
        "dv_every": DV_EVERY,
        "tiers": results,
    }
    text = json.dumps(report)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    if args.merge_into:
        with open(args.merge_into) as f:
            existing = json.load(f)
        existing["maintenance_plane"] = report
        with open(args.merge_into, "w") as f:
            f.write(json.dumps(existing) + "\n")
    print(text)


if __name__ == "__main__":
    main()
