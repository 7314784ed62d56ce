"""Output fingerprints: a row count plus the order-insensitive hash of
``tools/check_correctness.table_hash``.

``expected.json`` holds the fingerprint of every query the catalog
workloads run, computed by the DuckDB oracle SQL over the benchmark's own
corpus (``python3 perfbench/expected.py`` rewrites it).
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))

from check_correctness import table_hash  # noqa: E402


def fingerprint(rows, cols: list[str]) -> dict:
    rows = list(rows)
    return {"rows": len(rows), "hash": table_hash(rows, cols)}


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)
