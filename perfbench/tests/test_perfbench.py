"""The benchmark's own tests (``python3 -m pytest perfbench/tests -q``).

They start Spark and run the benchmark end to end, so they take a few
minutes; the repository's test suite does not collect them.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import checks  # noqa: E402
import corpus  # noqa: E402
import run  # noqa: E402
import stream_work  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def spark():
    run._environment()
    from real_time_video_streaming_analytics_lakehouse_spark.session import (
        get_spark,
    )

    s = get_spark("perfbench-tests", master=run.MASTER)
    yield s
    run._stop(s)


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_named_metric_is_present_with_its_unit(workload, trace,
                                                     tmp_path):
    spec = _spec()
    # from another directory: the benchmark finds its checkout itself
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "2", "--trace", str(trace)],
        cwd=tmp_path, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


def test_corrupted_query_output_is_counted_as_failed(spark, tmp_path):
    from catalog_work import CatalogWorkload
    from layers import Tracer

    tables = corpus.ensure(str(tmp_path / "corpus"))
    expected = dict(checks.load_expected()["catalog_sf0.1"])
    expected["dim_time_generate"] = dict(expected["dim_time_generate"],
                                         hash="0" * 16)
    wl = CatalogWorkload("catalog_sf0.1", tables, expected, Tracer(False))
    wl.check(spark, ["dim_time_generate", "churn_risk"])
    assert wl.attempted == 2
    assert len(wl.failed) == 1 and "dim_time_generate" in wl.failed[0]
    assert len(wl.failed) / wl.attempted > 0


def test_generator_seed_reproduces_the_event_set():
    a = stream_work.plan_events(7, 5)
    assert a == stream_work.plan_events(7, 5)
    assert a != stream_work.plan_events(8, 5)
    rows = [e for f in a for e in f]
    ids = [e[0] for e in rows]
    assert len(a) == int(5 / stream_work.FILE_INTERVAL_S)
    # redeliveries repeat an id with a later timestamp
    assert len(set(ids)) < len(ids)
    first = {}
    for e in rows:
        if e[0] in first:
            assert e[1] > first[e[0]][1] and e[2:] == first[e[0]][2:]
        else:
            first[e[0]] = e


def test_corpus_is_a_function_of_its_seed():
    a, b = corpus.base_tables(), corpus.base_tables()
    assert all(a[t].equals(b[t]) for t in a)
