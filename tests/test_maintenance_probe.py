"""CI wrapper for the maintenance-plane probe's regression gates
(tools/maintenance_probe.py, round 9).

The probe's tiers at {20k, 100k} files are wall-clock evidence runs;
this test runs the SAME code at the 1k tier so the suite permanently
pins the three gates on a table with real (hard-linked) files, real
deletion-vector bundles, and an engine-layout checkpoint:

* snapshot resolve materializes ZERO manifest entries;
* columnar prune materializes survivors only;
* the DV-applying read returns the exact expected row count
  (n_files × rows − dv'd files × positions).
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from maintenance_probe import (  # noqa: E402
    build_synthetic_table,
    probe_tier,
)

N = 1000


def test_probe_gates_hold_at_1k_files(spark, tmp_path):
    root = str(tmp_path / "probe")
    build_synthetic_table(root, N)
    # probe_tier asserts the three gates internally; a violation is a
    # test failure with the gate named
    out = probe_tier(spark, root, N, runs=1)
    assert out["n_files"] == N
    assert out["prune_survivors"] == N // 100
    for k in ("resolve_s", "prune_s", "dv_read_construct_s",
              "dv_read_exec_s"):
        assert out[k] >= 0


def test_scale_probe_x3_tier_stamp_invalidates_stale_cache(tmp_path,
                                                           monkeypatch):
    """Round-9 advice: the x3 tier's _READY flag must carry a layout
    stamp (keys map, offset, perturbation version) so a cached /tmp
    tier built by an older probe version is rebuilt, not silently
    reused against the current arithmetic."""
    import scale_probe

    out = tmp_path / "x3"
    out.mkdir()
    (out / "stale.parquet").write_text("old tier artifact")

    class _Rebuilt(Exception):
        pass

    def _boom(*a, **k):
        raise _Rebuilt

    monkeypatch.setattr(
        "real_time_video_streaming_analytics_lakehouse_spark.sources.readers.load_table",
        _boom,
    )

    # pre-stamp "ok" flag (rounds <= 9 format) -> stale, must rebuild
    (out / "_READY").write_text("ok\n")
    try:
        scale_probe._materialize_tier(None, "unused", str(out), copies=3)
        raise AssertionError("stale tier was reused instead of rebuilt")
    except _Rebuilt:
        pass
    # rebuild path cleared the stale artifacts before building
    assert not (out / "stale.parquet").exists()

    # current stamp -> reused without touching Spark or the builder
    out.mkdir(exist_ok=True)
    (out / "_READY").write_text(scale_probe._tier_stamp(3) + "\n")
    assert scale_probe._materialize_tier(
        None, "unused", str(out), copies=3
    ) == str(out)

    # any parameter drift (stamp text differs) -> rebuild again
    (out / "_READY").write_text(
        scale_probe._tier_stamp(3).replace('"offset"', '"off"') + "\n"
    )
    try:
        scale_probe._materialize_tier(None, "unused", str(out), copies=3)
        raise AssertionError("drifted tier was reused instead of rebuilt")
    except _Rebuilt:
        pass


def test_scale_probe_out_merge_is_per_query_deep(tmp_path):
    """Round-11 fix (ADVICE r10): the documented two-step workflow —
    full-catalog x3 run, then --copies 10 on the heavy subset into the
    SAME --out file — must keep the first run's per-query x3 keys
    under the second run's x10 keys (and vice versa), union the sfs,
    keep prior flags only for queries the new run did not re-measure,
    and still preserve sections other probes own."""
    import scale_probe

    prior = {
        "metric": "decade_growth_ratio",
        "sfs": ["0.001", "0.01", "0.1", "0.3(synthetic 3x)"],
        "queries": {
            "q_light": {"0.1": 0.5, "0.3": 1.0, "x3_ratio": 2.0,
                        "jobs_x3": 4},
            "q_heavy": {"0.1": 2.0, "0.3": 5.0, "x3_ratio": 2.5,
                        "jobs_x3": 9},
        },
        "flagged_superlinear": ["q_light", "q_heavy"],
        "flagged_job_growth": [],
        "maintenance": {"other_probe_section": True},
    }
    # second invocation: x10 tier over ONLY q_heavy
    out = {
        "metric": "decade_growth_ratio",
        "sfs": ["0.001", "0.01", "0.1", "1.0(synthetic 10x)"],
        "queries": {
            "q_heavy": {"0.1": 2.1, "1.0": 21.0, "x10_ratio": 10.0,
                        "jobs_x10": 9},
        },
        "flagged_superlinear": [],
        "flagged_job_growth": [],
    }
    scale_probe._merge_prior(out, prior, names=["q_heavy"])

    # q_light survives wholesale; q_heavy keeps BOTH tiers' keys with
    # the new run winning re-measured keys
    assert out["queries"]["q_light"]["x3_ratio"] == 2.0
    q = out["queries"]["q_heavy"]
    assert q["x3_ratio"] == 2.5 and q["x10_ratio"] == 10.0
    assert q["0.3"] == 5.0 and q["1.0"] == 21.0
    assert q["0.1"] == 2.1  # re-measured key: new value wins
    # sfs union keeps every tier label once
    assert set(out["sfs"]) == {"0.001", "0.01", "0.1",
                               "0.3(synthetic 3x)", "1.0(synthetic 10x)"}
    assert len(out["sfs"]) == len(set(out["sfs"]))
    # tier-ordered by numeric prefix (ADVICE r11): a later x10-only run
    # must not list its tier before the prior x3 one
    assert out["sfs"] == ["0.001", "0.01", "0.1",
                          "0.3(synthetic 3x)", "1.0(synthetic 10x)"]
    # q_heavy was re-measured clean -> its stale flag is dropped;
    # q_light was not re-measured -> its flag persists
    assert out["flagged_superlinear"] == ["q_light"]
    # foreign sections survive
    assert out["maintenance"] == {"other_probe_section": True}


def test_scale_probe_group_work_attributes_one_job_group(monkeypatch):
    """The probes' task time is the work of one Spark job group: other
    groups' and ungrouped jobs stay out, a stage two of the group's jobs
    share counts once, and skipped stages count for nothing."""
    import scale_probe

    jobs = [
        {"jobId": 1, "jobGroup": "g", "stageIds": [10, 11]},
        {"jobId": 2, "jobGroup": "g", "stageIds": [11, 12]},
        {"jobId": 3, "jobGroup": "other", "stageIds": [13]},
        {"jobId": 4, "stageIds": [14]},
    ]

    def stage(sid, run_ms, status="COMPLETE"):
        return {"stageId": sid, "status": status,
                "executorRunTime": run_ms, "numTasks": 2}

    stages = {10: [stage(10, 1000)], 11: [stage(11, 500)],
              12: [stage(12, 9000, "SKIPPED")], 13: [stage(13, 7000)],
              14: [stage(14, 7000)]}

    class _FakeRest:
        def __init__(self, spark):
            pass

        def jobs_and_stages(self):
            return jobs, stages

    monkeypatch.setattr(scale_probe, "SparkRest", _FakeRest)
    tot, attempts = scale_probe.group_work(None, "g")
    assert tot["jobs"] == 2
    assert tot["stages"] == 2
    assert tot["task_s"] == 1.5
    assert tot["tasks"] == 4
    assert [a["stageId"] for a in attempts] == [10, 11]
