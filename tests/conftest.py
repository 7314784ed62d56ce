from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from real_time_video_streaming_analytics_lakehouse_spark.plans import CATALOG
from real_time_video_streaming_analytics_lakehouse_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def catalog_frame(spark):
    """``catalog_frame(name)``: catalog entry ``name`` at ``SF_DIR``,
    collected with ``toPandas()``, the path the correctness checks
    grade. Each entry runs once per session, however many tests check
    its result."""
    frames = {}

    def frame(name: str):
        if name not in frames:
            frames[name] = CATALOG[name].fn(spark, SF_DIR).toPandas()
        return frames[name]

    return frame


def _marker_job(spark) -> int:
    """Id of a one-job marker query."""
    sc = spark.sparkContext
    sc.setJobGroup("job-count-marker", "job count marker")
    try:
        spark.range(1).collect()
    finally:
        sc.setJobGroup("", "")
    return max(sc.statusTracker().getJobIdsForGroup("job-count-marker"))


def count_jobs(spark, fn):
    """``(jobs, fn())``: the number of Spark jobs ``fn`` runs. Job ids
    are sequential, so the jobs between two marker jobs are all of them,
    also those PySpark runs outside the caller's job group (its
    ``toArrow`` job, for one), which a count by job group would miss."""
    before = _marker_job(spark)
    out = fn()
    return _marker_job(spark) - before - 1, out


def job_stage_tasks(spark, fn):
    """``(stages, fn())``: per job ``fn`` runs, in job order, the task
    counts of the stages that job ran, in stage order (a skipped stage
    is left out), read from the status tracker once the listener bus
    has caught up."""
    sc = spark.sparkContext
    before = _marker_job(spark)
    out = fn()
    after = _marker_job(spark)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stages = []
    for job in range(before + 1, after):
        infos = map(tracker.getStageInfo,
                    sorted(tracker.getJobInfo(job).stageIds))
        stages.append([s.numCompletedTasks for s in infos
                       if s and s.numCompletedTasks])
    return stages, out


def job_tasks(spark, fn):
    """``(tasks, fn())``: per job ``fn`` runs, in job order, the tasks of
    the stages that job ran (:func:`job_stage_tasks`, summed)."""
    stages, out = job_stage_tasks(spark, fn)
    return [sum(s) for s in stages], out
