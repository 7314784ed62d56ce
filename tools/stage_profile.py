"""Per-stage task-time attribution for one catalog query (guide §1.1,
§7.1): run the query to the noop sink N times and dump every stage's
executorRunTime / shuffle bytes / task count from the status REST API,
sorted by run time — the empirical loop's "which stage is slow" answer
when no interactive UI is available.

Usage: python tools/stage_profile.py <query> [runs=2] [sf_dir]

Prints the wall, executor task seconds and stage count of every run,
then one line per stage of the LAST run (warm steady state). Each run
drains in its own Spark job group (``scale_probe.drain_in_group``), and
its stages are those of the group's jobs, including jobs started from
thread pools.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scale_probe import drain_in_group, group_work  # noqa: E402

from real_time_video_streaming_analytics_lakehouse_spark.plans import (  # noqa: E402
    CATALOG,
)
from real_time_video_streaming_analytics_lakehouse_spark.session import (  # noqa: E402
    get_spark,
)


def main() -> int:
    name = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = (
        sys.argv[3]
        if len(sys.argv) > 3
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    os.environ.setdefault("SPARK_GRAFT_UI", "true")
    spark = get_spark("stage-profile")
    spark.sparkContext.setLogLevel("ERROR")
    fn = CATALOG[name].fn
    for i in range(runs):
        wall, group = drain_in_group(
            spark, lambda: fn(spark, sf_dir), f"{name} run {i}"
        )
        tot, last_stages = group_work(spark, group)
        print(
            f"run {i}: wall {wall} s, task {tot['task_s']:.2f} s, "
            f"{len(last_stages)} stages"
        )
    print(f"\n--- per-stage, last run (wall {wall} s) ---")
    for s in sorted(
        last_stages, key=lambda s: -s["executorRunTime"]
    ):
        if s["executorRunTime"] < 20:
            continue
        nm = s["name"].split("\n")[0][:72]
        print(
            f"{s['executorRunTime']/1e3:8.2f}s run "
            f"{s.get('executorCpuTime', 0)/1e9:7.2f}s cpu "
            f"{s['numCompleteTasks']:4d} tasks "
            f"in {s['inputBytes']>>20:5d}MB "
            f"sh-r {s['shuffleReadBytes']>>20:4d}MB "
            f"sh-w {s['shuffleWriteBytes']>>20:4d}MB  {nm}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
