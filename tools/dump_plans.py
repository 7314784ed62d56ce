"""Dump ``explain("formatted")`` for every catalog query to a directory.

A plan claim is backed by committed plan text: before/after plans are
saved as ``<out_dir>/<query>_<tag>.txt`` files (``history/plans/r16``
and ``history/plans/r17`` hold earlier ones).

Usage: python tools/dump_plans.py <out_dir> <tag> [query ...]
       (no query args = all catalog queries)

The plan string is captured via ``_sc._jvm`` explainString on the
query's execution — identical to ``df.explain("formatted")`` output —
at the bench's scale factor dir (``$SPARK_GRAFT_SF_DIR``, default
sf0.1) so PushedFilters/statistics match what the bench executes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")

from real_time_video_streaming_analytics_lakehouse_spark.plans import CATALOG
from real_time_video_streaming_analytics_lakehouse_spark.session import get_spark


def plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    out_dir = sys.argv[1]
    tag = sys.argv[2]
    names = sys.argv[3:] or sorted(CATALOG)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = CATALOG[name].fn(spark, sf_dir)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan_text(df))
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
