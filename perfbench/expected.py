"""Rewrite ``expected.json`` from the DuckDB oracle.

Builds the corpus, runs each catalog workload query's oracle SQL over it
in DuckDB (an engine independent of the program under test) and stores
the fingerprints. Run it when the corpus generator or a workload's query
list changes::

    python3 perfbench/expected.py
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import corpus  # noqa: E402
from catalog_work import WORKLOADS  # noqa: E402

from real_time_video_streaming_analytics_lakehouse_spark.plans import (  # noqa: E402
    CATALOG,
)
from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import (  # noqa: E402
    TABLES,
)


def main() -> None:
    tables_dir = corpus.ensure(os.path.join(os.path.dirname(HERE),
                                            ".bench_work", "corpus"))
    out: dict = {"corpus": corpus.stamp()}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    for workload, names in WORKLOADS.items():
        fps = {}
        for name in names:
            cur = con.execute(CATALOG[name].oracle)
            cols = [d[0] for d in cur.description]
            fps[name] = checks.fingerprint(cur.fetchall(), cols)
        out[workload] = fps
    con.close()
    with open(checks.EXPECTED_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
