"""``tools/stream_jobs.py``: the MERGE route of each streaming batch,
read from the commit log alone."""

from __future__ import annotations

import sys
from pathlib import Path

from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import (
    _publish_commit,
)

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from stream_jobs import merge_routes  # noqa: E402


def test_merge_routes_from_the_commit_log(tmp_path):
    """Each ``txnVersion`` of the app gets the route of the commit that
    carries it: an append onto a table with no live file is a fileless
    append, one onto live files a pure append, a commit that removes
    files a rewrite. Another app's commits and other operations are not
    listed, but their files count as live."""
    root = str(tmp_path / "t")

    def commit(v, add, remove=(), op="MERGE", app="sink", txn=None):
        params = {} if txn is None else {"txnAppId": app, "txnVersion": txn}
        _publish_commit(root, v, {
            "version": v, "timestamp_ms": v, "operation": op,
            "operationParameters": params,
            "add": [{"path": p} for p in add], "remove": list(remove)})

    commit(0, [], op="CREATE TABLE")
    commit(1, ["a", "b"], txn=0)
    commit(2, ["c"], txn=2)
    commit(3, ["d", "e"], remove=["a"], txn=3)
    commit(4, ["f"], remove=["b", "c", "d", "e"], op="DELETE")
    commit(5, ["g"], app="other", txn=9)
    commit(6, ["h"], txn=4)
    assert merge_routes(root, "sink") == {
        0: ("fileless append", 2, 0),
        2: ("pure append", 1, 0),
        3: ("rewrite", 2, 1),
        4: ("pure append", 1, 0),
    }
