"""Per-drain Spark jobs of one ``stream_ingest`` run.

Runs one seed of the benchmark's ``stream_ingest`` workload through
perfbench's own :class:`StreamWorkload` (same session settings, warm
tick, generator and drains as ``perfbench/run.py``), then lists every
job each drain submitted, read from the Spark status REST API::

    t1.silver  job   11  tasks   3 = 1+1+1  s 0.02+0.01+0.31  batch 1: call at ...

Jobs are grouped by their drain tag (``<tick>.<drain>``, e.g.
``t1.bronze``); a job's tasks are those of its stages that ran (skipped
stages and stages another job ran first do not count), the rule
perfbench's ``tasks_per_op`` uses. After the ``=`` come the task counts
of those stages in stage order, so a change that resizes one layer (a
scan, a shuffle, a write) shows which stage moved, then each stage's
executor run time in seconds. Then, per micro-batch of the drain, the
bytes the streaming MERGE sink sized it by and where they came from
(``micro_batch_bytes``: Catalyst, the offset log, or unsized), and its
state operators' rows, bytes and state-store cache hits and misses from
the query progress, and the route its MERGE took (``fileless append``,
``pure append``, ``rewrite`` or ``no commit``) with the files its commit
added and removed, read from the commit that carries the batch's
``txnVersion``. The last line per drain is its total. Jobs of the
set-up and the warm tick are left out.
Then it runs perfbench's output checks on the tables (bronze against the
generated events, silver against a batch recomputation, no row dropped
by the watermark); if a tick or a check failed, it prints the failures
and exits with status 1.

Usage::

    python3 tools/stream_jobs.py [--seed 1] [--seconds 10]

It reads ``perfbench/`` and never edits it; everything it writes goes to
``.bench_work/stream_jobs/`` in the checkout.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import run as perfbench_run  # noqa: E402


def stage_split(jobs: list[dict], stages: dict[int, list[dict]]
                ) -> dict[int, list[tuple[int, float]]]:
    """Per job id, ``(tasks, executor run seconds)`` of the stages it
    ran, in stage order: a stage another job claimed first, or one the
    job skipped, is left out (``layers.attribute``'s rule, so the counts
    sum to its tasks)."""
    out: dict[int, list[tuple[int, float]]] = {}
    seen: set[int] = set()
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        parts = out.setdefault(job["jobId"], [])
        for sid in sorted(job.get("stageIds", [])):
            if sid in seen:
                continue
            seen.add(sid)
            parts += [(int(a.get("numTasks", 0)),
                       a.get("executorRunTime", 0) / 1e3)
                      for a in stages.get(sid, [])
                      if a.get("status") != "SKIPPED"]
    return out


def state_line(progress) -> str:
    """A micro-batch's state operators from its query progress: rows,
    bytes of the current version and in memory, and state-store cache
    hits and misses (a miss reloads a partition's state from the
    checkpoint files)."""
    parts = []
    for op in progress.stateOperators:
        m = op.customMetrics
        parts.append(f"{op.operatorName} {op.numRowsTotal} rows "
                     f"{m.get('stateOnCurrentVersionSizeBytes', 0)} B "
                     f"({op.memoryUsedBytes} B in memory), cache "
                     f"{m.get('loadedMapCacheHitCount', 0)} hit "
                     f"{m.get('loadedMapCacheMissCount', 0)} miss")
    return "; ".join(parts)


def merge_routes(root: str, app_id: str) -> dict[int, tuple[str, int, int]]:
    """Per ``txnVersion`` that ``app_id`` committed to the table at
    ``root``: the route of its MERGE and the files its commit added and
    removed, read from the commit log on the driver. A commit that
    removes files is a rewrite; one that only adds is a pure append, or
    a fileless append when the table had no live file before it."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import (
        _list_versions,
        _read_commit,
    )

    out: dict[int, tuple[str, int, int]] = {}
    live: set[str] = set()
    for v in _list_versions(root):
        c = _read_commit(root, v)
        p = c.get("operationParameters", {})
        if c.get("operation") == "MERGE" and p.get("txnAppId") == app_id:
            route = ("rewrite" if c["remove"] else
                     "pure append" if live else "fileless append")
            out[int(p["txnVersion"])] = (route, len(c["add"]),
                                         len(c["remove"]))
        live.difference_update(c.get("remove", []))
        live.update(a["path"] for a in c.get("add", []))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args(argv)
    perfbench_run._environment()

    from layers import SparkRest, Tracer, tag_of, tagged
    from stream_work import StreamWorkload

    from real_time_video_streaming_analytics_lakehouse_spark.session import (
        get_spark,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.streaming import (
        pipelines,
    )

    # (drain, batch id) -> what the sink's own micro_batch_bytes returned
    sizes: dict[tuple[str, int], tuple[int | None, str]] = {}
    sink_bytes = pipelines.micro_batch_bytes

    def record(batch_df, checkpoint_path, batch_id):
        out = sink_bytes(batch_df, checkpoint_path, batch_id)
        drain = os.path.basename(checkpoint_path).removeprefix("ckpt_")
        sizes[drain, batch_id] = out
        return out

    spark = get_spark("stream_jobs", master=perfbench_run.MASTER)
    try:
        with tagged(spark, "setup"):
            perfbench_run.warm_up(spark)
        rest = SparkRest(spark)
        wl = StreamWorkload(
            os.path.join(perfbench_run.WORK, "stream_jobs"), Tracer(False))
        wl.prepare(spark, args.seed)
        pipelines.micro_batch_bytes = record
        try:
            wl.run(spark, args.seconds)
        finally:
            pipelines.micro_batch_bytes = sink_bytes
        progress = {(d["drain"], p.batchId): p for t in wl.ticks
                    for d in t.get("drains", []) for p in d["progress"]}
        jobs, stages = rest.jobs_and_stages()
        split = stage_split(jobs, stages)
        # stream_work's sinks: table <run root>/<drain>, app id <drain>
        routes = {d: merge_routes(os.path.join(wl.root, d), d)
                  for d in ("bronze", "silver")}
        drains: dict[str, list[dict]] = {}
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            tag = tag_of(job)
            if tag and tag.split(".")[0] not in ("setup", "warm"):
                drains.setdefault(tag, []).append(job)
        for tag in sorted(drains, key=lambda t: (int(t.split(".")[0][1:]),
                                                  t)):
            total = 0
            batches: list[int] = []
            for job in drains[tag]:
                parts = split[job["jobId"]]
                tasks = sum(n for n, _ in parts)
                total += tasks
                # a streaming batch's jobs all carry the query's
                # "id = .. runId = .. batch = N" description: keep the
                # batch number, then the job's call site
                batch = re.search(r"batch = (\d+)",
                                  job.get("description") or "")
                if batch and int(batch.group(1)) not in batches:
                    batches.append(int(batch.group(1)))
                desc = (f"batch {batch.group(1)}: " if batch else "") + \
                    re.sub(r"\S*/", "", job.get("name", ""))
                shape = "+".join(str(n) for n, _ in parts) or "0"
                secs = "+".join(f"{t:.2f}" for _, t in parts) or "0"
                print(f"{tag:10s} job {job['jobId']:4d}  "
                      f"tasks {tasks:3d} = {shape:10s} s {secs:20s} "
                      f"{desc[:60]}")
            drain = tag.split(".")[1]
            for b in batches:
                route, added, removed = routes.get(drain, {}).get(
                    b, ("no commit", 0, 0))
                size, origin = sizes.get((drain, b), (None, "not recorded"))
                line = f"{route}, {added} files added, {removed} removed; "
                line += origin if size is None else \
                    f"sized by {size} bytes from {origin}"
                p = progress.get((drain, b))
                if p is not None and p.stateOperators:
                    line += f"; state: {state_line(p)}"
                print(f"{tag:10s} batch {b}: {line}")
            print(f"{tag:10s} total: {len(drains[tag])} jobs, "
                  f"{total} tasks")
        # the output checks run after the listing: their jobs are no
        # drain's
        wl.report(spark, rest)
        if wl.failed:
            print("FAILED:", *wl.failed, sep="\n  ")
    finally:
        perfbench_run._stop(spark)
    return 1 if wl.failed else 0


if __name__ == "__main__":
    sys.exit(main())
