"""Measurement plumbing shared by the workloads.

* :class:`Tracer` records spans (name, start, end, parent) in memory and
  writes them out once, at the end of a traced run.
* :class:`SparkRest` reads the Spark status REST API (``/jobs``,
  ``/stages``, ``/sql``) and attributes executor work to the job tags the
  benchmark sets with ``SparkSession.addTag``, so concurrent jobs (thread
  pools inside a query) are never mixed up by id ranges.
* :func:`peak_rss_mb` and :func:`witnesses` describe the host and the
  processes; nothing here gates or retries a run.
"""

from __future__ import annotations

import calendar
import json
import math
import os
import re
import threading
import time
import urllib.request
from contextlib import contextmanager

#: every tag the benchmark sets starts with this; Spark stores it as
#: ``spark-session-<id>-thread-<id>-<tag>``
TAG_PREFIX = "pb:"

PYTHON_TIME_METRIC = "time to run Python workers"


class Tracer:
    """In-memory spans. Disabled tracers record nothing and cost nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "parent": self.current(),
               "start": time.perf_counter(), "end": None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> None:
        """Record a finished span from any thread."""
        if not self.enabled:
            return
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name,
                               "parent": parent, "start": start,
                               "end": end, **attrs})

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "self_s": self.self_times()}, f)


def noop(df) -> None:
    """Run ``df`` to completion, discarding its rows."""
    df.write.format("noop").mode("overwrite").save()


@contextmanager
def tagged(spark, tag: str):
    """Tag every job the current thread submits inside the block."""
    spark.addTag(TAG_PREFIX + tag)
    try:
        yield
    finally:
        spark.removeTag(TAG_PREFIX + tag)


def tag_of(job: dict) -> str | None:
    """The benchmark's tag on a REST job record, without the prefix."""
    for t in job.get("jobTags", []):
        i = t.find("-" + TAG_PREFIX)
        if i >= 0:
            return t[i + 1 + len(TAG_PREFIX):]
    return None


STAGE_FIELDS = {
    # REST field -> (metric, scale to benchmark units)
    "executorRunTime": ("task_s", 1e-3),
    "executorCpuTime": ("cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "numTasks": ("tasks", 1),
    "inputBytes": ("input_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
}


def empty_totals() -> dict[str, float]:
    out = {m: 0.0 for m, _ in STAGE_FIELDS.values()}
    out.update(jobs=0, stages=0)
    return out


def add_stage(totals: dict, stage: dict) -> None:
    for field, (metric, scale) in STAGE_FIELDS.items():
        totals[metric] += stage.get(field, 0) * scale
    totals["stages"] += 1


class SparkRest:
    """Client for the driver's status REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("Spark UI is off; the benchmark needs its "
                               "REST API (spark.ui.enabled=true)")
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def settle(self, timeout: float = 30.0) -> None:
        """Wait until the status store has seen every job end."""
        deadline = time.monotonic() + timeout
        while self.sc.statusTracker().getActiveJobsIds():
            if time.monotonic() > deadline:
                raise RuntimeError("Spark jobs still running after the run")
            time.sleep(0.05)
        time.sleep(0.2)

    def jobs_and_stages(self) -> tuple[list[dict], dict[int, list[dict]]]:
        self.settle()
        jobs = self.get("/jobs")
        stages: dict[int, list[dict]] = {}
        for s in self.get("/stages"):
            stages.setdefault(s["stageId"], []).append(s)
        return jobs, stages

    def python_seconds(self, job_ids: set[int]) -> float:
        """Sum of the "time to run Python workers" SQL metric over the
        executions that ran any of ``job_ids``."""
        total = 0.0
        for ex in self.get("/sql?details=true&planDescription=false"):
            ran = set(ex.get("successJobIds", [])) | set(
                ex.get("failedJobIds", []))
            if not ran & job_ids:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") == PYTHON_TIME_METRIC:
                        total += parse_duration_total(m.get("value", ""))
        return total


_DURATION = re.compile(r"([0-9.]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_duration_total(value: str) -> float:
    """The total of a Spark SQL timing metric as rendered by the UI, e.g.
    ``"total (min, med, max ...)\\n1.2 s (10 ms, ...)"`` -> 1.2."""
    line = value.split("\n", 1)[-1]
    m = _DURATION.search(line)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


def attribute(jobs: list[dict], stages: dict[int, list[dict]],
              label_of) -> dict[str, dict]:
    """Sum stage metrics per label. ``label_of(job)`` names the bucket a
    job belongs to (or None to skip it); a stage shared by several jobs
    is counted once, for the first job that claims it."""
    out: dict[str, dict] = {}
    seen: set[int] = set()
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        label = label_of(job)
        if label is None:
            continue
        tot = out.setdefault(label, empty_totals())
        tot["jobs"] += 1
        tot.setdefault("job_ids", set()).add(job["jobId"])
        for sid in job.get("stageIds", []):
            if sid in seen:
                continue
            seen.add(sid)
            for attempt in stages.get(sid, []):
                if attempt.get("status") != "SKIPPED":
                    add_stage(tot, attempt)
    return out


def submission_epoch(job: dict) -> float | None:
    """A REST job's submission time as epoch seconds."""
    raw = job.get("submissionTime")
    if not raw:
        return None
    # e.g. 2026-10-16T18:38:29.123GMT
    t = time.strptime(raw[:19], "%Y-%m-%dT%H:%M:%S")
    frac = float("0" + raw[19:23]) if raw[19:20] == "." else 0.0
    return float(calendar.timegm(t)) + frac


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """Peak resident set, in MB, of this Python driver and of the Spark
    JVM."""
    return {"python": _vm_hwm_kb(os.getpid()) / 1024.0,
            "jvm": _vm_hwm_kb(jvm_pid) / 1024.0}


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def witnesses(spark) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "pyspark": pyspark.__version__,
    }


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (``q`` in [0, 1])."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]
