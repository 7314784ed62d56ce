"""Lakehouse benchmark: one workload, one seed, one JSON result line.

Usage (from any directory)::

    python3 perfbench/run.py --workload catalog_sf0.1 --seed 1 \
        --seconds 12 --trace 0

Workloads (``BENCHMARK.json`` states why each exists):

* ``catalog_sf0.1`` -- closed-loop catalog queries (``catalog_work.py``);
* ``stream_ingest`` -- open-loop bronze/silver ingest (``stream_work.py``).

The run starts ``local[4]`` Spark through the package's ``get_spark``,
which launches the JVM, and runs a small warm-up job (``setup_s`` is the
two together). It then runs the workload's untimed first passes (their
time is ``prepare_s`` in the detail line), measures for ``--seconds``,
checks every output, and prints a detail line and then the result
line. With ``--trace 0`` the result holds the end-to-end metrics, with
``--trace 1`` the per-layer ones; the names and units come from
``BENCHMARK.json``. Everything the run writes stays under ``.bench_work/``
in the checkout: the generated corpus, Spark's scratch space, the
captured Spark log and, for traced runs, the span file.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
MASTER = "local[4]"

NOT_MEASURABLE = {
    "catalog": {
        "streaming.": "catalog workloads start no streaming query",
        "txlog.": "catalog workloads write no table",
        "generator.": "catalog workloads are a closed loop, no generator",
    },
    "stream": {
        "plans.driver_jobs": "streaming queries are built without jobs",
    },
}


def _environment() -> None:
    """Keep every file Spark and Python write inside the checkout and put
    the package on the driver's and the Python workers' path."""
    for d in ("tmp", "spark-local", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_GRAFT_UI": "true",
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--driver-java-options \"-Djava.io.tmpdir={tmp}\"",
            f"--conf spark.sql.warehouse.dir={WORK}/warehouse",
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            "--conf spark.scheduler.listenerbus.eventqueue.capacity=100000",
            "pyspark-shell",
        ]),
    })
    time.tzset()
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


class StderrCapture:
    """Sends this process's stderr, and so the Spark JVM's log, to a
    file, to count ERROR lines after the run."""

    def __init__(self, path: str) -> None:
        self.path = path
        sys.stderr.flush()
        self.saved = os.dup(2)
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)

    def restore(self) -> None:
        if self.saved is not None:
            sys.stderr.flush()
            os.dup2(self.saved, 2)
            os.close(self.saved)
            self.saved = None

    def error_lines(self) -> int:
        with open(self.path, errors="replace") as f:
            return sum(1 for line in f if " ERROR " in line)

    def tail(self, n: int = 40) -> str:
        with open(self.path, errors="replace") as f:
            return "".join(f.readlines()[-n:])


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort, then wait
            proc.kill()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def warm_up(spark) -> None:
    """The set-up's warm-up: one shuffle job. Per-query and per-drain
    warm-up is each workload's business."""
    from layers import noop

    noop(spark.range(100_000).selectExpr("id % 10 AS k").groupBy("k")
         .count())


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _make_workload(name: str, tracer):
    from catalog_work import CatalogWorkload
    from stream_work import StreamWorkload

    if name == StreamWorkload.name:
        return StreamWorkload(os.path.join(WORK, "stream"), tracer)
    import checks
    import corpus

    tables_dir = corpus.ensure(os.path.join(WORK, "corpus"))
    expected = checks.load_expected()
    if expected.get("corpus") != corpus.stamp():
        raise RuntimeError("expected.json was made from another corpus; "
                           "rerun perfbench/expected.py")
    return CatalogWorkload(name, tables_dir, expected[name], tracer)


def run(args) -> dict:
    # fails here, before any set-up, when the program is not present
    import real_time_video_streaming_analytics_lakehouse_spark  # noqa: F401
    from layers import (SparkRest, Tracer, jvm_pid, peak_rss_mb, tagged,
                        witnesses)

    from real_time_video_streaming_analytics_lakehouse_spark.session import (
        get_spark,
    )

    # spans cover the measured work only, not the set-ups
    tracer = Tracer(False)
    load_start = os.getloadavg()[0]
    wl = _make_workload(args.workload, tracer)
    spark = None
    try:
        marks = [time.perf_counter()]  # start, set-up, prepared, run, reported
        spark = get_spark("perfbench", master=MASTER)
        started = time.perf_counter()
        with tagged(spark, "setup"):
            warm_up(spark)
        marks.append(time.perf_counter())
        rest = SparkRest(spark)
        wl.prepare(spark, args.seed)
        marks.append(time.perf_counter())
        tracer.enabled = args.trace == 1
        wl.run(spark, args.seconds)
        marks.append(time.perf_counter())
        e2e, layers, notes = wl.report(spark, rest)
        marks.append(time.perf_counter())
        notes["phase_s"] = dict(zip(("setup", "prepare", "run", "report"),
                                    (b - a for a, b in zip(marks, marks[1:]))))
        e2e["setup_s"] = marks[1] - marks[0]
        e2e["prepare_s"] = marks[2] - marks[1]
        rss = peak_rss_mb(jvm_pid(spark))
        e2e["python_rss_mb"] = rss["python"]
        e2e["peak_rss_mb"] = rss["python"] + rss["jvm"]
        notes["witness"] = witnesses(spark)
    finally:
        if spark is not None:
            _stop(spark)
    notes["witness"]["loadavg_start"] = load_start
    notes["witness"]["loadavg_end"] = os.getloadavg()[0]
    layers["session.start_s"] = started - marks[0]
    layers["session.warmup_s"] = marks[1] - started
    layers["memory.python_peak_mb"] = rss["python"]
    layers["memory.jvm_peak_mb"] = rss["jvm"]
    return {"wl": wl, "e2e": e2e, "layers": layers, "notes": notes}


def _results_path(workload: str, seed: int) -> str:
    return os.path.join(WORK, "results", f"{workload}-seed{seed}.json")


def _trace_overhead(workload: str, seed: int, wall: float, notes) -> float:
    """Traced wall over untraced wall, minus 1. The untraced wall is that
    of an untraced run kept in this checkout: the same seed if there is
    one, else the median of the workload's other seeds."""
    same = _results_path(workload, seed)
    paths = [same] if os.path.exists(same) else glob.glob(
        _results_path(workload, "*"))
    walls = []
    for p in paths:
        with open(p) as f:
            walls.append(json.load(f)["wall_s"])
    if not walls:
        notes["not_measurable"]["trace.overhead_frac"] = (
            "no untraced run of this workload in this checkout yet")
        return 0.0
    notes["trace_overhead_base"] = [os.path.relpath(p, ROOT) for p in paths]
    return wall / statistics.median(walls) - 1.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = _benchmark_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        ap.error(f"--workload must be one of {names}")
    _environment()
    log = StderrCapture(os.path.join(
        WORK, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log"))
    try:
        out = run(args)
    except Exception:  # noqa: BLE001 — report, exit non-zero, no result
        log.restore()
        sys.stderr.write(log.tail())
        traceback.print_exc()
        return 1
    log.restore()
    wl, e2e, layers, notes = out["wl"], out["e2e"], out["layers"], out["notes"]
    kind = "stream" if args.workload == "stream_ingest" else "catalog"
    failed = len(wl.failed)
    # every end-to-end reading, those BENCHMARK.json gates on and the
    # wall-clock ones it does not
    notes.update(workload=args.workload, seed=args.seed, end_to_end=e2e,
                 failures=wl.failed[:20], not_measurable={})
    if args.trace:
        layers["log.error_lines"] = log.error_lines()
        layers["check.failed_frac"] = failed / wl.attempted
        layers["trace.overhead_frac"] = _trace_overhead(
            args.workload, args.seed, e2e["wall_s"], notes)
        trace_path = os.path.join(
            WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        wl.tracer.dump(trace_path)
        notes["trace_file"] = os.path.relpath(trace_path, ROOT)
        notes["self_s"] = wl.tracer.self_times()
        wanted, values = spec["per_layer"], layers
    else:
        os.makedirs(os.path.dirname(_results_path(args.workload, 0)),
                    exist_ok=True)
        with open(_results_path(args.workload, args.seed), "w") as f:
            json.dump(e2e, f)
        wanted, values = spec["end_to_end"], e2e
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name not in values:
            reason = next((r for prefix, r in NOT_MEASURABLE[kind].items()
                           if name.startswith(prefix)), None)
            if reason is None:
                raise KeyError(f"metric {name} was not measured")
            notes["not_measurable"][name] = reason
        metrics[name] = {"value": values.get(name, 0), "unit": m["unit"]}
    print(json.dumps(notes, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": wl.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
