"""``stream_ingest``: the write path, as an open loop.

A generator thread lands one parquet file of events every
:data:`FILE_INTERVAL_S` seconds at :data:`RATE_EV_S` events per second,
on a fixed schedule that does not slow when the consumer does. Each event
carries ``created_ms``, the time its file was due. A seeded share of the
events are redeliveries of an earlier event (same ``event_id``, later
``ts``) and a seeded share arrive out of order, always within the
watermark.

The first file is due when the run starts. The consumer runs
back-to-back ticks whenever new files have landed. A tick is two
``availableNow`` drains:

* bronze: ``stream_events_from_files`` -> ``dedup_stream_within_watermark``
  -> ``run_merge_stream_versioned`` (keyed on ``event_id``);
* silver: the bronze table's ``txtable`` stream -> ``user_activity_stream``
  -> ``run_merge_stream_versioned(output_mode="update")``.

After the run, event latency (creation to the bronze commit holding the
event) comes from ``TxTable.change_feed`` and ``TxTable.history``; bronze
is checked against the generated events and silver against a batch
recomputation of the same window aggregate over bronze.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import statistics
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
from layers import attribute, quantile, tag_of, tagged

#: On local[4] a tick costs about 7.5 s plus 6.7 us per event (7.3-8.0 s
#: at 16 k events, 9.2 s at 160 k, 11.8 s at 640 k), so the consumer
#: saturates near 150 k ev/s. This rate keeps a run's event planning,
#: landing and exact output checks within the run's time budget; at
#: 40 k ev/s the report phase alone took 18 s.
RATE_EV_S = 10_000
FILE_INTERVAL_S = 0.5
DUP_SHARE = 0.05
LATE_SHARE = 0.10
#: event time advances this many seconds per wall second, so a run spans
#: several 5-minute windows and the silver watermark (10 min) evicts state
VIRTUAL_SPEED = 60
#: out-of-order events are at most this far (event time) behind their
#: file; both watermarks (10 and 30 min) are far wider, so nothing is late
MAX_LATE_S = 120
#: a redelivery is restamped this much later at most, and repeats an
#: event from at most this many files back
MAX_RESTAMP_S = 30
REDELIVERY_FILES_BACK = 4
#: job label of everything outside the measured ticks
UNTIMED = "untimed"
T0 = dt.datetime(2024, 1, 1)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
USERS = 1000

ARROW_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("created_ms", pa.int64()),
])
SPARK_SCHEMA = ("event_id LONG, ts TIMESTAMP, user_id LONG, "
                "event_type STRING, value DOUBLE, created_ms LONG")


def plan_events(seed: int, seconds: float) -> list[list[tuple]]:
    """The run's deliveries, file by file: ``(event_id, ts, user_id,
    event_type, value)``. A pure function of ``(seed, seconds)``."""
    rng = random.Random(seed)
    per_file = int(RATE_EV_S * FILE_INTERVAL_S)
    files: list[list[tuple]] = []
    next_id = 0
    for k in range(max(1, int(seconds / FILE_INTERVAL_S))):
        base = T0 + dt.timedelta(seconds=k * FILE_INTERVAL_S * VIRTUAL_SPEED)
        recent = [e for f in files[-REDELIVERY_FILES_BACK:] for e in f]
        rows: list[tuple] = []
        for _ in range(per_file):
            pool = len(recent) + len(rows)
            if pool and rng.random() < DUP_SHARE:
                i = rng.randrange(pool)
                eid, ts, user, etype, value = (
                    recent[i] if i < len(recent) else rows[i - len(recent)])
                ts += dt.timedelta(
                    microseconds=rng.randrange(1, MAX_RESTAMP_S * 10**6))
                rows.append((eid, ts, user, etype, value))
                continue
            ts = base + dt.timedelta(microseconds=rng.randrange(
                int(FILE_INTERVAL_S * VIRTUAL_SPEED * 10**6)))
            if rng.random() < LATE_SHARE:
                ts -= dt.timedelta(
                    microseconds=rng.randrange(MAX_LATE_S * 10**6))
            rows.append((next_id, ts, rng.randrange(USERS),
                         rng.choice(EVENT_TYPES),
                         round(rng.expovariate(1 / 48.0), 2)))
            next_id += 1
        files.append(rows)
    return files


class Generator(threading.Thread):
    """Lands ``files`` in ``landing`` on a fixed schedule (open loop): file
    ``k`` is due at ``t_start + k * FILE_INTERVAL_S``. Files already due
    when the thread starts land at once; lateness counts from the later
    of a file's due time and the start."""

    def __init__(self, files: list[list[tuple]], landing: str,
                 t_start: float) -> None:
        super().__init__(name="perfbench-generator", daemon=True)
        self.files, self.landing, self.t_start = files, landing, t_start
        self.t_live = t_start
        self.landed = 0
        self.late_s_max = 0.0
        self.input_bytes = 0
        self.error: BaseException | None = None
        self._stop_evt = threading.Event()

    def run(self) -> None:
        self.t_live = time.time()
        try:
            for k, rows in enumerate(self.files):
                due = self.t_start + k * FILE_INTERVAL_S
                if self._stop_evt.wait(max(0.0, due - time.time())):
                    return
                cols = list(zip(*rows))
                table = pa.table(
                    list(cols) + [[int(due * 1000)] * len(rows)],
                    schema=ARROW_SCHEMA)
                tmp = os.path.join(self.landing, f".part-{k:05d}.tmp")
                dst = os.path.join(self.landing, f"part-{k:05d}.parquet")
                pq.write_table(table, tmp)
                os.rename(tmp, dst)
                self.input_bytes += os.path.getsize(dst)
                self.late_s_max = max(self.late_s_max,
                                      time.time() - max(due, self.t_live))
                self.landed = k + 1
        except BaseException as e:  # noqa: BLE001 — surfaced by the consumer
            self.error = e

    def stop(self) -> None:
        self._stop_evt.set()


class StreamWorkload:
    name = "stream_ingest"

    def __init__(self, work: str, tracer) -> None:
        self.work = work
        self.tracer = tracer
        self.failed: list[str] = []
        self.attempted = 0
        self.ticks: list[dict] = []
        self._open_span: int | None = None  # parent of txlog.commit spans

    # -- one tick ----------------------------------------------------------

    def _drains(self, spark, root: str, label: str) -> list[dict]:
        from real_time_video_streaming_analytics_lakehouse_spark.streaming import (
            dedup_stream_within_watermark,
            run_merge_stream_versioned,
            stream_events_from_files,
            user_activity_stream,
        )

        def bronze():
            return dedup_stream_within_watermark(stream_events_from_files(
                spark, f"{root}/landing", SPARK_SCHEMA))

        def silver():
            return user_activity_stream(
                spark.readStream.format("txtable")
                .option("path", f"{root}/bronze").load())

        sinks = {
            "bronze": lambda df: run_merge_stream_versioned(
                df, f"{root}/bronze", f"{root}/ckpt_bronze",
                keys=["event_id"], precedence_col="created_ms",
                app_id="bronze"),
            "silver": lambda df: run_merge_stream_versioned(
                df, f"{root}/silver", f"{root}/ckpt_silver",
                keys=["window_start", "event_type"],
                precedence_col="events_cnt", output_mode="update",
                app_id="silver"),
        }
        out = []
        for name, build in (("bronze", bronze), ("silver", silver)):
            rec = {"drain": name}
            with tagged(spark, f"{label}.{name}"), \
                    self.tracer.span(f"stream.drain.{name}") as sp:
                self._open_span = sp["id"] if sp else None
                t0 = time.perf_counter()
                df = build()
                t1 = time.perf_counter()
                q = sinks[name](df)
                t2 = time.perf_counter()
                q.awaitTermination()
                t3 = time.perf_counter()
            rec.update(construct_s=t1 - t0, start_s=t2 - t1,
                       drain_s=t3 - t0, progress=list(q.recentProgress))
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            out.append(rec)
        return out

    # -- the run -----------------------------------------------------------

    def prepare(self, spark, seed: int) -> None:
        """Register the ``txtable`` source, plan the run's events, and run
        one untimed tick on two files into scratch tables, so the first
        measured tick does not pay the streaming path's first-use cost."""
        from real_time_video_streaming_analytics_lakehouse_spark.sources.txstream import (
            TxTableDataSource,
        )

        spark.dataSource.register(TxTableDataSource)
        self.seed = seed
        warm = os.path.join(self.work, "warm")
        shutil.rmtree(warm, ignore_errors=True)
        os.makedirs(f"{warm}/landing")
        # due times in the past: the files land at once
        Generator(plan_events(seed, 2 * FILE_INTERVAL_S), f"{warm}/landing",
                  time.time() - 60).run()
        self._drains(spark, warm, "warm")

    def run(self, spark, seconds: float) -> None:
        from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import (
            TxTable,
        )

        self.root = os.path.join(self.work, "run")
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(f"{self.root}/landing")
        self.files = plan_events(self.seed, seconds)
        patch = _CommitTimer(TxTable, self) if self.tracer.enabled else None
        gen = Generator(self.files, f"{self.root}/landing", time.time())
        self.gen = gen
        self.backlog_max = 0
        gen.start()
        consumed = 0
        try:
            while True:
                if gen.error is not None:
                    raise gen.error
                landed = gen.landed
                if landed == consumed:
                    if landed == len(self.files):
                        break
                    time.sleep(0.01)
                    continue
                self.backlog_max = max(self.backlog_max, landed - consumed)
                tick = {"files": landed - consumed}
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    with self.tracer.span("stream.tick",
                                          tick=len(self.ticks)):
                        tick["drains"] = self._drains(
                            spark, self.root, f"t{len(self.ticks)}")
                except Exception as e:  # noqa: BLE001 — count, then stop
                    self.failed.append(f"tick {len(self.ticks)}: "
                                       f"{type(e).__name__}: {e}"[:300])
                    break
                finally:
                    tick["wall_s"] = time.perf_counter() - t0
                    self.ticks.append(tick)
                consumed = landed
        finally:
            gen.stop()
            gen.join(timeout=30)
            if patch is not None:
                patch.restore()

    # -- checks and metrics ------------------------------------------------

    def report(self, spark, rest) -> tuple[dict, dict, dict]:
        with tagged(spark, UNTIMED):
            notes, b_rows, progress, lat = self._check_outputs(spark)
        busy = sum(t["wall_s"] for t in self.ticks)
        jobs, stages = rest.jobs_and_stages()
        by_label = attribute(jobs, stages, _label)
        timed = [by_label[f"t{i}"] for i in range(len(self.ticks))
                 if f"t{i}" in by_label]
        ticks = len(self.ticks)
        # the median tick after the first: the first tick creates both
        # tables and runs fewer jobs, and how many ticks follow it
        # depends on the host's speed
        steady = timed[1:] or timed
        e2e = {
            "jobs_per_op": statistics.median(t["jobs"] for t in steady),
            "tasks_per_op": statistics.median(t["tasks"] for t in steady),
            "wall_s": busy,
            "geomean_s": statistics.geometric_mean(
                t["wall_s"] for t in self.ticks),
            "task_s": sum(t["task_s"] for t in timed),
            "latency_p50_s": statistics.median(lat),
            "latency_p99_s": quantile(lat, 0.99),
            "throughput_per_s": len(b_rows) / busy,
        }
        notes.update(ticks=ticks, events=len(b_rows),
                     latency_samples=len(lat), rate_ev_s=RATE_EV_S,
                     files=len(self.files),
                     tick_files=[t["files"] for t in self.ticks],
                     tick_wall_s=[t["wall_s"] for t in self.ticks],
                     tick_jobs=[t["jobs"] for t in timed],
                     tick_tasks=[t["tasks"] for t in timed])
        layers = (self._layers(rest, progress, timed, by_label)
                  if self.tracer.enabled else {})
        return e2e, layers, notes

    def _check_outputs(self, spark):
        """Check bronze, silver and the watermark; return the notes, the
        bronze rows, the drains' progress records and the event
        latencies (creation stamp to the bronze commit)."""
        from pyspark.sql import functions as F

        from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import (
            TxTable,
        )
        from real_time_video_streaming_analytics_lakehouse_spark.streaming import (
            user_activity_stream,
        )
        from checks import table_hash

        bronze = TxTable(spark, f"{self.root}/bronze")
        silver = TxTable(spark, f"{self.root}/silver")
        self.tables = [bronze, silver]
        cols = ["event_id", "ts", "user_id", "event_type", "value"]
        b_rows = bronze.read().select(*cols, "created_ms").collect()
        notes: dict = {}

        # bronze == the distinct generated events: every id exactly once,
        # each row one of that id's deliveries (a redelivery that shares
        # a micro-batch with its original may win the in-batch dedup)
        deliveries: dict[int, set] = {}
        for f in self.files:
            for e in f:
                deliveries.setdefault(e[0], set()).add(e)
        got = [tuple(r[c] for c in cols) for r in b_rows]
        got_ids = [e[0] for e in got]
        bad = [e for e in got if e not in deliveries.get(e[0], ())]
        self._check("bronze_equals_generated",
                    len(got_ids) == len(set(got_ids)) == len(deliveries)
                    and set(got_ids) == set(deliveries) and not bad,
                    f"{len(got_ids)} rows, {len(set(got_ids))} ids, "
                    f"{len(deliveries)} generated, {len(bad)} foreign")
        first = {e[0]: e for f in reversed(self.files) for e in reversed(f)}
        notes["redeliveries_kept"] = sum(1 for e in got if e != first[e[0]])

        # silver == the same window aggregate recomputed in batch
        s_df = silver.read()
        want = user_activity_stream(bronze.read()).select(*s_df.columns)
        s_hash = table_hash([tuple(r) for r in s_df.collect()], s_df.columns)
        w_hash = table_hash([tuple(r) for r in want.collect()], s_df.columns)
        self._check("silver_equals_batch", s_hash == w_hash,
                    f"silver {s_hash} vs batch {w_hash}")

        progress = [p for t in self.ticks for d in t.get("drains", [])
                    for p in d["progress"]]
        dropped = sum(op.numRowsDroppedByWatermark for p in progress
                      for op in p.stateOperators)
        self._check("no_rows_dropped_by_watermark", dropped == 0,
                    f"{dropped} rows dropped")

        # latency: creation stamp -> timestamp of the bronze commit
        commit_ms = {r.version: r.timestamp
                     for r in bronze.history(limit=1 << 30).collect()}
        inserts = (bronze.change_feed(0)
                   .where(F.col("_change_type") == "insert")
                   .select("created_ms", "_commit_version").collect())
        lat = [(commit_ms[r._commit_version] - r.created_ms) / 1000.0
               for r in inserts]
        return notes, b_rows, progress, lat

    def _check(self, name: str, ok: bool, detail: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(f"{name}: {detail}")

    def _layers(self, rest, progress, timed, by_label) -> dict:
        drains = [d for t in self.ticks for d in t.get("drains", [])]

        def dur(key: str) -> float:
            return sum(p.durationMs.get(key, 0) for p in progress) / 1000.0

        last_ops = {}
        for d in drains:
            if d["progress"]:
                last_ops[d["drain"]] = d["progress"][-1].stateOperators
        ops_end = [op for ops in last_ops.values() for op in ops]
        measured = timed + [t for lab, t in by_label.items()
                            if lab == "untagged"]
        ex = {k: sum(t[k] for t in measured)
              for k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                        "input_bytes", "shuffle_read_bytes",
                        "shuffle_write_bytes", "spill_bytes")}
        drain_s = sum(d["drain_s"] for d in drains)
        out = {f"executor.{k}": v for k, v in ex.items()}
        out.update({
            "plans.construct_s": sum(d["construct_s"] for d in drains),
            "catalyst.plan_s": dur("queryPlanning"),
            "executor.exec_s": drain_s,
            "executor.core_util": ex["task_s"] / (drain_s * 4),
            "executor.python_task_s": rest.python_seconds(set().union(
                *(t["job_ids"] for t in measured))),
            "executor.untagged_task_s":
                by_label.get("untagged", {}).get("task_s", 0.0),
            "streaming.drain_s": drain_s,
            "streaming.start_s": sum(d["start_s"] for d in drains),
            "streaming.batches": len(progress),
            "streaming.empty_batches": sum(
                1 for p in progress if p.numInputRows == 0),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.latest_offset_s": dur("latestOffset"),
            "streaming.state_rows": sum(op.numRowsTotal for op in ops_end),
            "streaming.state_memory_bytes": sum(
                op.memoryUsedBytes for op in ops_end),
            "streaming.rows_dropped_by_watermark": sum(
                op.numRowsDroppedByWatermark for p in progress
                for op in p.stateOperators),
            "streaming.dedup_dropped_rows": sum(
                op.customMetrics.get("numDroppedDuplicateRows", 0)
                for p in progress for op in p.stateOperators),
            "txlog.commit_s": self.tracer.total("txlog.commit"),
            "generator.late_s_max": self.gen.late_s_max,
            "generator.backlog_files_max": self.backlog_max,
        })
        out.update(_txlog_counts(self.tables, self.gen.input_bytes))
        return out


def _txlog_counts(tables, input_bytes: int) -> dict:
    commits = empty = added = removed = live = 0
    written = 0
    for t in tables:
        for r in t.history(limit=1 << 30).collect():
            if r.operation == "CREATE TABLE" or r.version == 0:
                continue
            commits += 1
            added += r.numAddedFiles
            removed += r.numRemovedFiles
            if r.numAddedFiles == 0 and r.numRemovedFiles == 0:
                empty += 1
        live += t.detail()["numFiles"]
        for dirpath, _dirs, names in os.walk(t.root):
            written += sum(os.path.getsize(os.path.join(dirpath, n))
                           for n in names)
    return {
        "txlog.commits": commits,
        "txlog.empty_commits": empty,
        "txlog.useful_commit_frac": (commits - empty) / commits
        if commits else 0.0,
        "txlog.files_added": added,
        "txlog.files_removed": removed,
        "txlog.bytes_written_per_input_byte": written / input_bytes,
        "txlog.live_files_end": live,
    }


def _label(job) -> str:
    """The tick (``t0``, ``t1``, ...) whose drain submitted the job; jobs
    of the set-up, the warm tick and the output checks share the label
    :data:`UNTIMED`."""
    tag = tag_of(job)
    if tag is None:
        return "untagged"
    tick = tag.split(".")[0]
    return UNTIMED if tick in ("setup", "warm", UNTIMED) else tick


class _CommitTimer:
    """Times every outermost ``TxTable.merge``/``TxTable.write`` call as a
    ``txlog.commit`` span (traced runs only)."""

    def __init__(self, cls, workload: StreamWorkload) -> None:
        self.cls, self.wl = cls, workload
        self.saved = {m: getattr(cls, m) for m in ("merge", "write")}
        self.depth = threading.local()
        for m, fn in self.saved.items():
            setattr(cls, m, self._wrap(fn))

    def _wrap(self, fn):
        timer = self

        def timed(tx, *args, **kwargs):
            depth = getattr(timer.depth, "n", 0)
            timer.depth.n = depth + 1
            t0 = time.perf_counter()
            try:
                return fn(tx, *args, **kwargs)
            finally:
                timer.depth.n = depth
                if depth == 0:
                    timer.wl.tracer.add("txlog.commit", t0,
                                        time.perf_counter(),
                                        timer.wl._open_span)

        return timed

    def restore(self) -> None:
        for m, fn in self.saved.items():
            setattr(self.cls, m, fn)

