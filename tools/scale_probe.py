"""Measured scaling curves for every catalog query.

Runs the full catalog at several scale factors (default sf0.001 /
sf0.01 / sf0.1 — two decades of data growth), takes min-of-N wall
clock per (query, sf), and reports each query's growth ratio over the
top decade: ``r = t(sf_hi) / t(sf_mid)`` for 10× the data. Linear work
scales at r ≤ 10; a quadratic plan shows r → 100. Each query also
carries its Spark job count and executor task seconds (``task_sec``,
min over the runs) at sf0.1 and on the synthetic tier.

Honest limitation: fixed per-query overhead (planning, job launch,
small-file constants — ~0.2-0.5 s at these sizes) DEFLATES r, so the
raw ratio understates growth and this is a detector for *egregious*
super-linearity only — a query whose raw decade ratio clears the
threshold despite the overhead cushion is certainly super-linear and
would not survive a 100× corpus, while small quadratic terms can still
hide under the overhead at sf0.1 (the plan-shape guards in
tests/test_plan_quality.py — no nested-loop joins, no unbounded
collects — are the structural complement).

Usage::

    python tools/scale_probe.py [--runs N] [--out SCALING.json]

Prints one JSON object: per-query seconds at each sf, the top-decade
ratio, and the flagged list (ratio > threshold after subtracting the
measured per-query floor). The committed SCALING.md narrates the
latest run. The session runs with the Spark UI on: task time comes
from its status REST API.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.layers import SparkRest, attribute, empty_totals
from real_time_video_streaming_analytics_lakehouse_spark.plans import CATALOG
from real_time_video_streaming_analytics_lakehouse_spark.session import get_spark

SF_DIRS = [
    ("0.001", "/root/testdata/sf0.001"),
    ("0.01", "/root/testdata/sf0.01"),
    ("0.1", "/root/testdata/sf0.1"),
]

#: raw decade growth ratio above which a query is flagged. 10 = linear
#: with zero overhead; overhead only pulls the measured ratio DOWN, so
#: clearing 12 despite the cushion means genuinely super-linear.
FLAG_RATIO = 12.0

#: id offset between the copies in the synthetic Nx tier —
#: far above any real key, so copies never collide and joins stay
#: exactly as selective as in the base data.
_X3_OFF = 100_000_000

#: per-table key columns shifted by copy-index × _X3_OFF. Foreign keys
#: shift with their primary keys (orders.o_custkey with
#: customer.c_custkey, lineitem.l_*key with their parents,
#: events.user_id with c_custkey) so every join keeps 1:N fan-out and
#: selectivity; nation/region are NOT in the map — like TPC-H they do
#: not scale with SF, so the tier keeps one copy and fact→dim joins
#: fan out 3× onto the same dimension rows, exactly as real growth
#: would.
_X3_KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _materialize_tier(spark, base_dir: str, out_dir: str, copies: int) -> str:
    """An N× FULL-SCHEMA tier under /tmp (N=3 → sf0.3-equivalent, the
    default extra tier since round 9; N=10 → a full measured DECADE
    above sf0.1, round 10) — every catalog query has an above-sf0.1
    input.

    /root/testdata is read-only and tops out at sf0.1, so the tier is
    derived: ``copies`` copies of each scaling table with key columns
    offset per :data:`_X3_KEYS` (join-consistent — FKs shift with
    their PKs). The similarity-sensitive content columns are
    PERTURBED so the copies are NOT near-duplicates of each other:
    copy 1 reverses the text / flips the embedding sign, copy 2
    upper-cases the text / reverses the vector (the round-9 scheme,
    kept bit-stable so x3 measurements reproduce), and copies ≥ 3
    get a per-doc hash-keyed word shuffle / per-dimension hash-keyed
    sign pattern — deterministic, word-multiset- and norm-preserving,
    but destroying cross-copy n-gram overlap and cosine alignment at
    chance level (the sort key includes doc_id so no copy-wide
    canonical word order is introduced either). Naive exact copies
    would be dishonest for exactly the queries this probes: every LSH
    band bucket would N-fold-collide and the in-bucket verify would
    grow quadratically BY CONSTRUCTION, masking (or faking) a plan
    problem. Exact copies ARE honest for the relational tables: keys
    are disjoint, so group-by cardinalities and join fan-outs grow the
    way real data growth grows them. Content statistics (lengths,
    token counts, vector norms, value distributions) are preserved,
    which is what throughput linearity is measured against.
    nation/region ship unchanged (fixed-size dimensions, as in
    TPC-H)."""
    import pyspark.sql.functions as F

    done = os.path.join(out_dir, "_READY")
    if os.path.exists(done):
        with open(done) as f:
            if f.read().strip() == _tier_stamp(copies):
                return out_dir
        # stale layout from an older probe version: rebuild, don't
        # silently reuse (mirrors maintenance_probe._build_stamp)
        shutil.rmtree(out_dir, ignore_errors=True)
    # the pre-stamp tier dir from rounds <= 9 is dead weight if present
    shutil.rmtree("/tmp/spark_graft_sf0.3", ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import load_table

    def _perturb(name, df, i):
        if i == 0:
            return df
        if name == "documents":
            if i == 1:
                return df.withColumn("text", F.reverse(F.col("text")))
            if i == 2:
                return df.withColumn("text", F.upper(F.col("text")))
            words = F.split(F.trim(F.col("text")), r"\s+")
            # Sort key includes the word's POSITION: equal words have
            # equal (word, doc, copy) hashes and would otherwise sort
            # ADJACENT, manufacturing degenerate repeated-word n-grams
            # ("spark spark spark") with document frequencies three
            # orders of magnitude above anything in the base corpus —
            # measured blowing the exact shared-shingle pair join up
            # 1400x at the 10x tier. Position-salted hashes scatter
            # repeats, so per-copy shingle statistics stay at the base
            # data's frequency profile (honest growth).
            shuffled = F.array_join(
                F.transform(
                    F.array_sort(
                        F.transform(
                            words,
                            lambda w, idx: F.struct(
                                F.xxhash64(
                                    w, idx, F.col("doc_id"), F.lit(i)
                                ).alias("h"),
                                w.alias("w"),
                            ),
                        )
                    ),
                    lambda s: s.getField("w"),
                ),
                " ",
            )
            return df.withColumn("text", shuffled)
        if name == "embeddings":
            if i == 1:
                return df.withColumn(
                    "embedding",
                    F.transform(F.col("embedding"), lambda x: -x),
                )
            if i == 2:
                return df.withColumn(
                    "embedding", F.reverse(F.col("embedding"))
                )
            return df.withColumn(
                "embedding",
                F.transform(
                    F.col("embedding"),
                    lambda x, idx: x
                    * (
                        F.lit(1.0)
                        - 2.0
                        * F.pmod(
                            F.xxhash64(idx, F.lit(i)), F.lit(2)
                        ).cast("double")
                    ).cast("float"),
                ),
            )
        return df

    for name in ("region", "nation"):
        load_table(spark, base_dir, name).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
    for name, keys in _X3_KEYS.items():
        base = load_table(spark, base_dir, name)
        out = None
        for i in range(copies):
            v = _perturb(name, base, i)
            for k in keys:
                v = v.withColumn(k, F.col(k) + F.lit(i * _X3_OFF))
            out = v if out is None else out.unionByName(v)
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
    with open(done, "w") as f:
        f.write(_tier_stamp(copies) + "\n")
    return out_dir


def _tier_stamp(copies: int) -> str:
    """Identifies the tier builder's parameters — a cached /tmp tier
    built by an OLDER probe version (different key map, offset, copy
    count, or perturbation scheme) must be rebuilt, not silently
    reused."""
    return json.dumps({
        "keys": _X3_KEYS,
        "offset": _X3_OFF,
        "copies": copies,
        "perturbation": 3,  # bump when _perturb's scheme changes
        "layout": 1,  # bump when the on-disk construction changes
    }, sort_keys=True)


_probe_seq = 0


def group_work(spark, group: str) -> tuple[dict, list[dict]]:
    """Executor work of Spark job group ``group``: the totals
    :func:`perfbench.layers.attribute` sums (``jobs``, ``task_s``,
    ``cpu_s``, shuffle bytes, ...) and the group's non-skipped stage
    attempts. One REST read, taken after the listener bus has seen every
    job end, so the last stage's metrics are in. Jobs started from
    threads that inherit the caller's local properties (thread pools
    wrapped with ``inheritable_thread_target``, broadcast and subquery
    threads) carry the group too."""
    jobs, stages = SparkRest(spark).jobs_and_stages()
    mine = [j for j in jobs if j.get("jobGroup") == group]
    tot = attribute(mine, stages, label_of=lambda j: "u").get(
        "u", empty_totals()
    )
    stage_ids = sorted({sid for j in mine for sid in j.get("stageIds", [])})
    attempts = [
        a for sid in stage_ids for a in stages.get(sid, [])
        if a.get("status") != "SKIPPED"
    ]
    return tot, attempts


def drain_in_group(spark, build, label: str) -> tuple[float, str]:
    """Build a DataFrame via ``build()`` and drain it to a noop sink
    inside a fresh Spark job group; return (wall seconds, the group).
    Wall covers plan construction and execution."""
    global _probe_seq
    _probe_seq += 1
    group = f"scale-probe-{_probe_seq}"
    sc = spark.sparkContext
    sc.setJobGroup(group, label)
    try:
        start = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        el = round(time.perf_counter() - start, 3)
    finally:
        sc.setJobGroup("", "")
    return el, group


def timed_noop(spark, build, label: str) -> tuple[float, int, float]:
    """The probes' timed unit: :func:`drain_in_group`, then the group's
    work from :func:`group_work`. Returns (wall seconds, Spark job
    count, executor task seconds). A job count that grows with data
    size marks a driver loop whose trip count depends on the data.
    Needs the Spark UI (``SPARK_GRAFT_UI=true`` before the session
    starts)."""
    el, group = drain_in_group(spark, build, label)
    tot, _ = group_work(spark, group)
    return el, tot["jobs"], round(tot["task_s"], 3)


def _timed_run(spark, name: str, sf_dir: str) -> tuple[float, int, float]:
    return timed_noop(
        spark,
        lambda: CATALOG[name].fn(spark, sf_dir),
        f"{name} @ {sf_dir}",
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--extra-tier", action="store_true",
        help="also time every selected query on a synthetic Nx "
             "full-schema tier derived from sf0.1 (N = --copies)",
    )
    ap.add_argument(
        "--copies", type=int, default=3,
        help="copy count for the synthetic extra tier (3 = sf0.3, "
             "10 = a full decade above sf0.1)",
    )
    ap.add_argument("queries", nargs="*", help="subset of catalog names")
    args = ap.parse_args()

    names = args.queries or sorted(CATALOG)
    unknown = set(names) - set(CATALOG)
    if unknown:
        raise SystemExit(f"unknown queries: {sorted(unknown)}")

    # task time reads the status REST API -> UI on for this session
    # (must be set before the session is built)
    os.environ.setdefault("SPARK_GRAFT_UI", "true")
    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up absorbs JVM/codegen startup
    CATALOG["event_type_rank"].fn(spark, SF_DIRS[0][1]).write.format(
        "noop"
    ).mode("overwrite").save()

    timings: dict[str, dict[str, float]] = {n: {} for n in names}
    jobs_hi: dict[str, int] = {}
    task_hi: dict[str, float] = {}
    for _ in range(args.runs):
        for sf, sf_dir in SF_DIRS:
            for name in names:
                el, jobs, task = _timed_run(spark, name, sf_dir)
                cur = timings[name].get(sf)
                if cur is None or el < cur:
                    timings[name][sf] = el
                if sf == SF_DIRS[-1][0]:
                    # max across runs: caching never lowers the bound
                    jobs_hi[name] = max(jobs_hi.get(name, 0), jobs)
                    task_hi[name] = min(task_hi.get(name, task), task)

    extra: dict[str, float] = {}
    jobs_x3: dict[str, int] = {}
    task_x3: dict[str, float] = {}
    copies = args.copies
    xkey = f"x{copies}"
    # sf-equivalent label: 3 copies of sf0.1 -> "0.3", 10 -> "1.0"
    sf_equiv = f"{0.1 * copies:.1f}"
    guarded: dict[str, str] = {}
    if args.extra_tier:
        tier_dir = _materialize_tier(
            spark,
            SF_DIRS[-1][1],
            f"/tmp/spark_graft_sf{sf_equiv}_full",
            copies,
        )
        from real_time_video_streaming_analytics_lakehouse_spark.operators.util import (
            ScaleGuardrailError,
        )

        for _ in range(args.runs):
            for name in names:
                try:
                    el, jobs, task = _timed_run(spark, name, tier_dir)
                except ScaleGuardrailError as e:
                    # a scale guardrail fired (round 14: the ngram
                    # exact arm's corpus ceiling) — record the refusal
                    # instead of aborting the probe; the guarded arm's
                    # last measured number stays in the committed
                    # SCALING.json history. ONLY the dedicated type:
                    # any other ValueError is a real failure and must
                    # crash the probe, not masquerade as a refusal.
                    guarded[name] = str(e)
                    continue
                if name not in extra or el < extra[name]:
                    extra[name] = el
                jobs_x3[name] = max(jobs_x3.get(name, 0), jobs)
                task_x3[name] = min(task_x3.get(name, task), task)

    report: dict[str, dict] = {}
    flagged: list[str] = []
    flagged_jobs: list[str] = []
    _, mid, hi = (sf for sf, _ in SF_DIRS)
    for name in names:
        t = timings[name]
        ratio = round(t[hi] / t[mid], 2)
        report[name] = {**t, "decade_ratio": ratio}
        report[name]["jobs"] = jobs_hi[name]
        report[name]["task_sec"] = task_hi[name]
        if name in extra:
            # Nx the sf0.1 data; linear work lands at <= ~N (fixed
            # overhead pulls it down, skew pulls it up slightly)
            report[name][sf_equiv] = extra[name]
            report[name][f"{xkey}_ratio"] = round(extra[name] / t[hi], 2)
            report[name][f"jobs_{xkey}"] = jobs_x3[name]
            report[name][f"task_sec_{xkey}"] = task_x3[name]
            # Job count must be ~data-size-independent: a declarative
            # plan launches a fixed number of jobs; iterative operators
            # (connected components) may add O(log growth) rounds — the
            # slack of +4 jobs covers log2 growth plus one AQE re-plan.
            # Anything beyond means a data-bound driver loop.
            if jobs_x3[name] > jobs_hi[name] + 4:
                flagged_jobs.append(name)
        if name in guarded:
            report[name][f"{xkey}_guarded"] = guarded[name]
        if ratio > FLAG_RATIO and t[hi] > 1.0:
            flagged.append(name)

    out = {
        "metric": "decade_growth_ratio",
        "sfs": [sf for sf, _ in SF_DIRS]
        + ([f"{sf_equiv}(synthetic {copies}x)"] if extra else []),
        "runs": args.runs,
        "flag_threshold": FLAG_RATIO,
        "queries": report,
        "flagged_superlinear": sorted(flagged),
        "flagged_job_growth": sorted(flagged_jobs),
    }
    if args.out:
        # Merge with any prior file instead of clobbering it. Two
        # distinct cases (round-11 fix, ADVICE r10):
        # - sections OTHER probes own (maintenance_probe --merge-into):
        #   top-level setdefault keeps them;
        # - sections THIS probe owns, written by an earlier invocation
        #   (the documented two-step workflow: full-catalog x3 run,
        #   then --copies 10 on the heavy subset into the same file):
        #   'queries' deep-merges per query (prior keys like '0.3'/
        #   'x3_ratio'/'jobs_x3' survive a later x10-only run and vice
        #   versa; keys this run measured win), 'sfs' unions, and a
        #   prior flag is kept only for queries this run did NOT
        #   re-measure (a re-measured query's verdict is the new one).
        if os.path.exists(args.out):
            try:
                with open(args.out) as f:
                    prior = json.load(f)
            except (OSError, json.JSONDecodeError):
                prior = {}
            _merge_prior(out, prior, names)
        with open(args.out, "w") as f:
            f.write(json.dumps(out) + "\n")
    print(json.dumps(out))


def _merge_prior(out: dict, prior: dict, names: list[str]) -> None:
    """Fold a prior --out file into this run's report, in place (see
    the comment at the call site for the ownership rules)."""
    for qname, qvals in (prior.get("queries") or {}).items():
        mine = out["queries"].setdefault(qname, {})
        for k, v in qvals.items():
            mine.setdefault(k, v)
    def _sf_key(label) -> float:
        # labels are '0.1' or '1.0(synthetic 10x)' — order by the
        # numeric prefix so a later x10-only run doesn't list its tier
        # before a prior x3 one (ADVICE r11)
        s = str(label)
        for i in range(len(s), 0, -1):
            try:
                return float(s[:i])
            except ValueError:
                continue
        return float("inf")

    out["sfs"] = sorted(
        dict.fromkeys(list(out["sfs"]) + (prior.get("sfs") or [])),
        key=_sf_key,
    )
    for fk in ("flagged_superlinear", "flagged_job_growth"):
        stale = [q for q in (prior.get(fk) or []) if q not in names]
        out[fk] = sorted(set(out.get(fk) or []) | set(stale))
    for k, v in prior.items():
        out.setdefault(k, v)


if __name__ == "__main__":
    main()
