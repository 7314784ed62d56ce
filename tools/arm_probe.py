"""Per-arm scale attribution for the fused catalog entries.

A fused multi-arm query measured as one wall can hide one arm's
super-linearity, so every fused entry with an ``arms=`` knob is timed
per arm at sf0.1 and on the synthetic ×N full-schema tier (default ×30)
with :func:`scale_probe.timed_noop`, the timed unit the scale probe
uses. Each entry carries min-of-N wall and executor task seconds
(``task_sec``) per tier and the max Spark job count.

For the stacked-row entries (hash_dedup_candidates,
embedding_dedup_clusters, ngram_jaccard_top_pairs) an arm is one slice
of the output; for doc_dedup_fingerprints and text_quality the arms are
column families over a shared base, so the probe also times the base
alone — a family's attributable cost is (family − base), since every
family run carries the base scan and joins.

Usage::

    python tools/arm_probe.py [--runs N] [--copies N] [--out SCALING.json]
                              [queries ...]

Writes or merges a top-level ``arm_split_x{N}`` section into ``--out``;
entries from earlier invocations survive a subset re-measure, and each
entry carries its own ``runs``. The ngram exact arm is excluded (it is
super-linear by contract and needs ~48g driver memory at ×30); pass
``ngram_jaccard_top_pairs`` explicitly to measure its stopcap arm.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scale_probe import SF_DIRS, _materialize_tier, timed_noop  # noqa: E402

from real_time_video_streaming_analytics_lakehouse_spark.plans import (  # noqa: E402
    events_views,
    llm_ops,
)
from real_time_video_streaming_analytics_lakehouse_spark.session import get_spark  # noqa: E402

#: per query: the arm tuples to time separately. () = base only
#: (doc_dedup's and text_quality's column families share a base that
#: must be subtracted).
SPECS: dict[str, list[tuple[str, ...]]] = {
    "hash_dedup_candidates": [("minhash",), ("simhash",)],
    "embedding_dedup_clusters": [
        ("exact",), ("centroid_outlier",), ("semdedup_k4",),
    ],
    "doc_dedup_fingerprints": [(), ("holdout",), ("winnow",), ("span",)],
    "ann_topk": [
        ("brute",), ("ivf_full_probe",), ("pq_full_refine",),
        ("ivfpq_persisted",),
    ],
    "sessionize_rollup": [("gap_lag",), ("native_window",)],
    # text_quality's column families over the shared checkpointed scan
    # — attribute a family as (family - base); the catalog plan itself
    # stays fused.
    "text_quality": [
        (), ("lang_id",), ("lm",), ("repetition",), ("tfidf",),
        ("bm25",), ("gate_exact",), ("gate_approx",),
    ],
    # stopcap only: the exact arm is super-linear BY CONTRACT (all
    # pairs over duplicate-saturated input) and needs ~48g driver
    # memory at x30 — measured once (SCALING.json
    # ngram_arm_split_x30), not worth re-paying per probe run.
    "ngram_jaccard_top_pairs": [("stopcap",)],
}

#: measured by default — ngram needs explicit selection (see above).
DEFAULT_QUERIES = [
    "hash_dedup_candidates",
    "embedding_dedup_clusters",
    "doc_dedup_fingerprints",
    "ann_topk",
    "sessionize_rollup",
    "text_quality",
]


def _query_fn(name: str):
    for mod in (llm_ops, events_views):
        fn = getattr(mod, name, None)
        if fn is not None:
            return fn
    raise AttributeError(f"no plans module defines {name}")


def _arm_label(arms: tuple[str, ...]) -> str:
    return "+".join(arms) if arms else "base"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--copies", type=int, default=30)
    ap.add_argument("--out", default=None)
    ap.add_argument("queries", nargs="*", help="subset of SPECS keys")
    args = ap.parse_args()

    names = args.queries or DEFAULT_QUERIES
    unknown = set(names) - set(SPECS)
    if unknown:
        raise SystemExit(f"no arm spec for: {sorted(unknown)}")

    # task time reads the status REST API -> UI on for this session
    # (must be set before the session is built)
    os.environ.setdefault("SPARK_GRAFT_UI", "true")
    spark = get_spark("arm_probe")
    spark.sparkContext.setLogLevel("ERROR")
    base_dir = SF_DIRS[-1][1]  # sf0.1
    sf_equiv = f"{0.1 * args.copies:.1f}"
    tier_dir = _materialize_tier(
        spark, base_dir, f"/tmp/spark_graft_sf{sf_equiv}_full", args.copies
    )
    # warm-up absorbs JVM/codegen startup
    timed_noop(
        spark,
        lambda: llm_ops.hash_dedup_candidates(spark, base_dir),
        "warmup",
    )

    xkey = f"x{args.copies}"
    report: dict[str, dict[str, dict]] = {}
    for name in names:
        fn = _query_fn(name)
        report[name] = {}
        for arms in SPECS[name]:
            label = _arm_label(arms)
            best: dict[str, float] = {}
            task_best: dict[str, float] = {}
            jobs: dict[str, int] = {}
            for _ in range(args.runs):
                for tier, d in (("0.1", base_dir), (xkey, tier_dir)):
                    el, j, task = timed_noop(
                        spark,
                        lambda: fn(spark, d, arms=arms),
                        f"{name}[{label}] @ {d}",
                    )
                    best[tier] = min(best.get(tier, el), el)
                    task_best[tier] = min(task_best.get(tier, task), task)
                    jobs[tier] = max(jobs.get(tier, 0), j)
            entry = {
                "0.1": best["0.1"],
                xkey: best[xkey],
                f"{xkey}_ratio": round(best[xkey] / best["0.1"], 2),
                "jobs": jobs["0.1"],
                f"jobs_{xkey}": jobs[xkey],
                "runs": args.runs,
                "task_sec": task_best["0.1"],
                f"task_sec_{xkey}": task_best[xkey],
            }
            report[name][label] = entry
            print(json.dumps({name: {label: entry}}))

    section = f"arm_split_{xkey}"
    note = (
        "per-arm walls via the arms= knobs; min-of-N per entry ('runs' "
        "key), jobs = max; doc_dedup_fingerprints and text_quality arms "
        "are column families over a shared base — attribute a family as "
        "(family - base); task_sec = executor task time of the run's "
        "Spark job group (status REST API, min over the same runs); "
        "keys this note does not describe (host-probe 'refs*', "
        "'degraded', 'ref_mem_mt') come from earlier invocations"
    )
    out_obj = {section: {"note": note, "queries": report}}
    if args.out:
        prior = {}
        if os.path.exists(args.out):
            try:
                with open(args.out) as f:
                    prior = json.load(f)
            except (OSError, json.JSONDecodeError):
                prior = {}
        # a subset re-measure keeps the entries it did not re-measure
        sec = prior.setdefault(section, {})
        sec["note"] = note
        sec["queries"] = {**sec.get("queries", {}), **report}
        with open(args.out, "w") as f:
            f.write(json.dumps(prior) + "\n")
    print(json.dumps(out_obj))


if __name__ == "__main__":
    main()
