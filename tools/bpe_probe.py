"""Scale rows for the DISTRIBUTED BPE trainer (VERDICT r14 next-round
#4).

``operators/bpe.py::train_bpe`` is the 100 TB training path: ONE
corpus scan builds the word-TYPE frequency table (the only stage whose
cost is proportional to corpus size), then every merge iteration runs
on that vocabulary-shaped state — by Zipf's law its size is bounded by
the vocabulary, not the corpus, so the claim is that per-merge cost is
~corpus-size-independent and total wall ≈ scan(n) + num_merges × const,
with Spark JOB count ∝ num_merges (one pair-count aggregate + one
1-row argmax collect per merge, plus periodic checkpoints), NOT ∝ n.
That claim had pytest equality but no measurement — exactly the kind
of assertion the ×N tier exists to test.

This probe times ``train_bpe`` (fixed ``--merges``, min_frequency=2)
over the ``documents`` table at sf0.1 and on the synthetic ×3/×10/×30
full-schema tiers (scale_probe's generator — content-perturbed copies,
word-multiset preserved, so the word-type table grows sub-linearly the
way real corpus growth grows it), min-of-``--runs`` wall + max jobs
per tier.

Expected shape: jobs IDENTICAL at every tier; wall growing far slower
than data (the merge loop's share is flat; only the initial scan and
the word-type groupBy grow).

Usage::

    python tools/bpe_probe.py [--runs N] [--merges M]
                              [--copies 3 10 30] [--out SCALING.json]

Writes/merges a top-level ``bpe_train_scale`` section into ``--out``
(other probes' sections are preserved).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scale_probe import SF_DIRS, _materialize_tier  # noqa: E402

from real_time_video_streaming_analytics_lakehouse_spark.operators.bpe import train_bpe  # noqa: E402
from real_time_video_streaming_analytics_lakehouse_spark.session import get_spark  # noqa: E402
from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import load_table  # noqa: E402

_seq = 0


def _timed_train(spark, sf_dir: str, merges: int) -> tuple[float, int, int]:
    """(wall seconds, Spark job count, merges learned) for one full
    train_bpe run over the tier's documents table."""
    global _seq
    _seq += 1
    group = f"bpe-probe-{_seq}"
    sc = spark.sparkContext
    docs = load_table(spark, sf_dir, "documents")
    sc.setJobGroup(group, f"train_bpe @ {sf_dir}")
    try:
        start = time.perf_counter()
        learned = train_bpe(docs, num_merges=merges, min_frequency=2)
        el = round(time.perf_counter() - start, 3)
    finally:
        sc.setJobGroup("", "")
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return el, jobs, len(learned)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--merges", type=int, default=8)
    ap.add_argument("--copies", type=int, nargs="*", default=[3, 10, 30])
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    spark = get_spark("bpe_probe")
    spark.sparkContext.setLogLevel("ERROR")
    base_dir = SF_DIRS[-1][1]  # sf0.1

    tiers: list[tuple[str, str]] = [("0.1", base_dir)]
    for c in args.copies:
        sf_equiv = f"{0.1 * c:.1f}"
        tiers.append((
            f"x{c}",
            _materialize_tier(
                spark, base_dir, f"/tmp/spark_graft_sf{sf_equiv}_full", c
            ),
        ))

    # warm-up: one full train at the base tier absorbs JVM/codegen and
    # the parquet footer caches
    _timed_train(spark, base_dir, args.merges)

    report: dict[str, dict] = {}
    for _ in range(args.runs):
        for tier, d in tiers:
            el, jobs, learned = _timed_train(spark, d, args.merges)
            row = report.setdefault(tier, {"wall_sec": el})
            row["wall_sec"] = min(row["wall_sec"], el)
            row["jobs"] = max(row.get("jobs", 0), jobs)
            row["merges_learned"] = learned
            print(json.dumps({tier: row}))

    base_wall = report["0.1"]["wall_sec"]
    for tier, row in report.items():
        if tier != "0.1":
            row["ratio_vs_0.1"] = round(row["wall_sec"] / base_wall, 2)

    section = {
        "note": (
            "distributed train_bpe (num_merges=%d, min_frequency=2) "
            "over documents at sf0.1 and the synthetic xN tiers; "
            "min-of-%d wall, jobs = max (must be ~constant across "
            "tiers: ∝ num_merges, not corpus size)"
            % (args.merges, args.runs)
        ),
        "merges": args.merges,
        "runs": args.runs,
        "tiers": report,
    }
    out_obj = {"bpe_train_scale": section}
    if args.out:
        prior = {}
        if os.path.exists(args.out):
            try:
                with open(args.out) as f:
                    prior = json.load(f)
            except (OSError, json.JSONDecodeError):
                prior = {}
        prior["bpe_train_scale"] = section
        with open(args.out, "w") as f:
            f.write(json.dumps(prior) + "\n")
    print(json.dumps(out_obj))


if __name__ == "__main__":
    main()
