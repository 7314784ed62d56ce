"""Deduplication operators.

* :func:`dedup_keep_latest` — the reference's keep-latest-record dedup
  (``spark-jobs/etl_framework.py:251-277``), expressed as a
  ``row_number`` window so "latest" is well-defined under ties.
* :func:`exact_dedup_groups` — exact content dedup via hash-groupBy.
* :func:`minhash_lsh_candidates` — MinHash + LSH banding near-duplicate
  candidate generation, the 100 TB-scale path where exact pairwise
  Jaccard is infeasible.

Scale notes:
  * keep-latest is a single hash-partition shuffle on the key columns;
    skewed keys are handled by AQE skew-join/partition splitting.
  * MinHash signatures are computed with ONE groupBy over exploded
    shingles using 64 independent ``xxhash64`` aggregates (JVM-side,
    no Python). LSH banding turns the O(n²) pair search into a
    shuffle-on-bucket join; at 100 TB the band-bucket groupBy is the
    only wide stage and buckets are tiny by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .util import ensure_parallelism


def dedup_keep_latest(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Keep exactly one (the latest) row per key.

    Ordering is ``order_col DESC`` with explicit tie-breaks so results
    are deterministic (the reference's version, etl_framework.py:259-264,
    is nondeterministic under equal timestamps).
    """
    order = [F.col(order_col).desc()] + [F.col(c).desc() for c in (tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup_groups(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact-duplicate groups by content hash.

    Returns one row per distinct content value: ``(text_hash, dup_count,
    canonical_<id>)`` where the canonical id is the smallest id in the
    group. A single map-side-combinable groupBy — linear at any scale.
    """
    return df.groupBy(F.md5(F.col(content_col)).alias("text_hash")).agg(
        F.count("*").alias("dup_count"),
        F.min(id_col).alias(f"canonical_{id_col}"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash signatures + LSH banding.

    Pipeline (all built-in functions, fully distributed):
      1. word shingles per doc (``split`` + ``transform`` over a
         ``sequence`` of offsets), explode → (doc, distinct shingle),
      2. ONE codegen'd hash aggregate per doc computing the 64-slot
         signature — the classic affine construction: each shingle is
         hashed ONCE behind a projection boundary (no CSE across
         aggregate buffers — the same per-bit lesson as the SimHash
         aggregate), and slot i takes ``min((a_i·h + b_i) mod p)`` over
         a fixed seeded universal family. The previous formulation
         called ``xxhash64(seed_i, shingle)`` 64× per row — string
         hashing per slot was the aggregate's dominant cost (measured
         ~2× slower end-to-end at sf0.1); multiply-add on the 31-bit
         reduced base hash keeps every product < 2^62 (ANSI-safe) with
         the same estimator quality. (This aggregate shape itself was
         already ~20x faster than the "clever" shuffle-free nested
         higher-order-function formulation, which falls out of
         whole-stage codegen and is re-inlined by CollapseProject.)
      3. slice the signature into ``bands`` bands, hash each band,
         explode → (band, band_hash, id) candidate buckets — the bucket
         self-join ships ONLY these 3 small columns, not the 64-slot
         signature payload,
      4. pair docs within a bucket, dedupe pairs, then re-attach the two
         signatures by joining the (small) signature table twice — AQE
         broadcasts it when it fits, plain shuffle join at 100 TB,
      5. estimate Jaccard as the fraction of matching signature slots.

    Returns ``(id_a, id_b, est_jaccard)`` with ``id_a < id_b``.
    """
    import random as _random

    from .text import exploded_word_shingles

    rows_per_band = num_perm // bands
    # Bytes-derived repartition target, not a full-width pin: a pin to
    # every core assumes the 64-slot aggregate is CPU-dense enough to
    # feed them, but a quiet-host stage_profile showed the pinned
    # 32-task signature stage at 20.7 s executorRunTime with only
    # 4.8 s CPU — ~0.5 s/task of fixed blocked overhead on near-empty
    # tasks. At the bytes-derived width (10 at sf0.1) the same stage
    # runs 1.5 s / 1.1 s CPU and the query's task_total drops
    # 11–15 s → 2.0–2.5 s. At scale the input arrives wide and the
    # helper is a no-op either way.
    exploded = exploded_word_shingles(
        ensure_parallelism(df),
        id_col, text_col, shingle_size,
    ).withColumnRenamed("sh", "shingle")
    rnd = _random.Random(0xC0FFEE)  # fixed seed: signatures reproducible
    perms = [
        (rnd.randrange(1, 1 << 31) | 1, rnd.randrange(0, 1 << 31))
        for _ in range(num_perm)
    ]
    mersenne = (1 << 61) - 1
    hashed = exploded.select(
        F.col(id_col),
        F.xxhash64("shingle").bitwiseAND(F.lit((1 << 31) - 1)).alias("_h"),
    )
    h = F.col("_h")
    sig = hashed.groupBy(id_col).agg(
        *[
            F.min((h * F.lit(a) + F.lit(b)) % F.lit(mersenne)).alias(f"h{i}")
            for i, (a, b) in enumerate(perms)
        ]
    )
    sig = sig.select(
        id_col, F.array(*[f"h{i}" for i in range(num_perm)]).alias("sig")
    ).localCheckpoint(eager=False)
    # ^ the signature aggregate (shingle explode + 64 min-hash slots) is
    # read FOUR times below (bucket self-join + both signature joins);
    # without materialization each reference re-runs it.
    buckets = sig.withColumn(
        "band", F.explode(F.sequence(F.lit(0), F.lit(bands - 1)))
    ).select(
        id_col,
        "band",
        F.xxhash64(
            "band", F.slice("sig", F.col("band") * rows_per_band + 1, rows_per_band)
        ).alias("band_hash"),
    )
    pairs = (
        buckets.select(F.col(id_col).alias("id_a"), "band", "band_hash")
        .join(
            buckets.select(F.col(id_col).alias("id_b"), "band", "band_hash"),
            ["band", "band_hash"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    with_sigs = pairs.join(
        sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
    ).join(
        sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")), "id_b"
    )
    est = F.round(
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda a, b: (a == b).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(float(num_perm)),
        6,
    )
    return (
        with_sigs.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .select("id_a", "id_b", "est_jaccard")
    )


def simhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    chunks: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate candidates via 64-bit SimHash + chunk banding.

    SimHash bit i is the sign of Σ_tokens (±1 by bit i of
    ``xxhash64(token)``) — computed as one codegen'd hash aggregate with
    64 conditional sums (same shape as the MinHash signature aggregate).
    Candidate generation uses the pigeonhole guarantee: split the 64
    bits into ``chunks`` equal chunks; any pair with Hamming distance
    < ``chunks`` shares at least one identical chunk, so an equi-join on
    (chunk_idx, chunk_value) finds every such pair. Exact Hamming
    distance is then verified with ``zip_with``.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``,
    ``hamming <= max_hamming``.

    Chunk-width tuning: narrow chunks (8 x 8-bit) collide massively on
    corpora whose signatures are correlated (e.g. shared vocabulary),
    degenerating to an O(n^2) candidate join — measured 33 s vs 2 s at
    sf0.1. Default is 4 x 16-bit chunks (exact for hamming <= 3); raise
    ``chunks`` only for corpora with near-uniform signatures.
    """
    # No ensure_parallelism here (tried and reverted): the
    # two-partition token explode feeds a partial aggregate that the
    # exchange re-spreads anyway, and interleaved A/B at sf0.1 showed
    # the wrapped variant >= the unwrapped one (min 4.39 vs 4.07 s;
    # the fused query also regressed in-bench with the wrap).
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok")
    )
    # Hash once per token behind a projection boundary: referencing
    # xxhash64(tok) inside all 64 aggregate update expressions
    # re-computes the hash 64x per row (no CSE across aggregate
    # buffers) — hoisting it cut the signature aggregate ~4x. The
    # conditional +-1 is algebraic ((bit*2)-1) for the same reason:
    # a branch per bit per row adds up at 64 bits x corpus.
    hashed = toks.select(F.col(id_col), F.xxhash64("tok").alias("_h"))
    h = F.col("_h")
    sig = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    sig = sig.select(
        id_col,
        F.array(
            *[(F.col(f"b{i}") > 0).cast("int") for i in range(bits)]
        ).alias("sig"),
    ).localCheckpoint(eager=False)
    # ^ the signature aggregate (token explode + 64 conditional sums) is
    # read FOUR times below (bucket self-join + both verification
    # joins); without materialization each reference re-runs it.
    chunk_width = bits // chunks
    buckets = sig.withColumn(
        "chunk", F.explode(F.sequence(F.lit(0), F.lit(chunks - 1)))
    ).select(
        id_col,
        "chunk",
        F.xxhash64(
            "chunk", F.slice("sig", F.col("chunk") * chunk_width + 1, chunk_width)
        ).alias("chunk_hash"),
    )
    pairs = (
        buckets.select(F.col(id_col).alias("id_a"), "chunk", "chunk_hash")
        .join(
            buckets.select(F.col(id_col).alias("id_b"), "chunk", "chunk_hash"),
            ["chunk", "chunk_hash"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    with_sigs = pairs.join(
        sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
    ).join(
        sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")), "id_b"
    )
    hamming = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda a, b: (a != b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        with_sigs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
