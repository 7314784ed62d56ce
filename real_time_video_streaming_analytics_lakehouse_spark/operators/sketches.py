"""Mergeable cardinality sketches (Datasketches HLL, Spark 4 built-ins).

Exact ``count_distinct`` is the one common aggregate incremental
maintenance cannot combine (sum+sum and max(max) decompose;
distinct-over-history does not — every distinct value of a key would
have to ship to one reducer, and yesterday's count can't be added to
today's). The standard at-scale answer is to PERSIST THE
SKETCH, not the number: an HLL sketch is a fixed-size (~2^lg_k bytes)
binary summary whose union is register-wise max — associative,
commutative, idempotent — so

* per-partition/day sketches build in one map-side-combinable pass,
* any rollup (week over days, global over shards) is a tiny union over
  stored sketches instead of a rescan of raw history,
* re-delivering a batch is harmless (idempotent union), which makes
  sketch columns safe in exactly-once streaming sinks.

All three functions are thin compositions of the JVM-side built-ins
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_union`` /
``hll_sketch_estimate``) — no UDFs. Estimates carry the usual HLL
error (~1.04/√2^lg_k ≈ 1.6% at the default lg_k=12); the estimate of
a union of sketches is IDENTICAL to the estimate of one sketch over
the concatenated input (register-wise max), pinned by test.

The reference's closest surface is Snowflake ``APPROX_COUNT_DISTINCT``
inside its views (sql-scripts/analytics_views.sql); persisting
mergeable sketches extends that to incremental maintenance, which the
reference recomputes from raw history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_LG_K = 12


def sketch_distinct(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    sketch_col: str = "sketch",
    lg_k: int = DEFAULT_LG_K,
) -> DataFrame:
    """One HLL sketch per key group over ``value_col`` — the build
    pass. Map-side combinable like any hash aggregate; the shuffled
    payload is one ~2^lg_k-byte binary per (key, input partition)."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias(sketch_col)
    )


def rollup_sketches(
    df: DataFrame,
    keys: list[str],
    sketch_col: str = "sketch",
    estimate_col: str = "distinct_est",
    keep_sketch: bool = False,
) -> DataFrame:
    """Union stored sketches up to coarser keys (days → week, shards →
    global) and estimate — the read path that replaces a raw-history
    rescan. With ``keep_sketch`` the merged binary is kept so the
    rollup itself remains further-mergeable."""
    merged = F.hll_union_agg(sketch_col)
    aggs = [F.hll_sketch_estimate(merged).alias(estimate_col)]
    if keep_sketch:
        aggs.insert(0, merged.alias(sketch_col))
    return df.groupBy(*keys).agg(*aggs)


def combine_sketch_tables(
    existing: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sketch_col: str = "sketch",
    allow_different_lg_k: bool = False,
) -> DataFrame:
    """Incremental maintenance step: merge a stored per-key sketch
    table with the sketches of newly arrived data — one full-outer key
    join, union where both sides exist, pass-through otherwise. The
    result is row-identical (in estimate) to rebuilding from all raw
    data, at the cost of scanning only the delta.

    The key join is NULL-SAFE: a NULL key group (e.g. ``to_date`` of a
    corrupt timestamp) on both sides merges into ONE row like any other
    key — a plain ``join(keys)`` would never match NULL=NULL and emit
    two rows forever, silently splitting that group's estimate.

    ``lg_k`` is frozen at table creation: ``hll_union`` of sketches
    built with different lg_k throws at runtime unless
    ``allow_different_lg_k`` downgrades both to the smaller precision —
    rebuilding the stored table at the new lg_k is the better fix.
    """
    e = existing.select(
        *[F.col(k).alias(f"_ek_{k}") for k in keys],
        F.col(sketch_col).alias("_old"),
    )
    d = delta.select(
        *[F.col(k).alias(f"_dk_{k}") for k in keys],
        F.col(sketch_col).alias("_new"),
    )
    cond = None
    for k in keys:
        c = F.col(f"_ek_{k}").eqNullSafe(F.col(f"_dk_{k}"))
        cond = c if cond is None else cond & c
    both = F.hll_union("_old", "_new", allow_different_lg_k)
    return (
        e.join(d, cond, "full_outer")
        .select(
            *[
                F.coalesce(F.col(f"_ek_{k}"), F.col(f"_dk_{k}")).alias(k)
                for k in keys
            ],
            F.when(F.col("_old").isNull(), F.col("_new"))
            .when(F.col("_new").isNull(), F.col("_old"))
            .otherwise(both)
            .alias(sketch_col),
        )
    )


# --- count-min sketch (frequency / heavy-hitter counterpart) --------------

def _cms_bucket(value_col: str, row: int, width: int, seed: int):
    """Independent per-row bucket hash, derived from md5 so the sketch
    is BIT-REPRODUCIBLE in any engine with ``md5`` (the same technique
    sampling.py uses for content-hash membership): 60 bits of
    ``md5(seed|row|value)`` parsed as hex, mod width. An
    ``xxhash64``-based bucket would be Spark-only — unreproducible in
    the DuckDB oracle and in any non-JVM consumer of a persisted
    sketch table. SQL mirror per (row d, value v)::

        CAST('0x' || substr(md5(seed || '|' || d || '|' || v), 1, 15)
             AS BIGINT) % width
    """
    h = F.md5(
        F.concat_ws(
            "|", F.lit(str(seed)), F.lit(str(row)),
            F.col(value_col).cast("string"),
        )
    )
    return F.pmod(
        F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint"), F.lit(width)
    )


def _cms_guard(keys: list[str], value_col: str | None = None) -> None:
    reserved = {"_d", "_b", "cnt", "_rb"} & {*keys, *([value_col] if value_col else [])}
    if reserved:
        raise ValueError(
            f"CMS helpers reserve column names {sorted(reserved)}; "
            "rename them on the input frames"
        )


def _cms_rows(value_col: str, depth: int, width: int, seed: int):
    """The shared probe layout: explode a value into its ``depth``
    (hash row, bucket) pairs — used identically by build and estimate
    so the two sides can never disagree on the hashing."""
    return F.explode(
        F.array(*[
            F.struct(
                F.lit(d).alias("_d"),
                _cms_bucket(value_col, d, width, seed).alias("_b"),
            )
            for d in range(depth)
        ])
    ).alias("_rb")


def cms_build(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    depth: int = 5,
    width: int = 2048,
    seed: int = 0x5EED,
) -> DataFrame:
    """Count-min sketch per key group over ``value_col``, as a TABLE:
    one row per (keys, hash row ``_d``, bucket ``_b``) with the exact
    collision count ``cnt`` — ≤ ``depth×width`` rows per group however
    many distinct values the group holds, which is the entire point
    (a frequency table over a high-cardinality column at 100 TB cannot
    be kept exact; ~10k sketch rows per group can).

    Tabular instead of an opaque binary deliberately: the build is one
    explode + one map-side-combinable count aggregate (JVM built-ins,
    no UDF), merging is ``groupBy.sum`` (exact integer addition — CMS
    is linear, so a merged table is ROW-IDENTICAL to rebuilding over
    the concatenated input, pinned by test), and estimates are plain
    equi-joins — every piece stays inside Catalyst, unlike Spark's
    ``count_min_sketch`` binary which has no union builtin at all.

    Standard CMS guarantees apply: estimates never undercount, and
    overcount by more than ``e·N/width`` with probability at most
    ``e^-depth`` (N = group row count). NULL values are EXCLUDED, the
    same population rule as ``hll_sketch_agg`` and exact ``count(col)``
    — without the filter every NULL row would hash to one fixed bucket
    per row and masquerade as a single hot value.
    """
    _cms_guard(keys, value_col)
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*keys, _cms_rows(value_col, depth, width, seed))
        .select(*keys, "_rb._d", "_rb._b")
        .groupBy(*keys, "_d", "_b")
        .agg(F.count("*").alias("cnt"))
    )


def cms_merge(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """Merge two sketch tables built with the SAME (depth, width,
    seed): union + sum — associative and commutative; counter addition
    makes the result exactly the sketch of the concatenated inputs."""
    _cms_guard(keys)
    return (
        a.unionByName(b)
        .groupBy(*keys, "_d", "_b")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    keys: list[str],
    value_col: str,
    depth: int = 5,
    width: int = 2048,
    seed: int = 0x5EED,
    estimate_col: str = "freq_est",
) -> DataFrame:
    """Frequency estimate for each (keys, value) row of ``items``:
    min over the ``depth`` matched buckets, 0 when a bucket row is
    absent (absent bucket = nothing ever hashed there). The sketch side
    is ≤ depth×width rows per group — broadcastable; the probe is
    ``depth`` equi-join rows per item, no wide stage beyond the final
    per-item min. NULL probe values are dropped (NULLs are outside the
    sketched population — see :func:`cms_build`).

    The key match is NULL-SAFE (``<=>``), mirroring
    :func:`combine_sketch_tables`: a NULL key GROUP (e.g. ``to_date``
    of a corrupt timestamp) is a legitimate sketched group, and a plain
    equi-join would never match it — estimating its every value as 0
    and silently breaking the never-undercounts guarantee for exactly
    the dirty-data groups sketches exist to count."""
    _cms_guard(keys, value_col)
    probes = items.filter(F.col(value_col).isNotNull()).select(
        *keys,
        F.col(value_col),
        _cms_rows(value_col, depth, width, seed),
    ).select(*keys, value_col, "_rb._d", "_rb._b")
    sk = sketch.select(
        *[F.col(k).alias(f"_sk_{k}") for k in keys],
        F.col("_d").alias("_sk_d"),
        F.col("_b").alias("_sk_b"),
        F.col("cnt"),
    )
    cond = (F.col("_d") == F.col("_sk_d")) & (F.col("_b") == F.col("_sk_b"))
    for k in keys:
        cond = cond & F.col(k).eqNullSafe(F.col(f"_sk_{k}"))
    return (
        probes.join(sk, cond, "left_outer")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
        .groupBy(*keys, value_col)
        .agg(F.min("cnt").alias(estimate_col))
    )
