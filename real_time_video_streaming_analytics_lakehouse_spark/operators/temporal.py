"""Temporal joins: as-of (point-in-time) matching and binned interval
overlap joins — the two join classes Spark's optimizer has no operator
for (it falls back to BroadcastNestedLoopJoin or a per-key candidate
explosion; both rewrites here are linear equi-join/window plans).

:func:`asof_join` attaches to each left row the single most recent
right row at or before its timestamp, per key — the kdb/pandas
``merge_asof`` / DuckDB ``ASOF JOIN`` semantics that every event
pipeline eventually needs (latest price at trade time, latest view
before purchase, latest config at event time). The reference's closest
construct is the correlated interval join of its attribution view
(``sql-scripts/analytics_views.sql`` V_PURCHASE_ATTRIBUTION), which
answers only EXISTENCE; as-of answers WHICH row, with a bounded plan.

Scale shape — why not a range join: the naive formulation
``l JOIN r ON key AND r.ts <= l.ts [AND r.ts > l.ts - tol]`` explodes
to one row per (left, candidate) pair before aggregating the max — at
100 TB a skewed key's candidate set is quadratic in its event count.
This implementation is the union-merge formulation instead:

1. union left and right rows into one (key, ts, side) stream,
2. one window per key ordered by (ts, side) — a single hash-partition
   SHUFFLE on the join key, the only wide stage,
3. ``last(<right payload>, ignorenulls=True)`` over the unbounded
   preceding frame hands every left row the latest right row in O(1)
   per row — linear in the partition, no candidate blow-up,
4. filter back to left rows; tolerance is a post-filter on the matched
   timestamp (nulling the payload, preserving the left row).

Determinism: multiple right rows sharing one (key, ts) are ordered by
``tiebreak`` (the LAST one wins, matching keep-latest semantics); pass
an id-like column whenever right timestamps can tie, otherwise the
winner is partition-order-dependent — same contract as
``dedup_keep_latest``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.dialect import epoch_us, floor_div


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    tolerance_us: int | None = None,
    allow_exact_matches: bool = True,
    tiebreak: str | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """Left as-of join: every left row, plus the latest right row with
    ``right_ts <= left_ts`` (strict ``<`` when ``allow_exact_matches``
    is False) for the same ``on`` key — or NULLs when no right row
    qualifies (within ``tolerance_us`` microseconds, if given).

    Right columns keep their names; a name also present on the left
    gains ``suffix``. ``right_ts`` must not be a join key (the matched
    timestamp is part of the payload — tolerance and callers need it).
    """
    keys = [on] if isinstance(on, str) else list(on)
    if right_ts in keys:
        raise ValueError(f"right_ts {right_ts!r} cannot be a join key")
    reserved = {"_ts", "_side", "_tb", "_r", "_m"} & (
        set(left.columns) | set(right.columns)
    )
    if reserved:
        raise ValueError(
            f"asof_join reserves column names {sorted(reserved)}; "
            "rename them on the input frames"
        )
    payload = [c for c in right.columns if c not in keys]
    out_names = {c: (c + suffix if c in left.columns else c) for c in payload}
    out_cols = [*keys, *(c for c in left.columns if c not in keys),
                *out_names.values()]
    if len(out_cols) != len(set(out_cols)):
        dupes = sorted({c for c in out_cols if out_cols.count(c) > 1})
        raise ValueError(
            f"asof_join output would contain duplicate columns {dupes} "
            f"(suffixed right name collides with a left column); pick a "
            f"different suffix or rename the inputs"
        )

    rstruct = F.struct(*[F.col(c) for c in payload])
    rtype = right.select(rstruct.alias("_r")).schema["_r"].dataType
    non_key_left = [c for c in left.columns if c not in keys]

    # side 0 = right, side 1 = left: at equal ts the right row sorts
    # FIRST, so the unbounded-preceding frame (which includes the
    # current row's predecessors and itself) sees it — that is
    # allow_exact_matches=True. Exclusive matching flips the order so
    # the equal-ts right row lands after the left row, outside its
    # frame. The tiebreak orders equal-(ts, side) right rows so "last
    # non-null" is well-defined; it is NULL on left rows (asc_nulls_last
    # keeps them after every tied right row without affecting sides —
    # side already separates them).
    r_exact_side, l_exact_side = (0, 1) if allow_exact_matches else (1, 0)
    # A NULL right timestamp can never satisfy right_ts <= left_ts, but
    # ASC NULLS FIRST would sort such a row before everything in its
    # key and last(ignorenulls) would hand its payload to any left row
    # with no real predecessor — drop those rows up front.
    r_side = right.filter(F.col(right_ts).isNotNull()).select(
        *keys,
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in non_key_left
        ],
        F.col(right_ts).alias("_ts"),
        F.lit(r_exact_side).alias("_side"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).alias("_tb"),
        rstruct.alias("_r"),
    )
    l_side = left.select(
        *keys,
        *non_key_left,
        F.col(left_ts).alias("_ts"),
        F.lit(l_exact_side).alias("_side"),
        F.lit(None).cast(r_side.schema["_tb"].dataType).alias("_tb"),
        F.lit(None).cast(rtype).alias("_r"),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(
            F.col("_ts").asc(), F.col("_side").asc(),
            F.col("_tb").asc_nulls_last(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        r_side.unionByName(l_side)
        .withColumn("_m", F.last("_r", ignorenulls=True).over(w))
        .filter(F.col("_side") == l_exact_side)
    )
    m = F.col("_m")
    if tolerance_us is not None:
        # epoch_us, not bare unix_micros: TIMESTAMP_NTZ inputs (parquet
        # NTZ columns) need the UTC-pinned cast the dialect helper does.
        gap = epoch_us(F.col("_ts")) - epoch_us(m.getField(right_ts))
        m = F.when(gap <= F.lit(tolerance_us), m)
    return matched.select(
        *keys,
        *non_key_left,
        *[m.getField(c).alias(out_names[c]) for c in payload],
    )


def scd2_from_history(
    history: DataFrame,
    keys: str | list[str],
    order_col: str,
    attr_cols: list[str],
    collapse_unchanged: bool = True,
) -> DataFrame:
    """Build a slowly-changing-dimension Type 2 table from a per-key
    change history: one validity interval per attribute version.

    ``history`` has one row per observed key state (a CDF's ``insert`` /
    ``update_postimage`` rows — see :meth:`..txlog.TxTable.read_changes`
    — or any event-sourced attribute log). Output: ``keys``,
    ``attr_cols``, ``valid_from`` (= ``order_col``), ``valid_to`` (the
    next version's ``valid_from``, NULL for the current row) and
    ``is_current`` (1/0 INT). Intervals partition each key's timeline:
    enriching facts against the result with :func:`asof_join` on
    ``valid_from`` is exactly a point-in-time lookup.

    ``collapse_unchanged`` drops rows whose attributes equal the
    previous version's (re-asserted unchanged state — e.g. an upsert
    that matched but changed nothing), so intervals describe attribute
    CHANGES, not write traffic. Comparison is null-safe via struct
    equality.

    Scale shape: two windows over the same (key, order) partitioning —
    ONE shuffle (the second window reuses the first's partitioning and
    sort), no joins, linear per key. The classic MERGE-based SCD2
    maintenance loop rewrites the dimension per batch; this derives the
    whole dimension from the change feed in one pass and composes with
    incremental CDF reads for maintenance.
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    if "_chg" in (*key_list, *attr_cols, order_col):
        raise ValueError(
            "scd2_from_history reserves the column name '_chg'; rename "
            "it on the input frame"
        )
    w = Window.partitionBy(*key_list).orderBy(F.col(order_col).asc())
    out = history.select(*key_list, F.col(order_col), *attr_cols)
    if collapse_unchanged:
        state = F.struct(*[F.col(c) for c in attr_cols])
        # eqNullSafe: NULL attrs must compare equal to NULL, and the
        # first row per key (lag = NULL struct) must be KEPT
        changed = ~state.eqNullSafe(F.lag(state).over(w))
        out = out.withColumn("_chg", changed).filter("_chg").drop("_chg")
    nxt = F.lead(order_col).over(w)
    return out.select(
        *key_list,
        *attr_cols,
        F.col(order_col).alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().cast("int").alias("is_current"),
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    on: str | list[str] | None = None,
    bin_width_us: int | None = None,
    suffix: str = "_right",
    max_bins_per_row: int | None = 10_000,
) -> DataFrame:
    """Inner overlap join: one row per (left, right) pair whose
    ``[start, end]`` intervals intersect (closed on both ends), with an
    optional equality key.

    Spark has no range-join operator: without an equi-key the optimizer
    falls back to BroadcastNestedLoopJoin — a full cross product with a
    post-filter, quadratic at any real scale; with a low-cardinality
    key it is the same blow-up inside each key. This is the standard
    bin-replication rewrite instead:

    1. each interval is exploded into the time bins it touches
       (``floor(start/w) .. floor(end/w)``),
    2. the join is a plain EQUI-join on (bin, key...) — hash shuffle,
       AQE-broadcastable, skew-splittable like any other equi-join,
    3. the exact overlap predicate filters in the same stage, and
    4. each surviving pair is kept at ONE canonical bin — the bin
       containing ``greatest(left_start, right_start)`` (the overlap's
       start) — so multi-bin overlaps emit no duplicates WITHOUT a
       dropDuplicates shuffle.

    ``bin_width_us`` trades replication for selectivity: each row is
    copied ``duration/bin_width + 1`` times, while a bin only pairs
    rows within ``bin_width`` of each other — set it near the typical
    interval length. Replication factor is bounded and linear; there
    is no quadratic stage at any key distribution.

    ``bin_width_us=None`` (the default) DERIVES the width from the
    data: the p75 of observed interval lengths across both inputs
    (one bounded 1-row ``percentile_approx`` aggregate — the same
    driver-read pattern as the merge watermark). At that width at
    least 75% of rows replicate ≤2×, and the worst row replicates
    ``duration/p75 + 1`` times — bounded without per-dataset tuning,
    whatever the interval scale (seconds or years). Pass an explicit
    width to pin the plan instead (e.g. in benchmarks).

    Right columns keep their names; collisions with left names gain
    ``suffix``.

    ``max_bins_per_row``: a DEGENERATE ``bin_width_us`` — tiny relative
    to the interval lengths, whether passed explicitly or derived from a
    pathological length distribution (p75 ≪ max) — silently multiplies
    the replication factor toward quadratic blow-up. The guard is LAZY
    and per-row (an ``assert_true`` filter on each row's bin count —
    zero construction jobs): execution raises a SparkRuntimeException
    naming this knob when any row would explode into more than this many
    bins. Pass ``None`` to opt in to unbounded replication.
    """
    if bin_width_us is None:
        left_lens = left.select(
            (epoch_us(F.col(left_end)) - epoch_us(F.col(left_start)))
            .alias("_len")
        )
        # Self-join shortcut: when the caller passes the
        # SAME frame with the same interval columns on both sides
        # (customer_order_profile's overlap self-join), the union
        # would scan it twice for a p75 that is duplication-invariant
        # (quantiles of S ∪ S equal quantiles of S) — derive from one
        # scan. The derived width only affects replication, never the
        # join's output rows, so this cannot change results even at
        # the sketch's approximation margin.
        self_join = left is right and (left_start, left_end) == (
            right_start, right_end,
        )
        lens = (
            left_lens
            if self_join
            else left_lens.unionByName(
                right.select(
                    (epoch_us(F.col(right_end))
                     - epoch_us(F.col(right_start))).alias("_len")
                )
            )
        ).agg(F.percentile_approx("_len", 0.75).alias("_p")).head()
        # ^ bounded: 1 row
        bin_width_us = max(int(lens["_p"] or 0), 1)
    keys = [] if on is None else ([on] if isinstance(on, str) else list(on))
    clash = {
        c
        for c in (*left.columns, *right.columns)
        # s_us/e_us collide with the internal _l_s_us/_r_e_us carriers
        # AFTER tagging, since every non-key column gets the same prefix
        if c in ("_bin", "_rbin", "s_us", "e_us")
        or c.startswith(("_l_", "_r_", "_rk_"))
    }
    if clash:
        raise ValueError(
            f"interval_join reserves column names {sorted(clash)}; "
            "rename them on the input frames"
        )
    out_names = {
        c: (c + suffix if c in left.columns else c)
        for c in right.columns
        if c not in keys
    }
    out_cols = [*keys, *(c for c in left.columns if c not in keys),
                *out_names.values()]
    if len(out_cols) != len(set(out_cols)):
        dupes = sorted({c for c in out_cols if out_cols.count(c) > 1})
        raise ValueError(
            f"interval_join output would contain duplicate columns "
            f"{dupes}; pick a different suffix or rename the inputs"
        )

    def binned(df: DataFrame, start: str, end: str, tag: str,
               key_tag: str = "", bin_name: str = "_bin") -> DataFrame:
        s_us, e_us = epoch_us(F.col(start)), epoch_us(F.col(end))
        cols = [
            F.col(c).alias(f"{tag}{c}") for c in df.columns if c not in keys
        ]
        if max_bins_per_row is not None:
            nb = (
                floor_div(e_us, bin_width_us)
                - floor_div(s_us, bin_width_us)
                + F.lit(1)
            )
            # nb.isNull() passes the guard: a NULL start/end yields a
            # NULL sequence, whose explode() drops the row — the
            # operator's pre-guard behavior; assert_true on the bare
            # comparison would RAISE on NULL input instead (and only
            # the optimizer's inferred IsNotNull filters mask it
            # under default configs).
            df = df.filter(
                F.assert_true(
                    nb.isNull() | (nb <= F.lit(max_bins_per_row)),
                    F.concat_ws(
                        "",
                        F.lit("ScaleGuardrail: an interval spans "),
                        nb.cast("string"),
                        F.lit(
                            f" bins > max_bins_per_row="
                            f"{max_bins_per_row} at bin_width_us="
                            f"{bin_width_us}; widen bin_width_us or "
                            f"pass max_bins_per_row=None to opt in."
                        ),
                    ),
                ).isNull()
            )
        return df.select(
            *[F.col(k).alias(f"{key_tag}{k}") for k in keys],
            *cols,
            F.explode(
                F.sequence(floor_div(s_us, bin_width_us),
                           floor_div(e_us, bin_width_us))
            ).alias(bin_name),
            s_us.alias(f"{tag}s_us"),
            e_us.alias(f"{tag}e_us"),
        )

    l = binned(left, left_start, left_end, "_l_")
    r = binned(right, right_start, right_end, "_r_",
               key_tag="_rk_", bin_name="_rbin")
    ls, le = F.col("_l_s_us"), F.col("_l_e_us")
    rs, re_ = F.col("_r_s_us"), F.col("_r_e_us")
    overlap = (ls <= re_) & (rs <= le)
    canonical = floor_div(F.greatest(ls, rs), bin_width_us) == F.col("_bin")
    # (bin, keys) equi-join; overlap + canonical-bin filters ride the
    # same stage, so no post-join dedup pass is needed. Keys compare
    # NULL-SAFE (``<=>`` — still a hash-joinable equi-predicate, the
    # no-NLJ plan pin holds): NULL-key rows pair with NULL-key rows,
    # matching asof_join's partitionBy treatment of NULL keys, instead
    # of silently never pairing under plain `=` semantics.
    cond = F.col("_bin") == F.col("_rbin")
    for k in keys:
        cond = cond & F.col(k).eqNullSafe(F.col(f"_rk_{k}"))
    joined = l.join(r, cond).filter(overlap & canonical)
    return joined.select(
        *[F.col(k) for k in keys],
        *[
            F.col(f"_l_{c}").alias(c)
            for c in left.columns
            if c not in keys
        ],
        *[
            F.col(f"_r_{c}").alias(out_names[c])
            for c in right.columns
            if c not in keys
        ],
    )
