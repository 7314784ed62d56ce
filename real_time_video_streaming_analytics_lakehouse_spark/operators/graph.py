"""Iterative graph operators over DataFrames.

:func:`connected_components` — alternating large-star/small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SOCC'14), converging in O(log^2 n) rounds (practically ~log2 of the
largest component). Used to turn near-duplicate PAIRS (MinHash/SimHash/
cosine output) into duplicate CLUSTERS with one canonical id per
cluster — the step that makes pair-wise dedup actionable in a
training-data pipeline ("keep the canonical doc, drop the rest").

:func:`connected_components_label_prop` — the naive min-label
propagation formulation (rounds ≈ graph diameter). Kept as the
result-identity reference: both must produce the same
min-reachable-id labels on any input.

This is the engine's one genuinely iterative algorithm: a driver loop
over DataFrame shuffles with a convergence check. Scale notes:
  * a round (large_star + small_star) costs roughly six shuffles —
    each star step is a groupBy-min, a join back, and a distinct —
    plus a convergence-signature scan; every one of them is over the
    EDGE set only (never the node corpus), the edge set only shrinks
    or re-points, and no neighbor lists are ever collected, so
    high-degree nodes cost nothing extra.
  * the win is ROUNDS, not per-round cost: O(log n) rounds vs
    O(diameter) for label propagation — a chain-shaped cluster of 1M
    docs needs ~20 rounds, not 1M, so even at ~3× the shuffles per
    round the total is orders of magnitude less work. Driver job
    round-trips — the measured noise amplifier for this query family
    (BASELINE.md) — drop proportionally with rounds.
  * intermediate edge frames are localCheckpointed every round to cut
    the growing lineage (otherwise plan size, not data, becomes the
    bottleneck; an un-checkpointed iterated self-join was measured
    degrading 0.4s -> 39s/round by iteration 12 on Spark 4.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import local_relation


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of each node to the
    node's minimum neighborhood member (including itself)."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("mv", "u").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges large->small, then connect every smaller neighbor
    AND the node itself to the minimum smaller neighbor."""
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    return (
        d.join(mins, "u")
        .select(F.col("v").alias("n"), F.col("m"))
        .unionByName(mins.select(F.col("u").alias("n"), F.col("m")))
        .where(F.col("n") != F.col("m"))
        .select(F.col("n").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


#: Edge-count ceiling for the adaptive driver-side union-find inside
#: :func:`connected_components`. The star loop's cost on a
#: SMALL graph is pure driver-job overhead — 3 rounds × (checkpoint +
#: signature scan) measured 3.2 s on a 62-edge graph at a ~0.2 s/job
#: floor — while a bounded ``collect`` + Python union-find is one job
#: and microseconds of CPU. 2^17 edges is ~2 MB of (u, v) longs, the
#: same order as a broadcast-join build side; beyond it the
#: distributed star loop takes over unchanged (the decision reads the
#: edge COUNT from the convergence signature the loop needs anyway,
#: so the adaptive pick costs zero extra jobs).
DRIVER_CC_MAX_EDGES = 1 << 17


def _union_find_labels(pairs) -> list[tuple]:
    """Path-compressed union-find over an iterable of (u, v) pairs →
    sorted ``[(node, component_min_id), ...]`` over the edge universe.

    Shared by :func:`connected_components`' adaptive driver path and
    :func:`connected_components_bounded`'s executor task — ONE
    implementation so the two paths' "label semantics are identical"
    contract cannot drift."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    universe = set()
    for u, v in pairs:
        universe.add(u)
        universe.add(v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp_min: dict = {}
    for n in universe:
        root = find(n)
        if root not in comp_min or n < comp_min[root]:
            comp_min[root] = n
    return [(n, comp_min[find(n)]) for n in sorted(universe)]


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "id",
    max_iter: int = 50,
    strict: bool = True,
    stats: dict | None = None,
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Assign each node min-reachable-id as its ``cluster_id``.

    ``edges`` is undirected input (one row per pair); isolated nodes in
    ``nodes`` become singleton clusters of themselves.

    Algorithm: alternating large-star/small-star. Each round re-points
    edges toward component minima; at the fixpoint the edge set is a
    union of stars rooted at each component's minimum id (Kiveris et
    al. SOCC'14, Thm 1-2), so labels read straight off the edges. The
    fixpoint is reached in O(log^2 n) rounds — on near-dup cluster
    graphs, ~log2(largest component) — vs O(diameter) for label
    propagation (:func:`connected_components_label_prop`), which this
    replaced because per-round driver job round-trips were the query
    family's dominant noise/latency source.

    Adaptive small-graph path: when the deduplicated edge
    count is ≤ ``driver_max_edges`` (known for free from the first
    convergence-signature scan), the edges are collected — a BOUNDED
    driver read, ≤ ``driver_max_edges`` 2-long rows — and labeled with
    an exact path-compressed union-find; the label map returns as a
    local relation (broadcast-joinable, no shuffle downstream). Near-
    dup ε-graphs are tiny relative to their corpus, so this removes
    ~10 driver jobs from the common case while 100 TB-scale graphs
    take the distributed loop unchanged. ``stats["rounds"]`` is 0 on
    this path; pass ``driver_max_edges=0`` to force the star loop.

    If the loop exhausts ``max_iter`` while edges are still re-pointing
    (requires a pathological input far beyond the log2 bound),
    ``strict=True`` (default) raises rather than silently returning
    wrong cluster ids; ``strict=False`` warns and returns partial
    labels. Pass ``stats={}`` to receive ``stats["rounds"]``, the
    number of alternating rounds executed (tests pin the log-vs-linear
    round count on path graphs with it).
    """
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    # Materialize the edge list ONCE: without this, the (possibly very
    # expensive) upstream pair computation re-executes in every
    # iteration AND in every convergence check — measured 43 s → 5 s at
    # sf0.1 for the cosine-pair graph. eager=False: the signature scan
    # below is the materializing action, so no separate checkpoint job.
    sym = sym.where(F.col("u") != F.col("v")).distinct()
    e = (
        sym.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    all_nodes = nodes.select(F.col(node_col).alias("u"))

    # Convergence signature: (row count, xor of row hashes) — one cheap
    # scan of the already-checkpointed frame per round (xor is
    # order-independent and cannot overflow under ANSI mode). A
    # signature match is CONFIRMED with an exact exceptAll before
    # declaring convergence, so a hash collision costs one extra
    # check, never a wrong answer.
    def _sig(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count(F.lit(1)).alias("c"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        return int(row["c"]), int(row["h"])

    prev_sig = _sig(e)

    if prev_sig[0] <= driver_max_edges:
        # --- adaptive small-graph path: exact union-find on the driver
        rows = e.collect()  # bounded: <= driver_max_edges (u, v) rows
        labels = _union_find_labels((r["u"], r["v"]) for r in rows)
        if stats is not None:
            stats["rounds"] = 0
        idt = nodes.schema[node_col].dataType.simpleString()
        # local_relation, not createDataFrame(list): the label map is
        # consumed by TWO broadcast joins below, and the pickle path
        # would run a defaultParallelism-task Python stage per build
        # (see local_relation).
        label_df = local_relation(
            nodes.sparkSession, labels, f"u {idt}, label {idt}"
        )
        # label_df is bounded (<= 2*driver_max_edges node rows): hint
        # the broadcast so neither join shuffles the (possibly huge)
        # node corpus. The inner join restricts output to ``nodes`` —
        # edge endpoints absent from the node table influence
        # connectivity but are never emitted, matching the distributed
        # star path on ill-formed input.
        labeled = all_nodes.join(F.broadcast(label_df), "u", "inner")
        singletons = all_nodes.join(
            F.broadcast(label_df), "u", "left_anti"
        ).select("u", F.col("u").alias("label"))
        return labeled.unionByName(singletons).select(
            F.col("u").alias(node_col), F.col("label").alias("cluster_id")
        )

    # Propagate over the EDGE SUBGRAPH only: a node with no edges can
    # never change its label, so it never needs to enter the iteration.
    # In a near-dup corpus the components are typically a tiny fraction
    # of the nodes — at scale this keeps per-round shuffles to just the
    # duplicate clusters; isolated nodes re-join as singletons after
    # the fixpoint.
    edge_nodes = all_nodes.join(
        e.select("u").unionByName(e.select(F.col("v").alias("u"))),
        "u",
        "left_semi",
    ).localCheckpoint(eager=True)

    rounds = 0
    for rounds in range(1, max_iter + 1):
        # eager=False: the signature scan right after is the
        # materializing action — one job per round, not two
        new_e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        new_sig = _sig(new_e)
        if new_sig == prev_sig and new_e.exceptAll(e).limit(1).count() == 0:
            e = new_e
            break
        e, prev_sig = new_e, new_sig
    else:
        msg = (
            f"connected_components: edge set still re-pointing after "
            f"{max_iter} alternating rounds — cluster ids may be "
            f"incomplete; raise max_iter (the star algorithm needs "
            f"~log2(component size) rounds)"
        )
        if strict:
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, stacklevel=2)
    if stats is not None:
        stats["rounds"] = rounds

    # At the fixpoint e is a union of min-rooted stars: every non-root
    # node appears exactly once as u with v = its component minimum
    # (groupBy-min tolerates a strict=False partial result); roots and
    # isolated nodes label themselves. The semi-join restricts leaves
    # to ``nodes`` (a no-op under the edges⊆nodes contract, but on
    # ill-formed input it keeps this path row-set-identical to the
    # driver union-find path, which also never emits out-of-nodes
    # endpoints).
    leaf_labels = e.groupBy("u").agg(F.min("v").alias("label")).join(
        edge_nodes, "u", "left_semi"
    )
    root_labels = edge_nodes.join(leaf_labels, "u", "left_anti").select(
        "u", F.col("u").alias("label")
    )
    singletons = all_nodes.join(edge_nodes, "u", "left_anti").select(
        "u", F.col("u").alias("label")
    )
    return (
        leaf_labels.unionByName(root_labels)
        .unionByName(singletons)
        .select(F.col("u").alias(node_col), F.col("label").alias("cluster_id"))
    )


def connected_components_bounded(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "id",
    max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Exact union-find over a CALLER-BOUNDED edge set, executed
    lazily in one executor task — ZERO Spark jobs at construction.

    :func:`connected_components`' adaptive small-graph path reads the
    edge count (and possibly the edges) at CONSTRUCTION time, which
    blocks the driver before the first action (a caller with two such
    arms would need a thread pool to overlap their construction). When
    the CALLER can bound the edge set by construction (the oracle-anchor
    plans cap their corpora, so |pairs| is a compile-time constant
    bound), this variant instead ships the deduplicated edge list to a
    single ``applyInPandas`` group and runs the same path-compressed
    union-find THERE: the plan composes like any other DataFrame, the
    bounded work happens at action time on an executor, and nothing is
    ever collected to the driver (shrinking the driver-collect gate's
    allowance table, tests/test_plan_quality.py).

    The bound is the caller's CONTRACT, enforced where the data is
    finally seen: the task raises (failing the action loudly) if the
    group exceeds ``max_edges`` — never a silent wrong answer. Label
    semantics are identical to :func:`connected_components` (min
    reachable id; output restricted to ``nodes``; out-of-nodes edge
    endpoints carry connectivity but are not emitted).

    NOT a 100 TB path — the star loop remains the unbounded-scale
    algorithm; this is the lazy sibling of its driver union-find
    shortcut for plan fragments whose edge sets are bounded by
    construction (anchor caps, planted fixtures, per-group closures).
    """
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = (
        sym.where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )
    idt = nodes.schema[node_col].dataType.simpleString()

    def _uf(pdf):
        import pandas as pd

        if len(pdf) > max_edges:
            raise ValueError(
                f"connected_components_bounded: {len(pdf)} edges exceed "
                f"the caller-declared bound max_edges={max_edges} — use "
                f"connected_components (star loop) for unbounded graphs"
            )
        labels = _union_find_labels(
            zip(pdf["u"].tolist(), pdf["v"].tolist())
        )
        return pd.DataFrame(
            {"u": [n for n, _ in labels], "label": [b for _, b in labels]}
        )

    # one constant group -> one task holding the whole (bounded) edge
    # list. NOT checkpointed: under AQE even a lazy localCheckpoint
    # materializes upstream exchanges at construction; the two label
    # consumers below share one ReusedExchange (identical broadcast
    # subplans) at runtime instead.
    labels = (
        e.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(_uf, f"u {idt}, label {idt}")
    )
    all_nodes = nodes.select(F.col(node_col).alias("u"))
    labeled = all_nodes.join(F.broadcast(labels), "u", "inner")
    singletons = all_nodes.join(
        F.broadcast(labels), "u", "left_anti"
    ).select("u", F.col("u").alias("label"))
    return labeled.unionByName(singletons).select(
        F.col("u").alias(node_col), F.col("label").alias("cluster_id")
    )


def connected_components_label_prop(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "id",
    max_iter: int = 50,
    strict: bool = True,
    stats: dict | None = None,
) -> DataFrame:
    """Min-label propagation until fixpoint — rounds ≈ graph diameter.

    The naive formulation :func:`connected_components` replaced; kept
    as the result-identity reference (tests assert both produce the
    same labels) and for tiny-diameter graphs where one join per round
    beats the star algorithm's two.
    """
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    sym = sym.distinct().localCheckpoint(eager=True)
    all_nodes = nodes.select(F.col(node_col).alias("u"))
    edge_nodes = all_nodes.join(sym.select("u"), "u", "left_semi")
    labels = edge_nodes.select(
        "u", F.col("u").alias("label")
    ).localCheckpoint(eager=True)
    rounds = 0
    for rounds in range(1, max_iter + 1):
        neighbor_min = (
            sym.join(labels.withColumnRenamed("u", "v2"), sym.v == F.col("v2"))
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        # One materialization per iteration carrying a `changed` flag:
        # the convergence read then scans the checkpointed result
        # instead of re-running the join.
        new_labels = (
            labels.join(neighbor_min, "u", "left_outer")
            .select(
                "u",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("new_label"),
                (
                    F.coalesce(F.col("nmin"), F.col("label")) < F.col("label")
                ).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter("changed").limit(1).count()
        labels = new_labels.select("u", F.col("new_label").alias("label"))
        if changed == 0:
            break
    else:
        msg = (
            f"connected_components_label_prop: labels still changing "
            f"after {max_iter} iterations — cluster ids may be "
            f"incomplete; raise max_iter (label propagation needs "
            f"~graph diameter rounds)"
        )
        if strict:
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, stacklevel=2)
    if stats is not None:
        stats["rounds"] = rounds
    singletons = all_nodes.join(sym.select("u"), "u", "left_anti").select(
        "u", F.col("u").alias("label")
    )
    return labels.unionByName(singletons).select(
        F.col("u").alias(node_col), F.col("label").alias("cluster_id")
    )
