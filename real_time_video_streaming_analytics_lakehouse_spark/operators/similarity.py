"""Vector-similarity operators over ``array<float>`` embedding columns.

Not present in the reference (which has no vector data); part of the
large-scale-training-pipeline surface (BASELINE.json north star).

Design:
  * All arithmetic is JVM-side higher-order functions (``zip_with`` +
    ``aggregate``) on double-cast arrays — no Python, no UDFs.
  * :func:`cosine_topk` broadcasts the (small) query set against the
    candidate corpus: at 100 TB the candidates stay partitioned, the
    query side ships with the task, and the per-partition top-k is
    reduced by the final window — the brute-force baseline.
    The LSH-bucketed scale path shares banding machinery with
    :func:`..dedup.minhash_lsh_candidates`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .util import local_relation


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _query_split(embeddings: DataFrame, query_pred: Column, vec_col: str):
    """(queries, candidates) partition of the corpus.

    ``coalesce(pred, False)``: a predicate evaluating to NULL (e.g.
    ``label == 'q'`` over NULL labels) would otherwise drop the row
    from BOTH sides — ``filter(pred)`` and ``filter(~pred)`` each skip
    NULL — silently shrinking the candidate corpus. NULL-pred rows are
    candidates. NULL vectors are excluded outright (no similarity
    signal; they crash the numpy stages as 0-d nan arrays)."""
    base = embeddings.filter(F.col(vec_col).isNotNull())
    qp = F.coalesce(query_pred, F.lit(False))
    return base.filter(qp), base.filter(~qp)


def _codebook_sample(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    sample_size: int,
) -> list:
    """Bounded deterministic training sample for centroid/codebook
    quantizers — ``sample_size`` rows, uniform over the corpus.

    Not ``orderBy(id_col).limit(sample_size)``, which is scale-safe
    (TakeOrdered, no sort shuffle) but id-prefix-BIASED (the codebook
    trains on whichever rows sort first; with time-ordered or
    tenant-prefixed ids that is not the
    corpus distribution). Instead: a hash-threshold Bernoulli filter
    (:func:`.sampling.deterministic_sample`, content-hash keyed —
    partition- and order-invariant) at 2× the needed fraction, then an
    exact bound via TakeOrdered ON THE HASH over only the ~2·size
    survivors. One count job derives the fraction; the corpus scan
    does no per-partition heap work (the heap sees only survivor
    rows), and the kept set depends on nothing but (ids, seed).

    Memoized per DataFrame OBJECT: a query that trains several
    quantizers over the same corpus frame (IVF + PQ + IVFPQ arms) pays
    the count + collect once — safe because a DataFrame's logical plan
    and file-listing snapshot are immutable once constructed, so the
    same object can never answer differently.
    """
    from .sampling import deterministic_sample, sample_key

    memo_key = (id_col, vec_col, sample_size)
    memo = embeddings.__dict__.setdefault("_codebook_sample_memo", {})
    if memo_key in memo:
        return memo[memo_key]
    src = embeddings.filter(F.col(vec_col).isNotNull()).select(
        id_col, vec_col
    )
    n = src.count()  # bounded driver read: one long
    if n == 0:
        memo[memo_key] = []
        return []
    frac = min(1.0, (2.0 * sample_size) / n)
    seed_s = "codebook"
    key = sample_key([id_col], seed_s)

    def draw(f: float) -> list:
        return (
            deterministic_sample(src, [id_col], f, seed=seed_s)
            # tie-break by id: 8-hex-char hash collisions must not make
            # the cut order partition-dependent
            .orderBy(key, F.col(id_col))
            .limit(sample_size)
            .collect()
        )

    sample = draw(frac)
    if len(sample) < min(sample_size, n) and frac < 1.0:
        # The Bernoulli draw is binomial — at 2x the needed fraction an
        # undershoot below sample_size is rare but possible. Top up
        # deterministically: frac=1.0 keeps every row, so the
        # hash-ordered limit returns exactly min(n, sample_size)
        # and the kept set still depends only on (ids, seed).
        sample = draw(1.0)
    memo[memo_key] = sample
    return sample


def _empty_topk(embeddings: DataFrame, id_col: str, extra_cols) -> DataFrame:
    """Zero-row frame with the top-k output schema — returned when the
    corpus is empty (nothing to train on or rank against)."""
    idt = embeddings.schema[id_col].dataType.simpleString()
    ddl = ", ".join(
        [f"query_id {idt}", f"{id_col} {idt}"]
        + [
            f"{c} {embeddings.schema[c].dataType.simpleString()}"
            for c in extra_cols
        ]
        + ["cosine DOUBLE", "rk INT"]
    )
    return embeddings.sparkSession.createDataFrame([], ddl)


def cosine_topk(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Exact top-k cosine neighbors for each query row.

    ``query_pred`` splits the table: rows matching it are queries, the
    rest are candidates. Returns ``(query_id, <id_col>, *extra, cosine,
    rk)`` with rk 1..k per query; ties broken by candidate id so the
    result is deterministic.
    """
    emb = _as_double(F.col(vec_col))
    q_raw, c_raw = _query_split(embeddings, query_pred, vec_col)
    prep = lambda df: df.withColumn("_e", emb).withColumn(  # noqa: E731
        "_n", _norm(F.col("_e"))
    )
    queries = prep(q_raw).select(
        F.col(id_col).alias("query_id"),
        F.col("_e").alias("_qe"),
        F.col("_n").alias("_qn"),
    )
    candidates = prep(c_raw).select(
        id_col, *extra_cols, F.col("_e").alias("_ce"), F.col("_n").alias("_cn")
    )
    cosine = F.round(
        _dot(F.col("_qe"), F.col("_ce")) / (F.col("_qn") * F.col("_cn")), 6
    )
    scored = (
        candidates.crossJoin(F.broadcast(queries))
        .withColumn("cosine", cosine)
        .select("query_id", id_col, *extra_cols, "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


#: default ungrouped-corpus ceiling for :func:`cosine_pairs` — matches
#: the catalog wrapper's enforced ceiling (plans/llm_ops.py); the x30
#: probe measured the quadratic regime arriving at 60k vectors
#: (ratio 44.7), so an unguarded library call on a large corpus is a
#: footgun, not a judgment call.
_COSINE_PAIRS_DEFAULT_MAX = 100_000


def _attach_count_ceiling(
    df: DataFrame,
    limit: int,
    message: Column,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Attach a LAZY row-count ceiling to ``df``: count rows per
    ``group_cols`` (globally when empty), broadcast-join the counts
    back, and fail the first task whose (group's) count exceeds
    ``limit`` via ``assert_true`` — a SparkRuntimeException carrying
    ``message`` (a Column, so it can interpolate the offending count
    ``_cn`` and group values). Zero construction jobs by design; the
    shared scaffolding of the :func:`cosine_pairs` and
    :func:`semantic_dedup` scale guards (one copy, so they cannot
    drift)."""
    gcols = list(group_cols)
    if gcols:
        cnt = df.groupBy(*gcols).agg(F.count("*").alias("_cn"))
        joined = df.join(F.broadcast(cnt), gcols)
    else:
        cnt = (
            df.agg(F.count("*").alias("_cn"))
            .withColumn("_gk", F.lit(1))
        )
        joined = (
            df.withColumn("_gk", F.lit(1))
            .join(F.broadcast(cnt), "_gk")
            .drop("_gk")
        )
    return joined.filter(
        F.assert_true(F.col("_cn") <= F.lit(limit), message).isNull()
    ).drop("_cn")


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int = 8,
    group_cols: tuple[str, ...] = (),
    max_vectors: int | None = _COSINE_PAIRS_DEFAULT_MAX,
) -> DataFrame:
    """All-pairs cosine similarity above ``threshold`` — exact embedding
    near-duplicate detection, distributed block-pair matmul.

    Built-in ``zip_with``/``aggregate`` expressions evaluate interpreted
    per element — O(n²·d) interpreted ops is the wrong tool for
    all-pairs. And collecting the corpus to the driver caps the operator
    at driver memory. Instead, the classic exact scheme:

    1. Hash every row into one of ``num_blocks`` blocks.
    2. Replicate each row to the B block-pair tasks it participates in
       (broadcast join against the tiny (blk → task) map — shuffle
       volume is B × corpus, the known cost of exact all-pairs).
    3. ``applyInPandas`` per (ti, tj) task group: L2-normalize the two
       blocks, one SIMD matmul, emit pairs ≥ threshold with
       ``id_a < id_b``. Each unordered pair lands in exactly one task,
       so no dedup pass is needed.

    No driver-side corpus materialization anywhere: peak memory per
    task is two blocks (~2/B of the corpus), tunable via ``num_blocks``
    (pick B ≈ corpus_bytes / target_task_bytes; tasks grow as B²/2 so
    parallelism keeps up automatically). For sub-quadratic *approximate*
    pairing at extreme scale, bucket first with
    :func:`..dedup.simhash_candidates`-style hyperplane LSH or
    :func:`ann_ivf_topk`'s IVF cells and run this within buckets.

    ``group_cols`` restricts pairing to WITHIN groups (rows only ever
    pair with rows sharing their group values — the within-cluster
    pairing :func:`semantic_dedup` is built on): the group columns
    join the applyInPandas key, so the quadratic term drops from n²
    to Σ_group n_g² and the group values are carried through to the
    output columns.

    ``max_vectors`` (the catalog ceiling propagated to the library
    surface): on an UNGROUPED corpus the
    operator is O(n²) by contract, so by default execution raises when
    the corpus exceeds this many non-NULL vectors. The guard is LAZY —
    a 1-row count aggregate broadcast-joined on a constant key (a hash
    join, not a nested loop) and checked per partition with
    ``assert_true`` — so construction stays zero-jobs and the refusal
    surfaces at execution as a SparkRuntimeException naming this knob.
    Pass ``max_vectors=None`` to opt in (the plan-layer wrapper does,
    after its own construction-time :class:`..util.ScaleGuardrailError`
    check — the typed refusal belongs there, where a cheap metadata
    count is available). ``group_cols`` runs skip the guard: their
    quadratic term is Σn_g², bounded by the caller's clustering.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    tasks = [
        (blk, ti, tj)
        for ti in range(num_blocks)
        for tj in range(ti, num_blocks)
        for blk in {ti, tj}
    ]
    # local_relation, not createDataFrame(list): the pickle path would
    # re-run a 32-task Python stage at EVERY broadcast build of this
    # 7-row table (see local_relation).
    mapping = local_relation(spark, tasks, "blk INT, ti INT, tj INT")
    gcols = list(group_cols)
    # NULL vectors would crash the block matmul's np.stack; a NULL
    # embedding is pairable with nothing, so exclude it.
    base = embeddings.filter(F.col(vec_col).isNotNull()).select(
        id_col, vec_col, *gcols
    )
    if not gcols and max_vectors is not None:
        base = _attach_count_ceiling(
            base,
            max_vectors,
            F.concat_ws(
                "",
                F.lit("ScaleGuardrail: exact all-pairs cosine over "),
                F.col("_cn").cast("string"),
                F.lit(
                    f" vectors exceeds max_vectors={max_vectors} "
                    f"(O(n^2) by contract). Bucket first (LSH/IVF) "
                    f"or pass max_vectors=None to opt in."
                ),
            ),
        )
    rep = base.withColumn(
        "blk", F.pmod(F.hash(F.col(id_col)), F.lit(num_blocks))
    ).join(F.broadcast(mapping), "blk")
    pair_cols = ["id_a", "id_b", "cosine"]
    out_schema = ", ".join(
        [
            f"{c} {embeddings.schema[c].dataType.simpleString()}"
            for c in gcols
        ]
        + ["id_a BIGINT", "id_b BIGINT", "cosine DOUBLE"]
    )

    def pair_block(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {**{c: [] for c in gcols}, "id_a": [], "id_b": [], "cosine": []}
        )
        if pdf.empty:
            return empty
        ti, tj = int(pdf["ti"].iloc[0]), int(pdf["tj"].iloc[0])

        def side(blk):
            part = pdf[pdf["blk"] == blk]
            ids = part[id_col].to_numpy(dtype="int64")
            if not len(ids):
                return ids, np.empty((0, 0))
            v = np.stack(
                [np.asarray(x, dtype=np.float64) for x in part[vec_col]]
            )
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            return ids, v

        ids_l, vl = side(ti)
        if ti == tj:
            ids_r, vr = ids_l, vl
        else:
            ids_r, vr = side(tj)
        if not len(ids_l) or not len(ids_r):
            return empty
        s = vl @ vr.T
        li, ri = np.nonzero(s >= threshold)
        ia, ib, cos = ids_l[li], ids_r[ri], s[li, ri]
        if ti == tj:
            # within one block every unordered pair appears twice in s
            # (plus the diagonal): keep the ordered half.
            keep = ia < ib
            lo, hi, cos = ia[keep], ib[keep], cos[keep]
        else:
            # across blocks each unordered pair appears exactly once,
            # with arbitrary id order — reorder, never drop.
            lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        out = pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cosine": np.round(cos, 6)}
        )
        for c in gcols:
            # constant within an applyInPandas group — carry it out
            out[c] = pdf[c].iloc[0]
        return out[gcols + pair_cols]

    return rep.groupBy(*gcols, "ti", "tj").applyInPandas(
        pair_block, out_schema
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 10,
    seed: str = "semdedup",
    num_blocks: int = 4,
    centroids: list[list[float]] | None = None,
    keep_policy: str | tuple[str, ...] = "min_id",
    cc_strategy: str = "adaptive",
    max_cluster_vectors: int | None = _COSINE_PAIRS_DEFAULT_MAX,
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", arXiv:2303.09540):
    k-means the embedding space, compute pairwise cosine ONLY within
    clusters, and keep one representative per ε-connected duplicate
    group.

    Output: ``(id_col, cluster INT, representative LONG, keep INT)``
    — ``keep = 1`` for exactly one row per within-cluster ε-component
    (``cosine ≥ threshold`` edges), ``representative`` is that row's
    id for every member. Two deterministic keep policies:

    * ``"min_id"`` (default): keep the component's minimum id — the
      same canonical-id convention as the exact/LSH dedup-cluster
      pipelines, zero extra passes (the CC label IS the
      representative).
    * ``"centroid_outlier"``: the paper's policy — per component keep
      the member with the LOWEST cosine to its cluster centroid
      (§SemDeDup: keeping low-centroid-similarity examples preserves
      the cluster's outer, most informative region); the paper's
      random tie-break is replaced with min-id so the output is
      deterministic and partition-invariant. Costs one extra
      aggregate + join over component members only.

    ``keep_policy`` may also be a TUPLE of policies: the
    assignment, within-cluster pairing, and connected components —
    the expensive stages — run ONCE, and the output switches to long
    format ``(id_col, cluster, policy, representative, keep)`` with
    one row per (row, policy). A comparison of keep policies over
    the same corpus would otherwise pay the full pipeline per policy.

    Rows with NULL vectors pair with nothing and are not emitted.

    Operating points (the IVF-full-probe pattern):

    * ``n_clusters=1`` is PROVABLY identical to global
      threshold-closure dedup (every pair is within the one cluster)
      for any seed — the exact anchor tests/oracles compare against.
    * ``n_clusters>1`` is the paper's scale path: the quadratic pair
      term drops from n² to Σ_cluster n_c² (≈ n²/k balanced) because
      :func:`cosine_pairs` runs with ``group_cols=("cluster",)``. Its
      one approximation is a near-pair split across a k-means
      boundary; exact duplicates are IMMUNE — spherical assignment
      (``normalize=True``) maps identical directions to identical
      clusters, so cos=1 pairs always co-cluster (test-pinned).

    At 100 TB: train centroids once (or pass ``centroids=``), assign
    map-only, and the within-cluster block-pair matmuls bound every
    task at (cluster/num_blocks)-sized inputs; the CC runs over the
    ε-edges only.

    ``cc_strategy``: ``"adaptive"``
    (default) uses :func:`~.graph.connected_components`, whose
    convergence/size reads run bounded driver actions at CONSTRUCTION
    time; ``"bounded_lazy"`` uses
    :func:`~.graph.connected_components_bounded` — zero construction
    jobs, the union-find runs lazily in one executor task — for
    callers whose ε-edge set is bounded by construction (the
    oracle-anchor plans cap their corpora). The bound is enforced in
    the task, failing the action loudly if exceeded.

    ``max_cluster_vectors`` (the ``cosine_pairs.max_vectors``
    pattern): the within-cluster pairing
    is O(n_c²) per cluster by contract, and ``n_clusters=1`` on an
    unbounded corpus is exactly the all-pairs regime ``cosine_pairs``
    refuses — but the grouped path skips that guard (its bound is the
    caller's clustering), so a direct ``semantic_dedup`` call
    previously had NO ceiling. By default execution now raises when
    any cluster holds more than this many vectors. Same lazy shape as
    the ``cosine_pairs`` guard: a per-cluster count aggregate
    broadcast-joined back and checked per row with ``assert_true`` —
    zero construction jobs, the refusal surfaces at execution as a
    SparkRuntimeException naming this knob. The correct response is
    raising ``n_clusters`` (``semdedup_params_for`` holds cluster
    size ≈ ``target_cluster_size`` ≪ this ceiling, so a derived
    operating point never trips it); pass ``None`` to opt in (the
    construction-bounded catalog anchors do, with their reasoning
    inline).
    """
    from .clustering import assign_clusters, kmeans
    from .graph import connected_components, connected_components_bounded

    if cc_strategy not in ("adaptive", "bounded_lazy"):
        raise ValueError(f"unknown cc_strategy {cc_strategy!r}")

    long_format = not isinstance(keep_policy, str)
    policies = tuple(keep_policy) if long_format else (keep_policy,)
    for pol in policies:
        if pol not in ("min_id", "centroid_outlier"):
            raise ValueError(f"unknown keep_policy {pol!r}")
    base = embeddings.filter(F.col(vec_col).isNotNull()).select(
        id_col, vec_col
    )
    sim_col = (
        "_centroid_cos" if "centroid_outlier" in policies else None
    )
    # "single cluster" must account for EXPLICIT centroids (multi-row
    # centroids= with n_clusters<=1 must not take the k=1 shortcut,
    # which would label real clusters 0): effective cluster
    # count is len(centroids) when given, else n_clusters.
    single_cluster = (
        len(centroids) <= 1 if centroids is not None else n_clusters <= 1
    )
    if single_cluster and centroids is None and sim_col is None:
        # single cluster, min-id policy: no centroid is ever consulted
        assigned = base.withColumn("cluster", F.lit(0))
    else:
        if centroids is None:
            centroids = kmeans(
                base,
                k=max(n_clusters, 1),
                iters=kmeans_iters,
                id_col=id_col,
                vec_col=vec_col,
                seed=seed,
                normalize=True,
            )["centroids"]
        assigned = assign_clusters(
            base, centroids, vec_col=vec_col, out_col="cluster",
            normalize=True, sim_col=sim_col,
        )
        if cc_strategy != "bounded_lazy":
            # three consumers (pair generation, the CC node set, the
            # members join) would each re-run the Arrow assignment pass
            # and the source scan without materialization. Skipped in
            # bounded_lazy mode: under AQE, localCheckpoint(eager=False)
            # still materializes every exchange below it at CONSTRUCTION
            # time (toRdd builds the final adaptive plan), defeating the
            # zero-job contract — there, runtime ReusedExchange covers
            # the shared subtrees and the corpus is caller-bounded.
            assigned = assigned.localCheckpoint(eager=False)
    pairs_input = assigned
    if max_cluster_vectors is not None:
        # Lazy per-cluster ceiling: k rows of counts,
        # broadcast back onto the members so the FIRST pairing task
        # refuses before any quadratic work. Only the pairing input is
        # guarded — the CC/members paths below stay linear regardless.
        pairs_input = _attach_count_ceiling(
            assigned,
            max_cluster_vectors,
            F.concat_ws(
                "",
                F.lit("ScaleGuardrail: semantic_dedup cluster "),
                F.col("cluster").cast("string"),
                F.lit(" holds "),
                F.col("_cn").cast("string"),
                F.lit(
                    f" vectors > max_cluster_vectors="
                    f"{max_cluster_vectors} (within-cluster pairing "
                    f"is O(n_c^2) by contract). Raise n_clusters "
                    f"(semdedup_params_for derives one) or pass "
                    f"max_cluster_vectors=None to opt in."
                ),
            ),
            group_cols=("cluster",),
        )
    pairs = cosine_pairs(
        pairs_input,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        num_blocks=num_blocks,
        group_cols=("cluster",),
    )
    nodes = assigned.select(F.col(id_col).alias("id"))
    cc_fn = (
        connected_components_bounded
        if cc_strategy == "bounded_lazy"
        else connected_components
    )
    cc = cc_fn(pairs.select("id_a", "id_b"), nodes, node_col="id")
    if single_cluster and policies == ("min_id",) and not long_format:
        # single (effective) cluster: CC already covers every node, so
        # the members join below would only re-attach a literal
        return cc.select(
            F.col("id").alias(id_col),
            F.lit(0).alias("cluster"),
            F.col("cluster_id").alias("representative"),
            (F.col("id") == F.col("cluster_id")).cast("int").alias("keep"),
        )
    members = assigned.drop(vec_col).join(
        cc.select(
            F.col("id").alias(id_col), F.col("cluster_id").alias("_comp")
        ),
        id_col,
    )
    if len(policies) > 1 and cc_strategy != "bounded_lazy":
        # every policy branch of the output union re-reads this frame;
        # materialize so assignment + CC-label join evaluate once
        # (bounded_lazy relies on ReusedExchange instead — see the
        # assignment checkpoint note above)
        members = members.localCheckpoint(eager=False)

    def policy_out(pol: str) -> DataFrame:
        if pol == "min_id":
            out = members.withColumn("representative", F.col("_comp"))
        else:
            # per ε-component: the member LEAST similar to its cluster
            # centroid wins; struct ordering (cos ASC, id ASC) makes
            # ties deterministic. Aggregate + join touch component
            # members only.
            reps = members.groupBy("_comp").agg(
                F.min(F.struct(sim_col, id_col)).alias("_best")
            ).select(
                "_comp",
                F.col("_best").getField(id_col).alias("representative"),
            )
            out = members.join(reps, "_comp")
        return out.withColumn(
            "keep", (F.col(id_col) == F.col("representative")).cast("int")
        )

    if not long_format:
        return policy_out(policies[0]).select(
            id_col, "cluster", "representative", "keep"
        )
    result = None
    for pol in policies:
        frame = policy_out(pol).select(
            id_col, "cluster", F.lit(pol).alias("policy"),
            "representative", "keep",
        )
        result = frame if result is None else result.unionByName(frame)
    return result


def semdedup_params_for(n: int, target_cluster_size: int = 4096) -> int:
    """Corpus-size-derived ``n_clusters`` for :func:`semantic_dedup` —
    the paper's scale knob as a pure function of corpus size (the
    ``lsh_params_for`` / ``stop_shingle_cap`` precedent: operating
    points derive from n, they are not hand-tuned constants).

    Within-cluster pair work is Σ_c n_c² ≈ n · target_cluster_size
    when clusters are balanced, so holding cluster SIZE constant keeps
    total pair work LINEAR in n while k grows as n/target — run
    SemDeDup at a FIXED k and the pair term reverts to n²/k, quadratic
    per datum (SemDeDup §3 trains 110k clusters for its web-scale
    corpus at comparable occupancy, same reasoning). Pure integer
    arithmetic so an independent engine re-derives the identical k;
    exact duplicates co-cluster under spherical assignment at ANY k
    (test-pinned), so planted-pair recall stays 1 at every derived
    operating point.
    """
    return max(1, n // max(target_cluster_size, 1))


def lsh_params_for(
    n: int,
    threshold: float = 0.7,
    target_occupancy: float = 64.0,
    recall_target: float = 0.9,
    max_bands: int = 64,
) -> tuple[int, int]:
    """Corpus-size-aware ``(num_hyperplanes, num_bands)`` for
    :func:`lsh_cosine_pairs` (scale evidence: at FIXED band
    width the 3× synthetic tier measured x3_ratio 3.12 for the LSH
    pair query — expected bucket occupancy is n/2^bits per band, so
    in-bucket candidate pairs grow QUADRATICALLY in n once occupancy
    outgrows the code space; this helper is the knob that keeps the
    plan sub-quadratic at any corpus size).

    Band width r = ceil(log2(n / target_occupancy)) holds expected
    RANDOM collisions per bucket ~constant (candidate volume ~
    n·occupancy, i.e. linear in n at fixed occupancy); the band count
    b then restores recall for genuinely similar pairs:
    P[candidate] = 1-(1-p^r)^b with p = 1-angle(threshold)/pi, solved
    for the smallest b reaching ``recall_target`` (capped at
    ``max_bands`` — shuffle volume is ids+codes × b, linear in n).
    Pass the result straight through::

        k, b = lsh_params_for(corpus_rows, threshold=0.9)
        lsh_cosine_pairs(emb, 0.9, num_hyperplanes=k, num_bands=b)

    ``n`` is whatever the caller already knows (a table-stats row
    count, a manifest numRecords sum) — no Spark job is run here.
    """
    import math

    p = 1.0 - math.acos(max(min(threshold, 1.0), -1.0)) / math.pi
    r = max(8, math.ceil(math.log2(max(n, 2) / max(target_occupancy, 1))))
    want = math.log(max(1.0 - recall_target, 1e-12))
    while True:
        pr = p ** r
        if pr >= 1.0:
            return r, 1
        # Degenerate thresholds (p == 0 at threshold <= -1, or p^r
        # underflowing to where log1p(-pr) rounds to 0.0) would divide
        # by zero below. If narrowing the bands can still help, keep
        # walking r down; at the r=8 floor no band count can reach the
        # recall target, so fail with the contract, not a
        # ZeroDivisionError. log1p keeps precision at tiny pr where
        # log(1.0 - pr) would round to 0.0 first.
        denom = math.log1p(-pr) if pr > 0.0 else 0.0
        if denom == 0.0:
            if r > 8:
                r -= 1
                continue
            raise ValueError(
                "lsh_params_for: threshold too weak for LSH banding "
                f"(per-band match probability {p}**{r} is ~0); use the "
                "exact block-pair join (cosine_pairs) instead"
            )
        b = max(1, math.ceil(want / denom))
        if b <= max_bands or r <= 8:
            # if the band cap still truncates recall at r=8, the caller
            # asked for a weak threshold at huge n — the exact
            # block-pair join is the honest tool there (docstring)
            b = min(b, max_bands)
            return r * b, b
        # band cap would truncate recall: give back one bit of band
        # width (2x occupancy — still exponentially below fixed-width)
        # to regain per-band match probability
        r -= 1


def lsh_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    num_hyperplanes: int = 64,
    num_bands: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine near-dup pairs: random-hyperplane LSH buckets,
    exact verification inside buckets — the sub-quadratic scale path
    next to :func:`cosine_pairs`' exact block-pair join.

    1. Signature: sign bits of v·H for ``num_hyperplanes`` seeded random
       hyperplanes (one blocked matmul per Arrow batch, no shuffle),
       packed into ``num_bands`` band codes of k/b bits.
    2. Candidates: docs sharing ANY band code meet in an equi-join on
       (band, code) — the same banding trick as MinHash; only ids and
       band codes shuffle, never vectors.
    3. Verify: candidate pairs join back to their vectors and the exact
       cosine filters ≥ threshold, so false positives are eliminated —
       recall is the only approximation (P[candidate] =
       1-(1-p^r)^b, p = 1-angle/pi).

    Recall/cost is tuned by (num_hyperplanes, num_bands): more bands →
    higher recall and more candidates; band WIDTH (hyperplanes/bands)
    controls bucket count — too few bits per band degenerates into
    everything-colliding quadratic blowup (8-bit bands = 256 buckets
    per band; 4-bit bands produced 800k candidates on a 2k corpus, the
    SimHash narrow-chunk lesson). Operating regime: near-duplicate
    detection (cosine ≥ ~0.7), where per-band match probability
    (1-angle/pi)^bits stays practical; for weak-similarity thresholds
    use :func:`cosine_pairs`' exact block-pair join instead. Emits the
    same schema as :func:`cosine_pairs`.
    """
    import numpy as np

    if num_hyperplanes % num_bands:
        raise ValueError("num_hyperplanes must divide evenly into bands")
    bits_per_band = num_hyperplanes // num_bands
    if dim is None:
        # 1-row bounded read; pass dim explicitly in collect-free paths.
        # Probe a NON-NULL vector: a NULL in the first row must not make
        # a non-empty corpus return zero pairs.
        probe = (
            embeddings.filter(F.col(vec_col).isNotNull())
            .select(vec_col)
            .first()
        )
        if probe is None:
            return embeddings.sparkSession.createDataFrame(
                [], "id_a BIGINT, id_b BIGINT, cosine DOUBLE"
            )
        dim = len(probe[0])
    rng = np.random.RandomState(seed)
    planes = rng.randn(dim, num_hyperplanes)
    sc = embeddings.sparkSession.sparkContext
    bc_planes = sc.broadcast(planes)

    def signatures(batches):
        import pandas as pd

        weights = (1 << np.arange(bits_per_band)).astype(np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            bits = (v @ bc_planes.value >= 0).astype(np.int64)
            codes = bits.reshape(len(pdf), num_bands, bits_per_band) @ weights
            ids = pdf[id_col].to_numpy(dtype="int64")
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, num_bands),
                    "band": np.tile(
                        np.arange(num_bands, dtype=np.int32), len(pdf)
                    ),
                    "code": codes.reshape(-1),
                }
            )

    # Materialize signatures once: the banding self-join reads this
    # frame on BOTH sides, and without a checkpoint each side re-runs
    # the Python signature stage. (id, band, code) is 3 ints per band —
    # a fraction of the vector data, partitioned across executors.
    # Input partitioning is kept as-is (no ensure_parallelism): the
    # signature matmul is O(d·k) per row — cheap enough that forking a
    # full Python-worker fleet for a small corpus costs more than it
    # saves, and at scale the source is already well-partitioned.
    sig = (
        # NULL vectors carry no similarity signal and would crash the
        # np.stack (0-d nan array) — exclude them like the dim probe
        # above already does.
        embeddings.filter(F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .mapInPandas(signatures, f"{id_col} BIGINT, band INT, code BIGINT")
        .localCheckpoint(eager=False)
    )
    a = sig.select(F.col(id_col).alias("id_a"), "band", "code")
    b = sig.select(F.col(id_col).alias("id_b"), "band", "code")
    cand = (
        a.join(b, ["band", "code"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", _norm(F.col("_v")))
    scored = (
        cand.join(
            vecs.select(
                F.col(id_col).alias("id_a"),
                F.col("_v").alias("_va"),
                F.col("_n").alias("_na"),
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col(id_col).alias("id_b"),
                F.col("_v").alias("_vb"),
                F.col("_n").alias("_nb"),
            ),
            "id_b",
        )
        .withColumn(
            "_cos", _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
        )
        .filter(F.col("_cos") >= threshold)
    )
    return scored.select(
        "id_a", "id_b", F.round(F.col("_cos"), 6).alias("cosine")
    )


def ann_ivf_topk(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = ("label",),
    sample_size: int = 4096,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors — the scale
    path next to :func:`cosine_topk`'s brute force.

    1. Train ``n_clusters`` coarse centroids with seeded Lloyd k-means
       on a deterministic sample (driver-side numpy — the sample is
       bounded, like any broadcast build side), or accept pre-trained
       ``centroids`` — e.g. from the FULL-corpus distributed trainer
       :func:`..clustering.kmeans` (``normalize=True`` — the index
       probes by cosine) — which is the 100 TB path when a sample
       can't cover the distribution.
    2. Assign every candidate to its nearest centroid (blocked numpy
       matmul in mapInPandas) → inverted lists keyed by bucket.
    3. Each query probes its ``n_probe`` nearest centroids; exact
       cosine ranking runs only within the probed buckets.

    At 100 TB the assignment is one map-side pass and the search joins
    each query against ~``n_probe/n_clusters`` of the corpus instead of
    all of it; recall is tunable via ``n_probe``.
    """
    import numpy as np

    qbase_raw, base = _query_split(embeddings, query_pred, vec_col)
    if centroids is not None:
        cent = np.array(centroids, dtype=np.float64)
        cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    else:
        # --- train coarse centroids on a deterministic sample ---
        sample = _codebook_sample(embeddings, id_col, vec_col, sample_size)
        if not sample:
            return _empty_topk(embeddings, id_col, extra_cols)
        x = np.array([list(r[1]) for r in sample], dtype=np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        rng = np.random.RandomState(seed)
        cent = x[
            rng.choice(len(x), size=min(n_clusters, len(x)), replace=False)
        ]
        for _ in range(10):
            assign = np.argmax(x @ cent.T, axis=1)
            for c in range(cent.shape[0]):
                members = x[assign == c]
                if len(members):
                    v = members.mean(axis=0)
                    cent[c] = v / np.linalg.norm(v)
    sc = embeddings.sparkSession.sparkContext
    bc_cent = sc.broadcast(cent)

    def assign_buckets(n_top: int, col: str):
        def fn(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                v = np.stack([np.asarray(e, dtype=np.float64) for e in pdf[col]])
                v /= np.linalg.norm(v, axis=1, keepdims=True)
                s = v @ bc_cent.value.T
                top = np.argsort(-s, axis=1)[:, :n_top]
                out = pdf.loc[pdf.index.repeat(n_top)].copy()
                out["bucket"] = top.reshape(-1).astype("int32")
                yield out

        return fn

    # Natural partitioning: centroid assignment is O(d·k) per row, so
    # forking a full Python-worker fleet for a small corpus costs more
    # than it saves; the bucket join shuffles downstream anyway and
    # large inputs arrive well-partitioned.
    base = base.select(id_col, vec_col, *extra_cols)
    cand_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in base.schema.fields]
        + ["bucket INT"]
    )
    candidates = base.mapInPandas(assign_buckets(1, vec_col), cand_schema)

    qbase = qbase_raw.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qe")
    )
    queries = qbase.mapInPandas(
        assign_buckets(n_probe, "qe"), "query_id BIGINT, qe ARRAY<FLOAT>, bucket INT"
    )

    cosine = F.round(
        _dot(_as_double(F.col("qe")), _as_double(F.col(vec_col)))
        / (_norm(_as_double(F.col("qe"))) * _norm(_as_double(F.col(vec_col)))),
        6,
    )
    scored = (
        candidates.join(F.broadcast(queries), "bucket")
        .withColumn("cosine", cosine)
        .select("query_id", id_col, *extra_cols, "cosine")
        .dropDuplicates(["query_id", id_col])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def pq_topk(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    n_subspaces: int = 8,
    n_codes: int = 16,
    refine: int = 32,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = ("label",),
    sample_size: int = 4096,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (ADC) scoring
    and exact re-ranking — the memory-compression scale path next to
    :func:`cosine_topk` (compute) and :func:`ann_ivf_topk` (pruning).

    Why PQ at 100 TB: a 64-dim float32 corpus is 256 B/vector; its PQ
    codes at 8 subspaces are 8 small ints — ~32× smaller, so the
    *entire* corpus's codes stay in memory/page cache where the raw
    vectors cannot, and the scan-and-score pass reads codes only.

    1. Train per-subspace codebooks: split each (L2-normalized) vector
       into ``n_subspaces`` contiguous subvectors; seeded Lloyd k-means
       per subspace on a deterministic bounded sample (driver-side
       numpy, like any broadcast build side).
    2. Encode candidates once: nearest codebook entry per subspace →
       ``codes`` (``array<int>`` of length ``n_subspaces``) — a
       map-only Arrow-batched pass.
    3. ADC scoring: each query precomputes a lookup table
       ``lut[m][c] = q̂_m · cent[m][c]`` (flattened to one
       ``array<double>``); a candidate's approximate cosine is
       ``Σ_m lut[m·n_codes + codes[m]]`` — ``n_subspaces`` array reads
       per pair instead of ``dim`` multiplies, all JVM-side
       higher-order functions on the broadcast query row.
    4. Exact re-rank: the top ``refine`` ADC candidates per query
       re-join their raw vectors (by id — at scale this touches only
       ``refine`` rows of the vector store per query) and exact cosine
       produces the final top-k. Recall is tuned by ``refine``.

    Provable oracle hook (the IVF-at-full-probe trick): with ``refine``
    ≥ the candidate count, EVERY candidate reaches the exact re-rank,
    so the result is identical to brute force for ANY codebooks — the
    PQ pipeline (train → encode → LUT → ADC → refine) still executes
    end-to-end, which makes the code path checkable against the
    brute-force SQL; the sub-linear operating point is the same path
    with a smaller ``refine``, recall-pinned in tests.
    """
    import numpy as np

    queries_raw, base = _query_split(embeddings, query_pred, vec_col)
    sample = _codebook_sample(embeddings, id_col, vec_col, sample_size)
    if not sample:
        return _empty_topk(embeddings, id_col, extra_cols)
    x = np.array([list(r[1]) for r in sample], dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    dim = x.shape[1]
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces} subspaces")
    dsub = dim // n_subspaces
    rng = np.random.RandomState(seed)
    books = []  # n_subspaces × (n_codes, dsub)
    for m in range(n_subspaces):
        sub = x[:, m * dsub : (m + 1) * dsub]
        cent = sub[rng.choice(len(sub), min(n_codes, len(sub)), replace=False)]
        for _ in range(10):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(cent.shape[0]):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books.append(cent)
    bc_books = embeddings.sparkSession.sparkContext.broadcast(books)

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack([np.asarray(e, dtype=np.float64) for e in pdf[vec_col]])
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            codes = np.empty((len(pdf), n_subspaces), dtype=np.int32)
            for m, cent in enumerate(bc_books.value):
                sub = v[:, m * dsub : (m + 1) * dsub]
                d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
                codes[:, m] = np.argmin(d2, axis=1)
            out = pdf[[id_col, *extra_cols]].copy()
            out["codes"] = list(codes)
            yield out

    extra_schema = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in base.select(*extra_cols).schema.fields
    )
    encoded = base.select(id_col, *extra_cols, vec_col).mapInPandas(
        encode, f"{id_col} BIGINT{extra_schema}, codes ARRAY<INT>"
    ).localCheckpoint(eager=False)
    # ^ encode once: the ADC pass below is the only consumer here, but
    # without materialization a re-used plan re-runs the Python stage.

    def query_luts(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack([np.asarray(e, dtype=np.float64) for e in pdf[vec_col]])
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            luts = []
            for row in v:
                lut = np.concatenate(
                    [
                        row[m * dsub : (m + 1) * dsub] @ cent.T
                        for m, cent in enumerate(bc_books.value)
                    ]
                )
                luts.append(lut)
            yield pd.DataFrame(
                {
                    "query_id": pdf[id_col].to_numpy(dtype="int64"),
                    "qe": pdf[vec_col],
                    "lut": luts,
                }
            )

    queries = (
        queries_raw.select(id_col, vec_col)
        .mapInPandas(
            query_luts, "query_id BIGINT, qe ARRAY<FLOAT>, lut ARRAY<DOUBLE>"
        )
        .localCheckpoint(eager=False)
    )
    # ^ the query frame is read twice (ADC broadcast + refine re-join);
    # materialize so the Python LUT stage runs once.

    # ADC: n_subspaces flattened-LUT reads per (query, candidate) pair
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
            lambda code, m: F.try_element_at(
                F.col("lut"), (m * n_codes + code + 1).cast("int")
            ),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("_adc").desc(), F.col(id_col).asc()
    )
    shortlist = (
        encoded.crossJoin(F.broadcast(queries.drop("qe")))
        .withColumn("_adc", adc)
        .withColumn("_ark", F.row_number().over(w_adc))
        .filter(F.col("_ark") <= refine)
        .select("query_id", id_col, *extra_cols)
    )
    # exact re-rank: only the shortlist re-joins the raw vector store
    vecs = embeddings.select(id_col, F.col(vec_col).alias("_cv"))
    cosine = F.round(
        _dot(_as_double(F.col("qe")), _as_double(F.col("_cv")))
        / (_norm(_as_double(F.col("qe"))) * _norm(_as_double(F.col("_cv")))),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        shortlist.join(vecs, id_col)
        .join(F.broadcast(queries.select("query_id", "qe")), "query_id")
        .withColumn("cosine", cosine)
        .select("query_id", id_col, *extra_cols, "cosine")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def ann_ivfpq_topk(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    refine: int = 32,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = ("label",),
    sample_size: int = 4096,
) -> DataFrame:
    """IVF-PQ — the composed production ANN architecture: coarse IVF
    lists prune WHICH candidates are scored (~``n_probe/n_clusters`` of
    the corpus), PQ codes compress WHAT is scored (~32× smaller than
    raw vectors), and an exact top-``refine`` re-rank restores
    precision. This is the composition of :func:`ann_ivf_topk` and
    :func:`pq_topk` (the standard inverted-file product-quantization
    index): at 100 TB neither trick suffices alone — full-corpus ADC
    still reads every code, and IVF over raw vectors still ships
    vectors into the probed lists; together the scan is
    ``n_probe/n_clusters`` of a 32×-compressed corpus.

    Implementation is deliberately a THIN composition: the probed-list
    membership filter (an IVF bucket semi-join) runs first, then
    :func:`pq_topk` scores within the surviving candidates. Codebooks
    and coarse centroids both train on the same bounded deterministic
    sample; everything downstream is the two operators' existing
    Arrow-batched / JVM-HOF machinery.

    Provable hook, composed: at ``n_probe = n_clusters`` AND ``refine``
    ≥ candidate count the result is ≡ brute force (every candidate is
    probed AND exactly re-ranked) for any centroids/codebooks — pinned
    in tests; the sub-linear operating point is recall-pinned.
    """
    import numpy as np

    qdf, base = _query_split(embeddings, query_pred, vec_col)
    # --- coarse quantizer (same bounded sample protocol as IVF) ---
    sample = _codebook_sample(embeddings, id_col, vec_col, sample_size)
    if not sample:
        return _empty_topk(embeddings, id_col, extra_cols)
    x = np.array([list(r[1]) for r in sample], dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(n_clusters, len(x)), replace=False)]
    for _ in range(10):
        assign = np.argmax(x @ cent.T, axis=1)
        for c in range(cent.shape[0]):
            members = x[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cent[c] = v / np.linalg.norm(v)
    bc_cent = embeddings.sparkSession.sparkContext.broadcast(cent)

    def assign_buckets(n_top: int, col: str):
        def fn(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                v = np.stack([np.asarray(e, dtype=np.float64) for e in pdf[col]])
                v /= np.linalg.norm(v, axis=1, keepdims=True)
                s = v @ bc_cent.value.T
                top = np.argsort(-s, axis=1)[:, :n_top]
                out = pdf.loc[pdf.index.repeat(n_top)].copy()
                out["bucket"] = top.reshape(-1).astype("int32")
                yield out

        return fn

    cand_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in base.schema.fields]
        + ["bucket INT"]
    )
    cand_buckets = base.mapInPandas(assign_buckets(1, vec_col), cand_schema)
    q_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in qdf.schema.fields]
        + ["bucket INT"]
    )
    q_buckets = qdf.mapInPandas(assign_buckets(n_probe, vec_col), q_schema)

    # probed-list pruning: a candidate survives iff its list is probed
    # by SOME query — at scale this is the bucket semi-join that keeps
    # (n_probe/n_clusters)·corpus flowing into the PQ stage. (Per-query
    # pair pruning happens again inside pq_topk's ADC ranking.)
    probed = cand_buckets.join(
        F.broadcast(q_buckets.select("bucket").distinct()), "bucket"
    ).drop("bucket")
    # Materialize the pruned corpus ONCE: pq_topk reads its input four
    # times (codebook sample collect, encode pass, query-LUT pass,
    # re-rank vector join) and each read would otherwise re-run the
    # Python bucket-assignment stage and its join.
    pruned_corpus = probed.unionByName(qdf).localCheckpoint(eager=False)
    return pq_topk(
        pruned_corpus,
        query_pred,
        k=k,
        n_subspaces=n_subspaces,
        n_codes=n_codes,
        refine=refine,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        extra_cols=extra_cols,
        sample_size=sample_size,
    )


def label_centroid_norms(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid L2 norm — array processing via posexplode →
    per-dimension mean → re-reduce. One shuffle on (label, dim)."""
    flat = embeddings.select(
        F.col(label_col),
        F.posexplode(_as_double(F.col(vec_col))).alias("dim", "v"),
    )
    cent = flat.groupBy(label_col, "dim").agg(F.avg("v").alias("c"))
    norms = cent.groupBy(label_col).agg(
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("centroid_norm")
    )
    counts = embeddings.groupBy(label_col).agg(F.count("*").alias("n_vectors"))
    return counts.join(norms, label_col).select(
        label_col, "n_vectors", "centroid_norm"
    )
