"""Persisted, incrementally-maintained IVF-PQ ANN index.

``ann_ivf_topk`` / ``ann_ivfpq_topk`` retrain their
centroid/codebook sample and re-encode the whole corpus on EVERY
invocation — fine at bench scale, wasteful at 100 TB, where an ANN
index is maintained state, not a per-query computation. This module
stores the index as two native-transaction-log tables under one root
and keeps it current with the same exactly-once micro-batch pattern as
the HLL/CMS sketch streams (:func:`..streaming.pipelines.run_cms_stream`):

* ``<root>/model`` — the FROZEN quantizers: coarse IVF centroids +
  per-subspace PQ codebooks, a few hundred rows (component, m, idx,
  vals). Train once on the bounded deterministic sample — the SAME
  protocol as :func:`.similarity.pq_topk` / ``ann_ivfpq_topk``
  (orderBy id, limit, seeded Lloyd's), so a full-probe/full-refine
  query over the persisted index is provably identical to the rebuilt
  one.
* ``<root>/codes`` — one row per vector: ``(id, extra..., bucket,
  codes)`` — the IVF assignment and the ~32×-compressed PQ codes. This
  is the ONLY table a query scans; appended vectors are encoded
  incrementally by :func:`run_ann_index_stream` (txnAppId/txnVersion
  replay-skip → exactly-once, MERGE on id → re-delivery upserts).

``ann_index_topk`` then answers top-k from the persisted tables: load
the model (bounded collect), bucket+LUT the queries in one Arrow pass,
per-query probe ``n_probe`` inverted lists via a broadcast bucket
join, ADC-score the probed codes JVM-side, and exactly re-rank the
top ``refine`` per query against the raw vector store. At full probe
and full refine the result is ≡ brute force for ANY model (every
candidate probed and exactly re-ranked) — the oracle hook the catalog
arm uses; the sub-linear operating point is the same path with
``n_probe``/``refine`` dialed down, equality-with-rebuilt pinned in
tests at full probe.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .similarity import _as_double, _codebook_sample, _dot, _norm
from .util import local_relation


def _train(embeddings: DataFrame, n_clusters: int, n_subspaces: int,
           n_codes: int, seed: int, sample_size: int,
           id_col: str, vec_col: str):
    """Coarse centroids + per-subspace codebooks from the bounded
    deterministic sample — bit-identical to the ann_ivfpq_topk /
    pq_topk training protocol (fresh seeded RandomState per
    quantizer)."""
    import numpy as np

    sample = _codebook_sample(embeddings, id_col, vec_col, sample_size)
    if not sample:
        raise ValueError("ann index: no vectors to train on")
    x = np.array([list(r[1]) for r in sample], dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    dim = x.shape[1]
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces}")
    dsub = dim // n_subspaces
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(n_clusters, len(x)), replace=False)]
    for _ in range(10):
        assign = np.argmax(x @ cent.T, axis=1)
        for c in range(cent.shape[0]):
            members = x[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cent[c] = v / np.linalg.norm(v)
    rng = np.random.RandomState(seed)
    books = []
    for m in range(n_subspaces):
        sub = x[:, m * dsub : (m + 1) * dsub]
        cb = sub[rng.choice(len(sub), min(n_codes, len(sub)), replace=False)]
        for _ in range(10):
            d2 = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(cb.shape[0]):
                members = sub[assign == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        books.append(cb)
    return cent, books


def encode_with_model(df: DataFrame, centroids, books,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      extra_cols: tuple[str, ...] = ("label",)) -> DataFrame:
    """Map-only Arrow-batched encode: nearest coarse centroid (the IVF
    bucket) + nearest codebook entry per subspace (the PQ codes) for
    every vector — the incremental unit the maintenance stream runs
    per micro-batch."""
    import numpy as np

    cent = np.asarray(centroids, dtype=np.float64)
    books = [np.asarray(b, dtype=np.float64) for b in books]
    dsub = books[0].shape[1]
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast((cent, books))

    def fn(batches):
        c, bks = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack([np.asarray(e, dtype=np.float64)
                          for e in pdf[vec_col]])
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            bucket = np.argmax(v @ c.T, axis=1).astype("int32")
            codes = np.empty((len(pdf), len(bks)), dtype=np.int32)
            for m, cb in enumerate(bks):
                sub = v[:, m * dsub : (m + 1) * dsub]
                d2 = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
                codes[:, m] = np.argmin(d2, axis=1)
            out = pdf[[id_col, *extra_cols]].copy()
            out["bucket"] = bucket
            out["codes"] = list(codes)
            yield out

    extra_schema = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in df.select(*extra_cols).schema.fields
    )
    return df.select(id_col, *extra_cols, vec_col).mapInPandas(
        fn, f"{id_col} BIGINT{extra_schema}, bucket INT, codes ARRAY<INT>"
    )


def _model_table(spark: SparkSession, centroids, books) -> DataFrame:
    rows = [
        ("centroid", -1, i, [float(x) for x in c])
        for i, c in enumerate(centroids)
    ] + [
        ("codebook", m, i, [float(x) for x in c])
        for m, book in enumerate(books)
        for i, c in enumerate(book)
    ]
    # local_relation: one Arrow batch decoded JVM-side — the pickle
    # path would run a Python-worker stage per materialization (see
    # operators.util.local_relation).
    return local_relation(
        spark, rows, "component string, m int, idx int, vals array<double>"
    )


#: per-process model cache: {model table root: (log version, model)}.
#: Without it ann_index_topk would re-collect + re-broadcast the model
#: on every invocation. The cache key is the model TABLE VERSION (one
#: cheap driver-side snapshot resolution), so an explicit rebuild
#: (build_ann_index overwrite) invalidates naturally while repeat
#: queries skip the collect entirely. LRU-capped (a driver touching
#: many index roots can't grow it without bound) and the cached numpy
#: arrays are frozen read-only — they are returned BY REFERENCE, so a
#: mutating caller would otherwise corrupt every later query.
from collections import OrderedDict

_MODEL_CACHE: "OrderedDict[str, tuple[int, tuple]]" = OrderedDict()
_MODEL_CACHE_MAX = 8


def _load_model(spark: SparkSession, index_path: str):
    import numpy as np

    from .txlog import TxTable

    t = TxTable(spark, os.path.join(index_path, "model"))
    version = t.snapshot().version
    cached = _MODEL_CACHE.get(t.root)
    if cached is not None and cached[0] == version:
        _MODEL_CACHE.move_to_end(t.root)
        return cached[1]
    rows = t.read().collect()
    # bounded: n_clusters + n_subspaces*n_codes rows
    cents = sorted(
        (r for r in rows if r["component"] == "centroid"),
        key=lambda r: r["idx"],
    )
    centroids = np.array([r["vals"] for r in cents])
    n_sub = 1 + max(
        (r["m"] for r in rows if r["component"] == "codebook"), default=-1
    )
    books = []
    for m in range(n_sub):
        bk = sorted(
            (r for r in rows if r["component"] == "codebook" and r["m"] == m),
            key=lambda r: r["idx"],
        )
        books.append(np.array([r["vals"] for r in bk]))
    centroids.setflags(write=False)
    for b in books:
        b.setflags(write=False)
    # tuple, not list: the cached container is returned by reference
    # too, so a caller's books[0] = ... must be rejected like element
    # writes are
    books = tuple(books)
    _MODEL_CACHE[t.root] = (version, (centroids, books))
    # a version-refresh reinsert must land at the MRU end, not keep the
    # stale key's old position (it would be next in line for eviction)
    _MODEL_CACHE.move_to_end(t.root)
    while len(_MODEL_CACHE) > _MODEL_CACHE_MAX:
        _MODEL_CACHE.popitem(last=False)
    return centroids, books


def build_ann_index(
    spark: SparkSession,
    embeddings: DataFrame,
    index_path: str,
    n_clusters: int = 16,
    n_subspaces: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = ("label",),
) -> str:
    """Train the model and encode the full corpus into the two index
    tables (idempotent: re-building overwrites). Returns
    ``index_path``."""
    from .txlog import TxTable

    cent, books = _train(embeddings, n_clusters, n_subspaces, n_codes,
                         seed, sample_size, id_col, vec_col)
    model_df = _model_table(spark, cent, books)
    mp = os.path.join(index_path, "model")
    if not TxTable.exists(spark, mp):
        TxTable.create(spark, mp, model_df.schema, properties={
            "ann.n_clusters": str(n_clusters),
            "ann.n_subspaces": str(n_subspaces),
            "ann.n_codes": str(n_codes),
            "ann.seed": str(seed),
        })
    TxTable(spark, mp).write(model_df, mode="overwrite")
    codes = encode_with_model(
        embeddings.filter(F.col(vec_col).isNotNull()), cent, books,
        id_col, vec_col, extra_cols,
    )
    cp = os.path.join(index_path, "codes")
    if not TxTable.exists(spark, cp):
        TxTable.create(spark, cp, codes.schema)
    TxTable(spark, cp).write(codes, mode="overwrite")
    return index_path


def run_ann_index_stream(
    vectors: DataFrame,
    index_path: str,
    checkpoint_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = ("label",),
    app_id: str | None = None,
):
    """Incremental index maintenance — the ``run_cms_stream`` pattern
    applied to ANN state: each micro-batch encodes ONLY its vectors
    with the frozen model and MERGEs them into the codes table on id
    (an upsert, so re-delivered or corrected vectors re-encode in
    place). Replayed ``batch_id``s are skipped via the log's
    txnAppId/txnVersion, so a checkpoint-recovered batch can never
    double-insert. The model stays frozen — retraining is an explicit
    :func:`build_ann_index` rebuild, exactly how production IVF-PQ
    deployments roll their quantizers."""
    from .txlog import TxTable

    app = app_id or f"ann_index_stream:{checkpoint_path}"
    cp = os.path.join(index_path, "codes")

    def update(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cent, books = _load_model(spark, index_path)
        delta = encode_with_model(
            batch_df.filter(F.col(vec_col).isNotNull()), cent, books,
            id_col, vec_col, extra_cols,
        )
        tx = TxTable(spark, cp)
        last = tx.txn_version(app)
        if last is not None and batch_id <= last:
            return  # replayed micro-batch: already committed
        tx.merge(delta, keys=[id_col],
                 params={"txnAppId": app, "txnVersion": batch_id})

    return (
        vectors.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def ann_index_topk(
    spark: SparkSession,
    index_path: str,
    embeddings: DataFrame,
    query_pred,
    k: int = 5,
    n_probe: int = 4,
    refine: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Top-k over the PERSISTED index: no training, no corpus encode —
    the query plan touches the codes table (compressed, pruned to the
    probed buckets), the model (bounded collect), and ``refine`` raw
    vectors per query for the exact re-rank.

    ``query_pred`` selects the query rows from ``embeddings`` and, by
    negation over the codes table's columns, excludes them from the
    candidates — it must reference columns the codes table carries
    (id/extra), like the catalog's ``vec_id < 5``."""
    import numpy as np

    n_probe_eff = n_probe
    cent, books = _load_model(spark, index_path)
    n_probe_eff = min(n_probe_eff, len(cent))
    n_codes = books[0].shape[0]
    n_subspaces = len(books)
    dsub = books[0].shape[1]
    bc = spark.sparkContext.broadcast((cent, books))

    queries_raw = embeddings.filter(
        query_pred & F.col(vec_col).isNotNull()
    ).select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qe"))

    def bucket_lut(batches):
        import pandas as pd

        c, bks = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack([np.asarray(e, dtype=np.float64)
                          for e in pdf["qe"]])
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            s = v @ c.T
            top = np.argsort(-s, axis=1)[:, :n_probe_eff]
            luts = [
                np.concatenate([
                    row[m * dsub : (m + 1) * dsub] @ cb.T
                    for m, cb in enumerate(bks)
                ])
                for row in v
            ]
            out = pd.DataFrame({
                "query_id": pdf["query_id"].to_numpy(dtype="int64").repeat(
                    n_probe_eff
                ),
                "qe": pdf["qe"].repeat(n_probe_eff),
                "lut": [luts[i] for i in range(len(pdf))
                        for _ in range(n_probe_eff)],
                "bucket": top.reshape(-1).astype("int32"),
            })
            yield out

    q_probes = queries_raw.mapInPandas(
        bucket_lut,
        "query_id BIGINT, qe ARRAY<FLOAT>, lut ARRAY<DOUBLE>, bucket INT",
    ).localCheckpoint(eager=False)

    from .txlog import TxTable

    codes = TxTable(spark, os.path.join(index_path, "codes")).read()
    candidates = codes.filter(~query_pred)

    # per-query probed lists: candidate's single bucket ∈ the query's
    # n_probe buckets → at most one join hit per (query, candidate)
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
        candidates.join(F.broadcast(q_probes.drop("qe")), "bucket")
        .withColumn("_adc", adc)
        .withColumn("_ark", F.row_number().over(w_adc))
        .filter(F.col("_ark") <= refine)
        .select("query_id", id_col, *extra_cols)
    )
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
        .join(
            F.broadcast(q_probes.select("query_id", "qe").dropDuplicates(
                ["query_id"]
            )),
            "query_id",
        )
        .withColumn("cosine", cosine)
        .select("query_id", id_col, *extra_cols, "cosine")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )
