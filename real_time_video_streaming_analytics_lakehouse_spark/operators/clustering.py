"""Distributed Lloyd's k-means over embedding columns.

The ANN family (``similarity.py``) trains its IVF coarse centroids on
a bounded driver-side SAMPLE — correct and cheap, but a sample can
miss distribution mass at 100 TB. This module is the full-corpus
trainer: the standard driver-coordinated iterative-aggregate loop
(same shape as BPE training — model = k·d floats of driver state,
per-iteration work = one distributed pass):

1. Deterministic seeding: the ``k`` vectors whose ``md5(seed|id)`` is
   smallest — a content-hash choice (sampling.py's trick), so the init
   is identical across partitionings, cluster sizes, and reruns, and a
   sequential reference can reproduce it exactly.
2. Each iteration is ONE ``mapInPandas`` pass (Arrow-batched numpy —
   the sanctioned Python path, matching the assignment kernels in
   ``similarity.py``): per batch, assign rows to the nearest centroid
   (squared L2) and emit PER-BATCH PARTIAL AGGREGATES — (cluster,
   component)-sums, counts, and SSE — k·(d+2) rows per batch, not one
   row per input row. A ``groupBy().sum()`` reduces them and the
   driver collects the bounded k·(d+2) result to update centroids.
   No full-width shuffle ever carries the corpus.
3. Empty clusters keep their previous centroid; ``normalize=True``
   L2-normalizes after every update (spherical k-means — the cosine
   geometry IVF wants); the loop stops early when the max centroid
   shift drops below ``tol``.

``assign_clusters`` scores a frame with trained centroids (map-only),
and ``similarity.ann_ivf_topk(centroids=...)`` accepts the result so
the IVF index can be built from full-corpus centroids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _seed_rows(df: DataFrame, id_col: str, vec_col: str, k: int,
               seed: str) -> list:
    key = F.md5(F.concat_ws("|", F.lit(str(seed)), F.col(id_col).cast("string")))
    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .orderBy(key, F.col(id_col))
        .limit(k)
        .collect()  # bounded: k rows
    )


def kmeans(
    df: DataFrame,
    k: int = 16,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "kmeans",
    normalize: bool = False,
    tol: float = 1e-9,
) -> dict:
    """Train ``k`` centroids; returns ``{centroids, inertia,
    iterations, k}`` where ``inertia`` is the per-iteration SSE
    sequence (non-increasing for plain Lloyd's — pinned by test) and
    ``centroids`` is a ``k×d`` list of lists."""
    import numpy as np

    seeds = _seed_rows(df, id_col, vec_col, k, seed)
    if not seeds:
        raise ValueError("kmeans: no rows with a non-null vector")
    cent = np.array([list(r[1]) for r in seeds], dtype=np.float64)
    if normalize:
        cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    kk, d = cent.shape
    base = df.filter(F.col(vec_col).isNotNull()).select(vec_col)
    sc = df.sparkSession.sparkContext

    inertia: list[float] = []
    it = 0
    for it in range(1, iters + 1):
        bc = sc.broadcast(cent)

        def partials(batches):
            import pandas as pd

            c = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                v = np.stack(
                    [np.asarray(e, dtype=np.float64) for e in pdf[vec_col]]
                )
                if normalize:
                    v = v / np.linalg.norm(v, axis=1, keepdims=True)
                # ||v-c||^2 = ||v||^2 - 2 v.c + ||c||^2
                d2 = (
                    (v * v).sum(axis=1, keepdims=True)
                    - 2.0 * (v @ c.T)
                    + (c * c).sum(axis=1)
                )
                a = np.argmin(d2, axis=1)
                sse = d2[np.arange(len(a)), a]
                rows = []
                for ci in np.unique(a):
                    m = a == ci
                    s = v[m].sum(axis=0)
                    rows.append((int(ci), -1, float(m.sum())))
                    rows.append((int(ci), -2, float(sse[m].sum())))
                    rows.extend(
                        (int(ci), int(p), float(s[p])) for p in range(len(s))
                    )
                yield pd.DataFrame(rows, columns=["cluster", "pos", "val"])

        agg = (
            base.mapInPandas(partials, "cluster INT, pos INT, val DOUBLE")
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("val"))
            .collect()  # bounded: k * (d + 2) rows
        )
        bc.destroy()
        sums = np.zeros((kk, d))
        counts = np.zeros(kk)
        sse_total = 0.0
        for r in agg:
            if r["pos"] == -1:
                counts[r["cluster"]] = r["val"]
            elif r["pos"] == -2:
                sse_total += r["val"]
            else:
                sums[r["cluster"], r["pos"]] = r["val"]
        inertia.append(float(sse_total))
        new = cent.copy()  # empty clusters keep their centroid
        nonempty = counts > 0
        new[nonempty] = sums[nonempty] / counts[nonempty, None]
        if normalize:
            norms = np.linalg.norm(new, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            new = new / norms
        shift = float(np.max(np.abs(new - cent)))
        cent = new
        if shift < tol:
            break
    return {
        "centroids": [list(map(float, c)) for c in cent],
        "inertia": inertia,
        "iterations": it,
        "k": kk,
    }


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cluster",
    normalize: bool = False,
    sim_col: str | None = None,
) -> DataFrame:
    """Map-only nearest-centroid assignment with trained centroids
    (NULL vectors get a NULL cluster; every input row is kept).

    ``sim_col`` additionally emits the row's COSINE to its assigned
    centroid (both sides L2-normalized for the dot product regardless
    of ``normalize``, which only controls the assignment metric) — the
    per-member centroid-similarity surface SemDeDup's keep policy
    ranks on, computed in the same Arrow batch as the assignment."""
    import numpy as np

    cent = np.array(centroids, dtype=np.float64)
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(cent)
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"{out_col} INT"]
        + ([f"{sim_col} DOUBLE"] if sim_col else [])
    )

    def _unit(m):
        # zero-norm guard: an all-zero vector/centroid stays zero
        # instead of dividing by zero (NaN + RuntimeWarning)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        return m / np.where(norms == 0.0, 1.0, norms)

    def fn(batches):
        c = bc.value
        c_hat = _unit(c) if sim_col else None
        for pdf in batches:
            if pdf.empty:
                continue
            out = pdf.copy()
            mask = pdf[vec_col].notna()
            out[out_col] = None
            if sim_col:
                out[sim_col] = None
            if mask.any():
                v = np.stack(
                    [
                        np.asarray(e, dtype=np.float64)
                        for e in pdf.loc[mask, vec_col]
                    ]
                )
                # normalize only when the metric or sim_col needs it
                v_hat = _unit(v) if (normalize or sim_col) else None
                if normalize:
                    v = v_hat
                d2 = (
                    (v * v).sum(axis=1, keepdims=True)
                    - 2.0 * (v @ c.T)
                    + (c * c).sum(axis=1)
                )
                a = np.argmin(d2, axis=1)
                out.loc[mask, out_col] = a.astype("int32")
                if sim_col:
                    cos = np.einsum("ij,ij->i", v_hat, c_hat[a])
                    out.loc[mask, sim_col] = np.round(cos, 9)
            yield out

    return df.mapInPandas(fn, schema)
