"""Connected-components unit tests: chain, cycle, singleton, and the
LSH-composed scale path vs the exact pipeline."""

from __future__ import annotations

from pyspark.sql import Row

from real_time_video_streaming_analytics_lakehouse_spark.operators.graph import (
    connected_components,
)

from .conftest import count_jobs


def test_connected_components_chain_cycle_singleton(spark):
    # chain 1-2-3, cycle 4-5-6-4, singleton 7
    edges = spark.createDataFrame(
        [
            Row(id_a=1, id_b=2),
            Row(id_a=2, id_b=3),
            Row(id_a=4, id_b=5),
            Row(id_a=5, id_b=6),
            Row(id_a=6, id_b=4),
        ]
    )
    nodes = spark.createDataFrame([Row(id=i) for i in range(1, 8)])
    out = {
        r["id"]: r["cluster_id"]
        for r in connected_components(edges, nodes).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4, 7: 7}


def test_lsh_composed_clusters_refine_exact(spark):
    """CC over LSH candidate pairs can only MERGE what the exact
    pipeline merges — cosines are exactly verified, so any two vectors
    the LSH path puts in one cluster must share an exact cluster too
    (no false merges, at any threshold — here the raw corpus at the
    exact sibling's weak 0.4 threshold, where recall is partial but
    refinement must still hold; the catalog query
    ``embedding_dedup_clusters_lsh`` runs the same composition at the
    0.9 operating point with injected duplicates and is oracle-checked
    by the driver)."""
    from pyspark.sql import functions as F

    from real_time_video_streaming_analytics_lakehouse_spark.operators.graph import (
        connected_components,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.operators.similarity import (
        lsh_cosine_pairs,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.plans import CATALOG
    from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import (
        load_table,
    )

    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    pairs = lsh_cosine_pairs(emb, threshold=0.4, dim=64)
    nodes = emb.select(F.col("vec_id").alias("id"))
    lsh = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            pairs.select("id_a", "id_b"), nodes, node_col="id"
        ).collect()
    }
    exact = {
        r["vec_id"]: r["cluster_id"]
        for r in CATALOG["embedding_dedup_clusters"].fn(spark, SF_DIR)
        .filter(F.col("arm") == "exact")  # r12: query gained k4/outlier arms
        .collect()
    }
    assert lsh.keys() == exact.keys()
    by_lsh_cluster: dict[int, list[int]] = {}
    for vec, cl in lsh.items():
        by_lsh_cluster.setdefault(cl, []).append(vec)
    for members in by_lsh_cluster.values():
        assert len({exact[m] for m in members}) == 1, (
            f"LSH falsely merged vectors across exact clusters: {members}"
        )


def test_lsh_composed_clusters_match_exact_in_near_dup_regime(spark):
    """In LSH's designed operating regime — true near-duplicates,
    cosine ≥ ~0.9 — candidate recall is ≈1 and the scale composition
    (CC over lsh_cosine_pairs) reproduces the exact pipeline's clusters
    bit-for-bit. The synthetic corpus has no near-dups (max pairwise
    cosine ≈ 0.51), so inject them: 40 vectors get a deterministic
    tiny-noise copy (cosine ≥ 0.99), everything is seeded, and the
    assertion is deterministic."""
    import numpy as np

    from real_time_video_streaming_analytics_lakehouse_spark.operators.graph import (
        connected_components,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.operators.similarity import (
        cosine_pairs,
        lsh_cosine_pairs,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import (
        load_table,
    )

    from .conftest import SF_DIR

    from pyspark.sql import functions as F

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    rng = np.random.RandomState(7)
    base = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.limit(40).collect()}
    dups = [
        (int(vec_id) + 100_000,
         [float(x) for x in v + rng.normal(0, 0.01, size=v.shape)])
        for vec_id, v in base.items()
    ]
    corpus = emb.unionByName(
        spark.createDataFrame(dups, "vec_id LONG, embedding ARRAY<DOUBLE>")
    )
    nodes = corpus.select(F.col("vec_id").alias("id"))
    exact_cc = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            cosine_pairs(corpus, threshold=0.9).select("id_a", "id_b"),
            nodes,
            node_col="id",
        ).collect()
    }
    lsh_cc = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            lsh_cosine_pairs(
                corpus, threshold=0.9, num_hyperplanes=128, num_bands=16
            ).select("id_a", "id_b"),
            nodes,
            node_col="id",
        ).collect()
    }
    # sanity: the injected dups really did form non-trivial clusters
    assert sum(1 for v, c in exact_cc.items() if v != c) >= 40
    assert lsh_cc == exact_cc


def _union_find(edges, nodes):
    """Pure-Python min-id connected components (oracle)."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_star_algorithm_matches_label_prop_and_union_find(spark):
    """Result identity: the alternating large-star/small-star default
    must produce EXACTLY the labels of the naive label-propagation
    reference and a Python union-find, across shapes that stress each
    algorithm differently (chains, cycles, hubs, random blobs)."""
    import random

    from real_time_video_streaming_analytics_lakehouse_spark.operators.graph import (
        connected_components,
        connected_components_label_prop,
    )

    rng = random.Random(13)
    edge_list = []
    # chain 0..19, cycle 100..109, hub 200 with 30 spokes, random blob
    edge_list += [(i, i + 1) for i in range(19)]
    edge_list += [(100 + i, 100 + (i + 1) % 10) for i in range(10)]
    edge_list += [(200, 201 + i) for i in range(30)]
    blob = list(range(300, 340))
    edge_list += [tuple(rng.sample(blob, 2)) for _ in range(60)]
    node_list = sorted(
        {x for e in edge_list for x in e} | {500, 501}
    )  # + two singletons
    edges = spark.createDataFrame(edge_list, "id_a BIGINT, id_b BIGINT")
    nodes = spark.createDataFrame([(n,) for n in node_list], "id BIGINT")
    want = _union_find(edge_list, node_list)
    # the adaptive driver path (small graph) and the distributed star
    # loop (driver_max_edges=0 forces it) must both match the reference
    stats_small: dict = {}
    small = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            edges, nodes, stats=stats_small
        ).collect()
    }
    stats_star: dict = {}
    star = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            edges, nodes, driver_max_edges=0, stats=stats_star
        ).collect()
    }
    prop = {
        r["id"]: r["cluster_id"]
        for r in connected_components_label_prop(edges, nodes).collect()
    }
    assert stats_small["rounds"] == 0 and stats_star["rounds"] > 0
    assert small == want
    assert star == want
    assert prop == want


def test_star_algorithm_rounds_are_logarithmic_on_path_graph(spark):
    """The round-9 scale fix: a 200-node path (diameter 199) must
    converge in ~log2 alternating rounds, where label propagation
    needs ~diameter rounds. This is the driver-job-round-trip
    reduction the star rewrite exists for — pin it."""
    import pytest

    from real_time_video_streaming_analytics_lakehouse_spark.operators.graph import (
        connected_components,
        connected_components_label_prop,
    )

    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a BIGINT, id_b BIGINT"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id BIGINT")
    stats: dict = {}
    out = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            # driver_max_edges=0: force the distributed star loop —
            # this test pins ITS round complexity, not the adaptive
            # small-graph shortcut
            edges, nodes, max_iter=12, stats=stats, driver_max_edges=0
        ).collect()
    }
    assert set(out.values()) == {0} and len(out) == n
    assert stats["rounds"] <= 10, (
        f"star algorithm took {stats['rounds']} rounds on a {n}-path; "
        "expected ~log2(n)"
    )
    # label propagation genuinely cannot do this in 12 rounds
    with pytest.raises(RuntimeError, match="still changing"):
        connected_components_label_prop(edges, nodes, max_iter=12)


def test_paths_agree_when_edges_reference_unknown_nodes(spark):
    """ADVICE r12: edge endpoints absent from ``nodes`` must produce
    the SAME row set on the driver union-find path and the distributed
    star path — labels restricted to ``nodes``, with out-of-nodes
    endpoints still carrying connectivity (1-9-2 bridges through the
    unknown node 9)."""
    edges = spark.createDataFrame(
        [
            Row(id_a=1, id_b=9),  # 9 is NOT in nodes
            Row(id_a=9, id_b=2),
            Row(id_a=3, id_b=4),
        ]
    )
    nodes = spark.createDataFrame([Row(id=i) for i in (1, 2, 3, 4, 5)])
    expected = {1: 1, 2: 1, 3: 3, 4: 3, 5: 5}
    for dme in (10_000, 0):  # driver union-find vs forced star loop
        out = {
            r["id"]: r["cluster_id"]
            for r in connected_components(
                edges, nodes, driver_max_edges=dme
            ).collect()
        }
        assert out == expected, f"driver_max_edges={dme}"


def test_bounded_cc_matches_adaptive_and_enforces_bound(spark):
    """Round 13 (VERDICT r12 #6): the lazy executor-side union-find
    must (a) construct with zero Spark jobs, (b) produce exactly the
    labels of the adaptive path (including nodes-restriction on
    unknown endpoints), and (c) fail the ACTION loudly when the
    caller's edge bound is exceeded."""
    import pytest

    from real_time_video_streaming_analytics_lakehouse_spark.operators.graph import (
        connected_components_bounded,
    )

    edges = spark.createDataFrame(
        [
            Row(id_a=1, id_b=2),
            Row(id_a=2, id_b=3),
            Row(id_a=4, id_b=9),  # 9 unknown: connectivity only
            Row(id_a=9, id_b=5),
        ]
    )
    nodes = spark.createDataFrame([Row(id=i) for i in range(1, 8)])
    jobs, out_df = count_jobs(
        spark, lambda: connected_components_bounded(edges, nodes)
    )
    assert jobs == 0, "connected_components_bounded ran jobs at construction"
    got = {r["id"]: r["cluster_id"] for r in out_df.collect()}
    want = {
        r["id"]: r["cluster_id"]
        for r in connected_components(edges, nodes).collect()
    }
    assert got == want == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 7}

    tight = connected_components_bounded(edges, nodes, max_edges=2)
    with pytest.raises(Exception, match="exceed"):
        tight.collect()
