"""Connected-components dedup clustering and Arrow ANN parity."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from data_pipelines_cu_spark.operators import dedup as dd
from data_pipelines_cu_spark.operators import similarity as sim


def test_dedup_clusters_chain_and_islands(spark):
    # chain 1-2-3 (transitive closure), island pair 10-11, singleton edge 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], ["id_a", "id_b"]
    )
    out = {r.doc_id: r.canonical_id for r in dd.dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_dedup_clusters_deep_chain_converges(spark):
    # path graph 0-1-2-...-9: worst-case diameter for label propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"]
    )
    out = {r.doc_id: r.canonical_id for r in dd.dedup_clusters(pairs).collect()}
    assert set(out.values()) == {0}


def test_near_dup_survivors_greedy(spark):
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(5)], ["doc_id", "x"])
    pairs = spark.createDataFrame([(0, 3), (1, 4)], ["id_a", "id_b"])
    kept = {r.doc_id for r in dd.near_dup_survivors(docs, pairs).collect()}
    assert kept == {0, 1, 2}


def test_arrow_ann_matches_column_algebra(spark, tables):
    em = tables["embeddings"]
    queries = em.filter(F.col("vec_id") < 3)
    a = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
        for r in sim.cosine_topk(em, queries, k=4).collect()
    }
    b = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
        for r in sim.cosine_topk_arrow(em, queries, k=4).collect()
    }
    assert a == b


def test_dedup_clusters_long_chain_needs_pointer_doubling(spark, monkeypatch):
    # path graph of 60 nodes: plain one-hop min-label propagation needs 59
    # rounds (> max_iter=20); the pointer-doubling step collapses it in
    # O(log n) rounds. Regression guard for the doubling, so it forces the
    # distributed path (the driver path has no round cap).
    monkeypatch.setattr(dd, "DRIVER_CC_MAX_PAIRS", -1)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], ["id_a", "id_b"]
    )
    out = {r.doc_id: r.canonical_id for r in dd.dedup_clusters(pairs).collect()}
    assert set(out.values()) == {0}


def test_kmeans_derived_k_bounds_cluster_population(spark, tables):
    """SemDeDup's scale contract: with k derived as ceil(N/target), cell
    population stays near the target at ANY corpus size — the property
    that keeps the quadratic within-cell pair stage linear overall. On the
    fixture the lowest-id-seeded Lloyd assignment must produce exactly
    ceil(N/target) cells, none more than 2x the target."""
    from data_pipelines_cu_spark.operators.similarity import (
        derived_n_clusters,
        kmeans_clusters,
    )

    em = tables["embeddings"]
    n = em.count()
    target = 64
    k = derived_n_clusters(n, target)
    assert k == -(-n // target)
    sizes = [
        r["count"]
        for r in kmeans_clusters(em, target_cluster_size=target)
        .groupBy("cluster")
        .count()
        .collect()
    ]
    assert len(sizes) == k
    assert max(sizes) <= 2 * target
    # derivation arithmetic at production scale: 1B vectors / 1024 ≈ 1M cells
    assert derived_n_clusters(1_000_000_000, 1024) == 976_563


# --- both component paths against a union-find reference ---------------------


def _adversarial_graphs():
    """(name, edge list) — the shapes that stress min-label propagation:
    deep chains (diameter), stars with the hub at either end of the id
    order, a ring, a binary tree, a random graph with a few big
    components, and duplicate/self edges."""
    rng = random.Random(7)
    return {
        "chains64": [
            (c * 1000 + i, c * 1000 + i + 1) for c in range(8) for i in range(63)
        ],
        "chain1000": [(i, i + 1) for i in range(999)],
        "star_high_hub": [(10_000, i) for i in range(200)],
        "star_low_hub": [(0, i + 1) for i in range(200)],
        "ring256": [(i, (i + 1) % 256) for i in range(256)],
        "tree10": [((i - 1) // 2, i) for i in range(1, 1023)],
        "rand2000": [
            (rng.randrange(2000), rng.randrange(2000)) for _ in range(3000)
        ],
        "dups": [(1, 2), (2, 1), (3, 3), (2, 3), (9, 9)],
    }


_GRAPHS = _adversarial_graphs()
# distributed-path runs of these take 4-8 s each (one job per round)
_SLOW_DISTRIBUTED = {"chains64", "chain1000", "tree10", "rand2000"}


def _union_find(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.fixture(params=["driver", "distributed"])
def cc_path(request, monkeypatch):
    """Force one dedup_clusters path through the size threshold."""
    monkeypatch.setattr(
        dd, "DRIVER_CC_MAX_PAIRS", 10**12 if request.param == "driver" else -1
    )
    return request.param


def _assign(spark, edges, ddl="ia long, ib long"):
    out = dd.dedup_clusters(spark.createDataFrame(edges, ddl), "ia", "ib")
    return out, {r.doc_id: r.canonical_id for r in out.collect()}


@pytest.mark.parametrize(
    "graph",
    [
        pytest.param(g, marks=pytest.mark.tier2) if g in _SLOW_DISTRIBUTED else g
        for g in sorted(_GRAPHS)
    ],
)
def test_distributed_components_match_union_find(spark, graph, monkeypatch):
    monkeypatch.setattr(dd, "DRIVER_CC_MAX_PAIRS", -1)
    edges = _GRAPHS[graph]
    assert _assign(spark, edges)[1] == _union_find(edges)


@pytest.mark.parametrize("graph", sorted(_GRAPHS))
def test_driver_components_match_union_find(spark, graph, monkeypatch):
    monkeypatch.setattr(dd, "DRIVER_CC_MAX_PAIRS", 10**12)
    edges = _GRAPHS[graph]
    out, got = _assign(spark, edges)
    assert got == _union_find(edges)
    # one partition: the result is small, and the sink writes one file
    assert out.rdd.getNumPartitions() == 1


def test_components_np_is_exact_without_a_round_cap():
    """The numpy kernel alone, on every adversarial graph plus a long
    chain with shuffled ids (worst case for one-hop propagation)."""
    import numpy as np

    ids = list(range(5000))
    random.Random(3).shuffle(ids)
    graphs = dict(_GRAPHS, shuffled_chain=list(zip(ids, ids[1:])))
    for name, edges in graphs.items():
        a, b = (np.array(c, dtype=np.int64) for c in zip(*edges))
        nodes, canon = dd._components_np(a, b)
        assert dict(zip(nodes.tolist(), canon.tolist())) == _union_find(
            edges
        ), name


def test_driver_path_ignores_max_iter(spark, monkeypatch):
    monkeypatch.setattr(dd, "DRIVER_CC_MAX_PAIRS", 10**12)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(59)], ["id_a", "id_b"])
    out = dd.dedup_clusters(pairs, max_iter=1).collect()
    assert {r.canonical_id for r in out} == {0} and len(out) == 60


def test_dedup_clusters_empty_pairs(spark, cc_path):
    out, got = _assign(spark, [])
    assert got == {}
    assert out.schema.simpleString() == "struct<doc_id:bigint,canonical_id:bigint>"


def test_dedup_clusters_self_and_repeated_pairs(spark, cc_path):
    edges = [(5, 5), (6, 6), (5, 7), (7, 5), (5, 7), (8, 9), (8, 9)]
    assert _assign(spark, edges)[1] == {5: 5, 6: 6, 7: 5, 8: 8, 9: 8}


def test_dedup_clusters_keeps_int_id_type(spark, cc_path):
    out, got = _assign(spark, [(3, 1), (1, 2), (7, 8)], "ia int, ib int")
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    assert out.schema.simpleString() == "struct<doc_id:int,canonical_id:int>"


def test_dedup_clusters_null_id_raises(spark, cc_path):
    pairs = spark.createDataFrame([(1, 2), (2, None)], "ia long, ib long")
    with pytest.raises(dd.NullPairIdError, match="1 of 2 pairs"):
        dd.dedup_clusters(pairs, "ia", "ib")
