"""Transitive dedup clusters (connected components over near-dup pairs).

1. ``connected_components`` (alternating large-star/small-star, the only
   CC implementation) equals a hand union-find on a general fixture, on a
   31-node path whose diameter exceeds the oracle's ``CC_ROUNDS``, and on
   the real ``dedup_minhash_lsh`` pair graph;
2. ``dedup_clusters`` matches a hand union-find over the verified
   ``dedup_minhash_lsh`` pair graph;
3. the oracle's precondition holds at the sf dirs ``check_oracle.py``
   gates: every node of the pair graph is within ``CC_ROUNDS`` hops of its
   component minimum, so the unrolled min-label SQL is exact there.
"""

from __future__ import annotations

import os
from collections import defaultdict, deque

import pytest

from ocr_spark.operators import dedup

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _clear_cache(spark):
    yield
    spark.catalog.clearCache()


def _chain_edges(spark, n):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )


def _union_find(pairs):
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_dedup_clusters_matches_union_find(spark):
    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_minhash_lsh(spark, SF_DIR).collect()
    ]
    assert pairs, "fixture must exercise at least one pair"
    expected = _union_find(pairs)
    got = {
        r.doc_id: r.cluster_rep
        for r in dedup.dedup_clusters(spark, SF_DIR).collect()
    }
    assert got == expected


def test_star_matches_union_find(spark):
    # multiple components, ties, a cycle, shared minima, a self-loop
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 10), (20, 21), (21, 22), (22, 23),
         (5, 40), (40, 41), (3, 3)],
        "doc_a long, doc_b long",
    )
    pairs = [(r.doc_a, r.doc_b) for r in edges.collect()]
    expected = _union_find(pairs)
    star = {
        r.doc_id: r.cluster_rep
        for r in dedup.connected_components(edges).collect()
    }
    assert star == expected


def test_star_long_chain_beyond_fixed_round_diameter(spark):
    # a 31-node path: diameter 30 >> CC_ROUNDS=8; large-star/small-star
    # converges in O(log^2 n) rounds and labels the whole path 0
    edges = _chain_edges(spark, 30)
    star = {
        r.doc_id: r.cluster_rep
        for r in dedup.connected_components(edges).collect()
    }
    assert star == {i: 0 for i in range(31)}


def test_star_on_minhash_pair_graph(spark):
    pairs_df = dedup.dedup_minhash_lsh(spark, SF_DIR).select("doc_a", "doc_b")
    pairs = [(r.doc_a, r.doc_b) for r in pairs_df.collect()]
    expected = _union_find(pairs)
    got = {
        r.doc_id: r.cluster_rep
        for r in dedup.connected_components(pairs_df).collect()
    }
    assert got == expected


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_oracle_rounds_reach_every_member_at_sf(spark, sf):
    # DEDUP_CLUSTERS_SQL unrolls CC_ROUNDS min-label rounds: it is exact
    # iff a BFS from each component's minimum reaches every member within
    # CC_ROUNDS hops.  Past that bound the oracle under-merges and the
    # gate fails by value, so pin the bound where the gate runs.
    sf_dir = os.path.join(os.path.dirname(SF_DIR), sf)
    nbrs = defaultdict(set)
    for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect():
        nbrs[r.doc_a].add(r.doc_b)
        nbrs[r.doc_b].add(r.doc_a)
    assert nbrs, "fixture must exercise at least one pair"
    hops: dict = {}
    for root in sorted(nbrs):
        if root in hops:
            continue  # reached from a smaller root: not a component minimum
        hops[root] = 0
        queue = deque([root])
        while queue:
            u = queue.popleft()
            for v in nbrs[u]:
                if v not in hops:
                    hops[v] = hops[u] + 1
                    queue.append(v)
    assert max(hops.values()) <= dedup.CC_ROUNDS
