"""Transitive dedup clusters (connected components over near-dup pairs).

1. ``connected_components`` converges on graphs whose diameter exceeds any
   fixed round count (a 12-hop chain) — the library fixpoint mode;
2. the fixed-round mode used by the oracle-checked ``dedup_clusters``
   query is exact whenever rounds >= diameter, and equals the fixpoint;
3. ``dedup_clusters`` matches a hand union-find over the verified
   ``dedup_minhash_lsh`` pair graph;
4. ``connected_components_star`` (alternating large-star/small-star, the
   O(log^2 n)-round production form) equals union-find and the min-label
   fixpoint on general fixtures, a long chain whose diameter exceeds the
   oracle's fixed rounds, and the real pair graph;
5. the ``verify_converged`` post-check catches diameter > rounds
   under-merges and passes when rounds suffice (incl. at the checked sf).
"""

from __future__ import annotations

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


def test_convergence_beats_fixed_rounds_on_long_chain(spark):
    # a 13-node path: diameter 12, so min-label propagation needs 12
    # rounds; 3 rounds must NOT finish, the fixpoint loop must
    edges = _chain_edges(spark, 12)
    converged = {
        r.doc_id: r.cluster_rep
        for r in dedup.connected_components(edges).collect()
    }
    assert converged == {i: 0 for i in range(13)}

    partial = {
        r.doc_id: r.cluster_rep
        for r in dedup.connected_components(edges, rounds=3).collect()
    }
    assert partial != converged
    assert partial[3] == 0 and partial[12] == 9  # exactly 3 hops propagated


def test_fixed_rounds_exact_within_diameter(spark):
    # two components (a triangle-ish pair cluster + a 4-path), diameter 3
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long",
    )
    fixed = sorted(
        map(tuple, dedup.connected_components(edges, rounds=dedup.CC_ROUNDS).collect())
    )
    fixpoint = sorted(map(tuple, dedup.connected_components(edges).collect()))
    assert fixed == fixpoint
    assert fixed == [
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    ]


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


def test_star_matches_union_find_and_min_label(spark):
    # multiple components, ties, a cycle, shared minima — the general case
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 10), (20, 21), (21, 22), (22, 23),
         (5, 40), (40, 41), (3, 3)],
        "doc_a long, doc_b long",
    )
    pairs = [(r.doc_a, r.doc_b) for r in edges.collect()]
    expected = _union_find(pairs)
    star = {
        r.doc_id: r.cluster_rep
        for r in dedup.connected_components_star(edges).collect()
    }
    fixpoint = {
        r.doc_id: r.cluster_rep
        for r in dedup.connected_components(edges).collect()
    }
    assert star == expected == fixpoint


def test_star_long_chain_beyond_fixed_round_diameter(spark):
    # a 31-node path: diameter 30 >> CC_ROUNDS=8.  Min-label at the
    # oracle's fixed rounds silently under-merges (the ADVICE round-4
    # diameter-bound caveat); large-star/small-star converges in
    # O(log^2 n) rounds and matches union-find exactly.
    edges = _chain_edges(spark, 30)
    expected = {i: 0 for i in range(31)}
    star = {
        r.doc_id: r.cluster_rep
        for r in dedup.connected_components_star(edges).collect()
    }
    assert star == expected
    fixed = {
        r.doc_id: r.cluster_rep
        for r in dedup.connected_components(edges, rounds=dedup.CC_ROUNDS).collect()
    }
    assert fixed != expected  # the documented under-merge the star form fixes


def test_star_on_minhash_pair_graph(spark):
    pairs_df = dedup.dedup_minhash_lsh(spark, SF_DIR).select("doc_a", "doc_b")
    pairs = [(r.doc_a, r.doc_b) for r in pairs_df.collect()]
    expected = _union_find(pairs)
    got = {
        r.doc_id: r.cluster_rep
        for r in dedup.connected_components_star(pairs_df).collect()
    }
    assert got == expected


def test_verify_converged_post_check(spark):
    # the cheap one-extra-round guard: raises on a diameter > rounds
    # component, passes (and returns the exact answer) when rounds suffice
    edges = _chain_edges(spark, 12)
    with pytest.raises(ValueError, match="still moving"):
        dedup.connected_components(edges, rounds=3, verify_converged=True)
    ok = {
        r.doc_id: r.cluster_rep
        for r in dedup.connected_components(
            edges, rounds=12, verify_converged=True
        ).collect()
    }
    assert ok == {i: 0 for i in range(13)}


def test_dedup_clusters_fixed_rounds_converged_at_sf(spark):
    # the oracle-checked query runs CC_ROUNDS fixed rounds and then raises
    # if a label still moves: the near-dup graph at the checked scale must
    # be inside that diameter bound (the post-check the DuckDB unrolled
    # oracle cannot perform)
    dedup.dedup_clusters(spark, SF_DIR).collect()
