"""Large-star/small-star connected components (operators/cc.py):
exact equality with a driver-side union-find, on the LSH fixture's
bucket-star edges and on random graphs, plus the deep-chain case where
min-label propagation's O(diameter) rounds would be unbounded but star
CC converges in O(log^2 n)."""

from __future__ import annotations

import numpy as np

from ssimulacra2_spark.operators.cc import connected_components_star

SF_DIR = "/root/testdata/sf0.001"


def _union_find(edges):
    parent: dict[int, int] = {}
    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # normalize to min-of-component labels
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {n: min(ms) for r, ms in comp.items() for n in ms}


def _labels(spark, edges):
    df = spark.createDataFrame(edges, schema="u long, v long")
    out, rounds = connected_components_star(df)
    return {r.node: r.label for r in out.collect()}, rounds


def test_star_cc_equals_union_find_on_lsh_fixture(spark):
    """dedup_clusters over the LSH fixture must equal a driver-side
    union-find over the same bucket-star edges: cluster id = component
    minimum, keeper = the node that is its own cluster id."""
    from ssimulacra2_spark.registry.dedup import QUERIES, _star_edges_df

    edges = [
        (r.u, r.v) for r in _star_edges_df(spark, SF_DIR, symmetric=False).collect()
    ]
    want = {n: (lbl, n == lbl) for n, lbl in _union_find(edges).items()}
    got = {
        r.doc_id: (r.cluster_id, r.is_keeper)
        for r in QUERIES["dedup_clusters"](spark, SF_DIR).collect()
    }
    assert got == want
    assert len(got) > 0


def test_star_cc_deep_chain(spark):
    """A 400-node path graph (adversarial near-dup chain): diameter 399
    would take min-label propagation hundreds of hops, but the star
    alternation must finish in O(log^2 n) — well under 12 rounds — with
    every node labeled by the chain minimum."""
    n = 400
    labels, rounds = _labels(spark, [(i, i + 1) for i in range(n - 1)])
    assert rounds <= 12, rounds
    assert labels == {i: 0 for i in range(n)}


def test_star_cc_random_graphs_match_union_find(spark):
    """Three seeded random graphs (sparse, two-component, dense) against
    a driver-side union-find ground truth."""
    rng = np.random.default_rng(7)
    cases = [
        [(int(a), int(b)) for a, b in rng.integers(0, 200, (150, 2))],
        # two guaranteed-disjoint id ranges
        [(int(a), int(a) + int(b) % 40 + 1) for a, b in rng.integers(0, 40, (60, 2))]
        + [
            (1000 + int(a), 1000 + int(a) + int(b) % 40 + 1)
            for a, b in rng.integers(0, 40, (60, 2))
        ],
        [(int(a), int(b)) for a, b in rng.integers(0, 25, (120, 2))],
    ]
    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b]
        labels, rounds = _labels(spark, edges)
        assert labels == _union_find(edges)
        assert rounds <= 12


def test_star_cc_handles_duplicates_selfloops_and_orientation(spark):
    """Input hygiene: duplicate edges, self-loops and mixed orientation
    must not change the result."""
    edges = [(2, 1), (1, 2), (3, 3), (2, 3), (10, 9), (9, 10), (5, 5)]
    labels, _ = _labels(spark, edges)
    assert labels == {1: 1, 2: 1, 3: 1, 9: 9, 10: 9, 5: 5}
