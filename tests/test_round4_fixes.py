"""Round-4 verdict/advice items, each pinned by a test:

1. large-star/small-star connected components converge in O(log n) rounds
   on deep path graphs, and plain propagation hands off to it instead of
   raising (VERDICT r3 next-steps #6);
2. PQ training samples are content-deterministic, not layout-dependent
   (ADVICE r3 #2);
3. pq_train fails descriptively when the sample is smaller than ksub
   (ADVICE r3 #3).
"""

from __future__ import annotations

import pytest

from go_web_mapreduce_spark.operators.dedup import (
    connected_components,
    connected_components_star,
)


def _labels(df):
    return {r["doc_id"]: r["root"] for r in df.collect()}


def test_star_cc_on_deep_path(spark):
    """A 1,000-deep path is the propagation worst case (diameter rounds);
    the star variant must label every vertex with the path's minimum in
    O(log n) rounds (max_iter=50 would fail a linear-round algorithm)."""
    n = 1000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    got = _labels(connected_components_star(edges))
    assert got == {i: 0 for i in range(n + 1)}


def test_star_cc_matches_propagation_on_shallow_graph(spark):
    """On ordinary near-dup-shaped graphs both algorithms must agree."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20), (30, 31)],
        "doc_a long, doc_b long",
    )
    prop = _labels(connected_components(edges))
    star = _labels(connected_components_star(edges))
    assert prop == star
    assert star[3] == 1 and star[11] == 10 and star[22] == 20 and star[31] == 30


def test_propagation_hands_off_to_star_on_deep_chain(spark):
    """connected_components with a tiny max_iter must no longer raise on a
    deep chain — it falls back to the star variant and still returns the
    correct labeling."""
    n = 60
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    got = _labels(connected_components(edges, max_iter=3))
    assert got == {i: 0 for i in range(n + 1)}


def test_star_cc_empty_and_single_edge(spark):
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert _labels(connected_components_star(empty)) == {}
    one = spark.createDataFrame([(5, 9)], "doc_a long, doc_b long")
    assert _labels(connected_components_star(one)) == {5: 5, 9: 5}


def test_prefix_jaccard_equals_co_occurrence_plan(spark, sf_dir):
    """VERDICT r3 #7: the Bayardo prefix-filtered plan must produce the
    exact same pair set and jaccard values as the co-occurrence plan —
    prefix filtering is a candidate bound, never an approximation."""
    from go_web_mapreduce_spark.operators.dedup import (
        _shingled_docs,
        jaccard_pairs,
        jaccard_pairs_prefix,
    )

    sh = _shingled_docs(spark, sf_dir)
    base = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in jaccard_pairs(sh).collect()
    }
    pref = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in jaccard_pairs_prefix(sh).collect()
    }
    assert base == pref and len(base) > 0


def test_pq_train_is_layout_insensitive(spark, sf_dir):
    """ADVICE r3 #2: the PQ training sample is selected by id-hash order,
    so codebooks must be identical across partition layouts (sample().limit
    took whichever rows arrived first)."""
    import numpy as np

    from go_web_mapreduce_spark.operators.similarity import pq_train
    from go_web_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = pq_train(emb, sample_cap=100)
    b = pq_train(emb.repartition(13), sample_cap=100)
    assert np.array_equal(a, b)


def test_pq_train_tiny_sample_fails_descriptively(spark):
    """ADVICE r3 #3: fewer sample rows than ksub must raise a named error,
    not an opaque numpy ValueError from rng.choice."""
    from go_web_mapreduce_spark.operators.similarity import pq_train

    tiny = spark.createDataFrame(
        [(i, [float(i)] * 64) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="ksub"):
        pq_train(tiny)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_star_cc_random_graphs_match_networkx_free_oracle(spark, seed):
    """Random sparse graphs vs a pure-Python union-find oracle."""
    import random

    rng = random.Random(seed)
    n, m = 200, 150
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    want = {v: find(v) for v in touched}

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    assert _labels(connected_components_star(df)) == want
