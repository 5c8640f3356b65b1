"""Regression tests for the round-3 fixes (VERDICT/ADVICE r02): pmod bucket
addressing in the native dispatcher, NULL-token Arrow kernels, the
driver-collect-free all-pairs embedding dedup, sample-trained + persisted
IVF, and connected-components convergence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_web_mapreduce_spark.core import (
    submit_algorithm,
    submit_algorithm_native,
)


def test_native_dispatcher_pmod_matches_python_path(spark):
    """A pi_expr that goes negative under Spark's sign-of-dividend `%`
    (``hash(value) % 4``) must address the same [0, n) buckets as the
    Python-compat path, or the same algorithm groups (pi, key) differently
    across the two dispatchers (ADVICE r02 medium)."""
    rows = [(str(i), w) for i, w in enumerate(["ax", "by", "cz", "ax", "by", "ax"])]
    df = spark.createDataFrame(rows, "key string, value string")

    native = submit_algorithm_native(
        df,
        pi_expr="hash(value) % 4",  # negative for some inputs under Spark %
        key_expr="value",
        value_expr="'1'",
        reduce_expr="cast(size(values) as string)",
        num_partitions=4,
    )
    compat = submit_algorithm(
        map_fn=lambda k, v: (hash(v), v, "1"),  # int(pi) % 4 wraps to [0, 4)
        reduce_fn=lambda k, vs: str(len(vs)),
        input_df=df,
        input_len=2,
        num_partitions=4,
    )
    got_n = sorted((r["key"], r["value"]) for r in native.collect())
    got_c = sorted((r["key"], r["value"]) for r in compat.collect())
    # counts per word are partition-layout-independent; both must agree and
    # neither may have split a key group across a negative/positive pi pair
    assert got_n == [("ax", "3"), ("by", "2"), ("cz", "1")]
    assert got_c == got_n
    # and the native pi column itself stays in range
    mapped = df.select(
        F.pmod(F.expr("hash(value) % 4").cast("bigint"), F.lit(4)).alias("pi")
    )
    assert mapped.filter((F.col("pi") < 0) | (F.col("pi") >= 4)).count() == 0


def test_arrow_kernels_propagate_null_tokens(spark):
    """A single null-text document must degrade to NULL like the Column
    formulations, not crash the Python worker (ADVICE r02)."""
    from go_web_mapreduce_spark.functions.hashing import (
        minhash_sig_arrow,
        simhash_from_tokens_arrow,
    )
    from go_web_mapreduce_spark.functions.text import distinct_shingles_arrow

    df = spark.createDataFrame(
        [(1, ["a", "b", "c", "d"]), (2, None), (3, [])],
        "doc_id bigint, toks array<string>",
    )
    out = df.select(
        "doc_id",
        distinct_shingles_arrow(F.col("toks")).alias("sh"),
        simhash_from_tokens_arrow(F.col("toks")).alias("fp"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[2]["sh"] is None and by_id[2]["fp"] is None
    assert by_id[1]["sh"] is not None and by_id[1]["fp"] is not None

    sig = df.select(
        "doc_id",
        minhash_sig_arrow(distinct_shingles_arrow(F.col("toks")), 16).alias("sig"),
    ).collect()
    by_id = {r["doc_id"]: r["sig"] for r in sig}
    assert by_id[2] is None
    assert by_id[1] is not None and len(by_id[1]) > 0


def test_embedding_near_dup_no_driver_collect(spark):
    """The all-pairs kernel must produce the same pairs as a per-pair exact
    computation, with NO driver-side corpus materialization: the plan is a
    pack → equi-join → mapInPandas pipeline (VERDICT r02 #1). Correct pairs
    + absence of any collect() in the implementation path is asserted by
    running on a corpus whose pairs are known."""
    import inspect
    import math

    from go_web_mapreduce_spark.operators import similarity
    from go_web_mapreduce_spark.operators.similarity import (
        embedding_near_dup_pairs,
        knn_graph,
    )

    # source-level guard: no .collect( inside the operator or the shared
    # block-grid kernel it runs on
    for fn in (
        similarity.embedding_near_dup_pairs,
        similarity._block_grid,
        similarity._grid_map,
    ):
        src = inspect.getsource(fn)
        assert ".collect(" not in src and "broadcast(" not in src, fn.__name__

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.01, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.98, 0.2]),  # near-dup of 3
        (5, [0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = sorted(
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_pairs(emb, threshold=0.9).collect()
    )
    assert got == [(1, 2), (3, 4)]
    # every unordered pair is considered exactly once even across blocks
    all_pairs = embedding_near_dup_pairs(emb, threshold=-1.0, num_blocks=3)
    assert all_pairs.count() == 10  # C(5,2)
    assert all_pairs.distinct().count() == 10

    # edge rows: an all-zero vector (6) and an exact duplicate of 3 (7);
    # every block layout must give the same pairs, graph and scores
    edge = spark.createDataFrame(
        rows + [(6, [0.0, 0.0, 0.0]), (7, [0.0, 1.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    pairs, graphs = [], []
    for blocks in (1, 3, 7):
        dup = {
            (r["vec_a"], r["vec_b"]): r["score"]
            for r in embedding_near_dup_pairs(
                edge, threshold=0.9, num_blocks=blocks
            ).collect()
        }
        assert sorted(dup) == [(1, 2), (3, 4), (3, 7), (4, 7)], blocks
        assert dup[(3, 7)] == 1.0  # the duplicate scores exactly 1
        everything = embedding_near_dup_pairs(
            edge, threshold=-1.0, num_blocks=blocks
        ).collect()
        assert len(everything) == 21  # C(7,2), each pair once
        assert not any(math.isnan(r["score"]) for r in everything)
        # the zero vector scores 0 against everything, never NaN
        assert {r["score"] for r in everything if 6 in (r["vec_a"], r["vec_b"])} == {0.0}
        pairs.append(sorted((r["vec_a"], r["vec_b"], r["score"]) for r in everything))
        graph = {}
        for r in sorted(
            knn_graph(edge, k=3, num_blocks=blocks).collect(),
            key=lambda r: (r["vec_id"], r["rnk"]),
        ):
            graph.setdefault(r["vec_id"], []).append((r["nbr"], r["score"]))
        graphs.append(graph)
    assert pairs[0] == pairs[1] == pairs[2]
    assert graphs[0] == graphs[1] == graphs[2]
    graph = graphs[0]
    # ties break id-ascending: six neighbors tie at 0 for the zero vector,
    # 3 and 7 tie exactly for 4, four tie at 0 behind 2 for 1
    assert graph[6] == [(1, 0.0), (2, 0.0), (3, 0.0)]
    assert [n for n, _ in graph[4]][:2] == [3, 7]
    assert graph[4][0][1] == graph[4][1][1]
    assert [n for n, _ in graph[1]] == [2, 3, 4]
    assert graph[3][0] == (7, 1.0) and graph[7][0] == (3, 1.0)


def test_ivf_sample_training_and_persist(spark, sf_dir):
    """The quantizer must train on a capped sample (VERDICT r02 #2)."""
    from go_web_mapreduce_spark.operators.similarity import ivf_assign
    from go_web_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    # cap below corpus size → sampling path exercised; every vector still
    # assigned exactly once by the map-side transform
    assigned, centroids = ivf_assign(emb, train_sample_cap=max(10, n // 2))
    assert assigned.count() == n
    assert len(centroids) > 0


def test_connected_components_raises_on_non_convergence(spark):
    """Non-convergence must still fail loudly, never return wrong roots
    silently (ADVICE r02). Since round 4, label propagation hands deep
    chains off to the large-star/small-star variant
    (tests/test_round4_fixes.py), so the loud-failure contract now lives on
    that variant's own max_iter exhaustion."""
    from go_web_mapreduce_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = [(i, i + 1) for i in range(8)]  # path graph, diameter 8
    edges = spark.createDataFrame(chain, "doc_a bigint, doc_b bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(edges, max_iter=1)
    ok = connected_components(edges, max_iter=20)
    roots = {r["root"] for r in ok.collect()}
    assert roots == {0}
