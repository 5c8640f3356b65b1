"""Unit tests on tiny literal DataFrames (SURVEY.md §5 pattern 1 — the
reference's per-module suites over deterministic inline fixtures,
algorithm/test_utils.go:10-23)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from go_web_mapreduce_spark.functions.hashing import (
    band_keys,
    hamming_distance,
    md5_bucket,
    simhash,
)
from go_web_mapreduce_spark.functions.numeric import davg, dsum
from go_web_mapreduce_spark.functions.text import token_count, tokens, word_shingles
from go_web_mapreduce_spark.functions.vectors import cosine_similarity, dot, l2_norm


def test_tokens(spark):
    df = spark.createDataFrame([("A  b c ",), ("", ), (" ",)], "text string")
    got = [r[0] for r in df.select(tokens("text")).collect()]
    assert got == [["a", "b", "c"], [], []]


def test_token_count(spark):
    df = spark.createDataFrame([("x y z",), ("one",)], "text string")
    assert [r[0] for r in df.select(token_count("text")).collect()] == [3, 1]


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    got = [r[0] for r in df.select(word_shingles(tokens("text"), 3)).collect()]
    assert got[0] == ["a b c", "b c d"]
    assert got[1] == ["a b"]  # shorter than k → one whole-doc shingle


def test_vector_ops(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 2.0], [1.0, 2.0, 2.0]), ([1.0, 0.0, 0.0], [0.0, 1.0, 0.0])],
        "a array<float>, b array<float>",
    )
    rows = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        l2_norm(F.col("a")).alias("n"),
        cosine_similarity(F.col("a"), F.col("b")).alias("c"),
    ).collect()
    assert rows[0]["d"] == 9.0
    assert rows[0]["n"] == 3.0
    assert math.isclose(rows[0]["c"], 1.0)
    assert rows[1]["c"] == 0.0


def test_zero_norm_cosine(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 1.0])], "a array<float>, b array<float>")
    assert df.select(cosine_similarity(F.col("a"), F.col("b"))).collect()[0][0] == 0.0


def test_dsum_davg_exact(spark):
    df = spark.createDataFrame([(0.1,), (0.2,), (0.3,)], "x double")
    row = df.agg(dsum("x").alias("s"), davg("x").alias("a")).collect()[0]
    assert row["s"] == 0.6  # decimal path: no 0.6000000000000001
    assert math.isclose(row["a"], 0.2)


def test_md5_bucket_range_and_determinism(spark):
    df = spark.createDataFrame([(str(i),) for i in range(50)], "s string")
    rows = df.select(md5_bucket(F.col("s"), 8).alias("b")).collect()
    assert all(0 <= r["b"] < 8 for r in rows)
    again = df.select(md5_bucket(F.col("s"), 8).alias("b")).collect()
    assert rows == again


def test_band_keys_shape(spark):
    df = spark.createDataFrame([(["h1", "h2", "h3", "h4"],)], "sig array<string>")
    keys = df.select(band_keys(F.col("sig"), 2, 2).alias("k")).collect()[0]["k"]
    assert len(keys) == 2 and keys[0] != keys[1]


def test_simhash_and_hamming(spark):
    df = spark.createDataFrame(
        [("a", ["x", "y", "z"]), ("b", ["x", "y", "z"]), ("c", ["p", "q", "r"])],
        "id string, t array<string>",
    )
    sigs = df.select("id", simhash(F.col("t")).alias("h"))
    a = sigs.alias("a").crossJoin(sigs.alias("b")).select(
        F.col("a.id").alias("ia"),
        F.col("b.id").alias("ib"),
        hamming_distance(F.col("a.h"), F.col("b.h")).alias("d"),
    )
    d = {(r["ia"], r["ib"]): r["d"] for r in a.collect()}
    assert d[("a", "b")] == 0
    assert d[("a", "c")] > 0


# --- Arrow-kernel / Column-formulation equivalence -------------------------
# The hot dedup paths run Arrow pandas_udf kernels (functions/text.py,
# functions/hashing.py); these pin them value-identical to the pure-Column
# expressions that the DuckDB oracles mirror.


def test_distinct_shingles_arrow_equals_column(spark):
    from go_web_mapreduce_spark.functions.text import distinct_shingles_arrow

    rows = [("the quick brown fox jumps over the quick brown fox",),
            ("a b",), ("one",), ("",), ("x y z w x y z w",)]
    df = spark.createDataFrame(rows, "text string").select(
        tokens("text").alias("tk")
    )
    col = [r[0] for r in df.select(F.array_distinct(word_shingles(F.col("tk"), 3))).collect()]
    arw = [r[0] for r in df.select(distinct_shingles_arrow(F.col("tk"), 3)).collect()]
    assert [sorted(c) for c in col] == [sorted(a) for a in arw]


def test_minhash_sig_arrow_equals_column(spark):
    from go_web_mapreduce_spark.functions.hashing import (
        minhash_from_hashes,
        minhash_sig_arrow,
        shingle_hashes,
    )

    rows = [(["a b c", "b c d", "c d e"],), (["zz"],), (["a b c"],)]
    df = spark.createDataFrame(rows, "sh array<string>")
    col = [r[0] for r in df.select(minhash_from_hashes(shingle_hashes(F.col("sh")), 12)).collect()]
    arw = [r[0] for r in df.select(minhash_sig_arrow(F.col("sh"), 12)).collect()]
    assert col == arw


def test_simhash_from_tokens_arrow_equals_column(spark):
    from go_web_mapreduce_spark.functions.hashing import simhash_from_tokens_arrow

    rows = [("the quick brown fox",), ("one token stream of words",), ("solo",)]
    df = spark.createDataFrame(rows, "text string").select(tokens("text").alias("tk"))
    col = [r[0] for r in df.select(simhash(F.col("tk"))).collect()]
    arw = [r[0] for r in df.select(simhash_from_tokens_arrow(F.col("tk"))).collect()]
    assert col == arw
