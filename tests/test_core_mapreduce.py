"""submit_algorithm contract tests — the reference's algorithm-constructor
panics as ValueErrors (SURVEY.md §5 pattern 2; reference:
algorithm/algorithm.go:68-83) plus end-to-end equivalence of the
programmable path with the native plan."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from go_web_mapreduce_spark.core import submit_algorithm, wordcount_algorithm
from go_web_mapreduce_spark.sources.tables import kv_from_rows

BACON = (
    "bacon ipsum dolor amet short ribs pork belly bacon turkey chuck "
    "short loin bacon ham hock bacon"
).split()


@pytest.fixture(scope="module")
def words(spark):
    return kv_from_rows(spark, [("", w) for w in BACON])


def test_wordcount_algorithm_matches_native(spark, words):
    got = {
        r["key"]: r["value"] for r in wordcount_algorithm(words, 5, 2).collect()
    }
    expected = {
        r["value"]: str(r["n"])
        for r in words.groupBy("value").agg(F.count("*").alias("n")).collect()
    }
    assert got == expected
    assert got["bacon"] == "4"


def test_python_dialect_runs_one_shuffle(spark):
    """The Python dialect's final plan carries the reference's one shuffle
    (algorithm/algorithm.go:170-192): a single hash exchange keyed on
    (pi, key), no second exchange keyed on pi alone, and no RDD round trip
    (Scan ExistingRDD / SerializeFromObject) anywhere in the plan. The input
    is a range scan so that any ExistingRDD scan would be the kernel's own."""
    df = spark.range(60).select(
        F.lit("").alias("key"),
        F.concat(F.lit("w"), (F.col("id") % 7).cast("string")).alias("value"),
    )
    out = wordcount_algorithm(df, 8, 3)
    qe = out._jdf.queryExecution()
    qe.toRdd().count()
    plan = qe.executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    keyed = [
        [c.split("#")[0] for c in args.split(", ")[:-1]]
        for args in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", final)
    ]
    assert keyed == [["pi", "key"]], keyed
    assert ["pi"] not in keyed
    assert "Scan ExistingRDD" not in plan and "SerializeFromObject" not in plan
    got = {r["key"]: r["value"] for r in out.collect()}
    assert got == {f"w{i}": str(len(range(i, 60, 7))) for i in range(7)}


def test_map_partition_index_wraps(spark, words):
    out = submit_algorithm(
        lambda k, v: (7, v, "1"),  # pi beyond num_partitions wraps mod n
        lambda k, vs: str(len(vs)),
        words,
        input_len=5,
        num_partitions=2,
    )
    assert out.count() == len(set(BACON))


@pytest.mark.parametrize(
    "kwargs",
    [
        dict(input_len=0, num_partitions=2),
        dict(input_len=-1, num_partitions=2),
        dict(input_len=5, num_partitions=0),
    ],
)
def test_invalid_args_raise(spark, words, kwargs):
    with pytest.raises(ValueError):
        submit_algorithm(
            lambda k, v: (0, v, "1"), lambda k, vs: "0", words, **kwargs
        )


def test_missing_fns_raise(spark, words):
    with pytest.raises(ValueError):
        submit_algorithm(None, lambda k, vs: "0", words, 5, 2)


def test_empty_input_raises(spark):
    empty = kv_from_rows(spark, [("k", "v")]).filter("key = 'nope'")
    with pytest.raises(ValueError, match="empty input"):
        submit_algorithm(
            lambda k, v: (0, v, "1"), lambda k, vs: "0", empty, 5, 2
        )


def test_bad_input_schema_raises(spark):
    df = spark.range(3)
    with pytest.raises(ValueError, match="key"):
        submit_algorithm(lambda k, v: (0, v, "1"), lambda k, vs: "0", df, 5, 2)


def test_map_must_be_one_to_one(spark, words):
    out = submit_algorithm(
        lambda k, v: None,  # dropping rows is illegal (reference main.js:12-19)
        lambda k, vs: "0",
        words,
        5,
        2,
    )
    with pytest.raises(Exception, match="must return"):
        out.collect()


def test_native_expression_slots_match_callable_path(spark, words):
    """SURVEY §4.3(b): expression-string slots must equal the Python-callable
    path — and plan with zero Python stages."""
    from go_web_mapreduce_spark.core import submit_algorithm_native

    native = submit_algorithm_native(
        words,
        pi_expr="length(value) % 2",
        key_expr="value",
        value_expr="'1'",
        reduce_expr="cast(size(values) as string)",
        num_partitions=2,
    )
    got = sorted(map(tuple, native.collect()))
    want = sorted(map(tuple, wordcount_algorithm(words, 5, 2).collect()))
    assert got == want
    plan = native._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_native_expression_slots_validation(spark, words):
    from go_web_mapreduce_spark.core import submit_algorithm_native

    with pytest.raises(ValueError):
        submit_algorithm_native(words, "", "value", "'1'", "size(values)", 2)
    with pytest.raises(ValueError):
        submit_algorithm_native(words, "0", "value", "'1'", "size(values)", 0)
