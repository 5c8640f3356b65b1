"""The reference's programmable MapReduce surface, DataFrame-native.

One "algorithm" in the reference = ``(mapCode, reduceCode, input, inputLen,
numPartitions)`` (reference: algorithm/algorithm.go:62-65), run as split →
map → shuffle → reduce → concat. This module re-creates that contract on
Spark, in two dialects that share one shuffle:

- **split** (reference: algorithm/algorithm.go:91-103): the input is dealt
  round-robin into ``ceil(N / input_len)`` map tasks.
- **map** (reference: server/static/js/main.js:7-23): strictly 1→1; it
  returns ``(pi, key, value)`` — the partition index is chosen *by user
  code*, not by hash-of-key (reference: main.js:12-14, example
  ``o.value.length % 2`` at server/views.go:54), and wraps into
  ``[0, num_partitions)``.
- **shuffle** (reference: algorithm/algorithm.go:170-192): group values by
  key within each partition → ``{pi, key, [values]}`` rows, one native
  ``groupBy(pi, key).agg(collect_list)`` exchange (:func:`_shuffle`).
- **reduce** (reference: main.js:24-30): one output row per group.
- **results** (reference: algorithm/algorithm.go:337-343): the union of all
  reduce outputs, order-nondeterministic.

``pi`` is a grouping column, not a physical placement: a map callable sees
one row and a reduce callable one group, so neither can observe which chunk
a row was dealt to or which physical partition a group landed in. Results
therefore depend only on the ``(pi, key)`` groups, which both dialects form
identically.

Everything the reference hand-builds around this (job scheduling, TTL
re-queue, phase barrier polling, worker transport — SURVEY.md §2.1
O11-O14/O17) is *deliberately absent*: Spark's DAG scheduler, shuffle
service, and task retry are those features.

Validations mirror the reference's constructor panics
(algorithm/algorithm.go:68-83; protocol/input.go:18-22) as ``ValueError``.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MapFn = Callable[[str, str], tuple[int, str, str]]
ReduceFn = Callable[[str, list[str]], str]

MAPPED_SCHEMA = "pi bigint, key string, value string"
REDUCED_SCHEMA = "key string, value string"


def _validate(input_df: DataFrame, num_partitions: int) -> None:
    if num_partitions <= 0:
        raise ValueError("num_partitions must be positive")
    if not {"key", "value"} <= set(input_df.columns):
        raise ValueError("input must have 'key' and 'value' string columns")


def _shuffle(mapped: DataFrame) -> DataFrame:
    """``(pi, key, value)`` rows → ``{pi, key, [values]}`` groups (reference
    O6): the one exchange of an algorithm, hash-partitioned on (pi, key)."""
    return mapped.groupBy("pi", "key").agg(F.collect_list("value").alias("values"))


def submit_algorithm(
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    input_df: DataFrame,
    input_len: int,
    num_partitions: int,
    total_rows: int | None = None,
) -> DataFrame:
    """Run a reference-style MapReduce algorithm with Python callables in
    the map and reduce slots; returns the results DataFrame with schema
    ``key string, value string``.

    ``input_len`` is the reference's map-job chunk size: the input is dealt
    round-robin into ``ceil(N / input_len)`` map tasks (reference:
    algorithm/algorithm.go:91-103). ``num_partitions`` is the modulus of
    the ``pi`` the map returns (``int(pi) % num_partitions``). Pass
    ``total_rows`` when ``N`` is already known; otherwise the input is
    counted once.

    The callables run in Arrow-batched ``mapInPandas`` stages on either
    side of :func:`_shuffle`.
    """
    if map_fn is None or reduce_fn is None:
        raise ValueError("map_fn and reduce_fn are required")  # empty code panics
    if input_len <= 0:
        raise ValueError("input_len must be positive")
    _validate(input_df, num_partitions)

    n = total_rows if total_rows is not None else input_df.count()
    if n == 0:
        raise ValueError("empty input")  # reference: empty map job input is illegal
    num_map_jobs = max(1, math.ceil(n / input_len))

    def run_map(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {"pi": [], "key": [], "value": []}
            for k, v in zip(pdf["key"], pdf["value"]):
                res = map_fn(k, v)
                if res is None:
                    # reference map is strictly 1→1 (main.js:12-19): a UDF
                    # cannot drop rows
                    raise ValueError("map_fn must return (pi, key, value) per row")
                pi, k2, v2 = res
                out["pi"].append(int(pi) % num_partitions)
                out["key"].append(None if k2 is None else str(k2))
                out["value"].append(None if v2 is None else str(v2))
            yield pd.DataFrame(out)

    def run_reduce(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            keys, vals = [], []
            for k, vs in zip(pdf["key"], pdf["values"]):
                keys.append(k)
                vals.append(str(reduce_fn(k, list(vs))))
            yield pd.DataFrame({"key": keys, "value": vals})

    mapped = (
        input_df.select("key", "value")
        .repartition(num_map_jobs)
        .mapInPandas(run_map, MAPPED_SCHEMA)
    )
    return _shuffle(mapped).select("key", "values").mapInPandas(
        run_reduce, REDUCED_SCHEMA
    )


def wordcount_algorithm(input_df: DataFrame, input_len: int = 10, num_partitions: int = 2) -> DataFrame:
    """The reference's built-in demo algorithm (server/views.go:51-61):
    map: word → (len(word) % 2, word, "1"); reduce: key → str(len(values))."""
    return submit_algorithm(
        map_fn=lambda k, v: (len(v) % 2, v, "1"),
        reduce_fn=lambda k, vs: str(len(vs)),
        input_df=input_df,
        input_len=input_len,
        num_partitions=num_partitions,
    )


def submit_algorithm_native(
    input_df: DataFrame,
    pi_expr: str,
    key_expr: str,
    value_expr: str,
    reduce_expr: str,
    num_partitions: int,
) -> DataFrame:
    """The reference's algorithm contract with SQL *expression strings* in
    the map/reduce slots instead of Python callables (SURVEY.md §4.3's
    Column-DSL dispatcher).

    ``pi_expr``/``key_expr``/``value_expr`` are row expressions over the
    input's ``key``/``value`` columns (the map slot, reference:
    main.js:11-20); ``reduce_expr`` is an aggregate expression over the
    grouped ``values`` array (the reduce slot, main.js:24-30). Both slots
    compile into the same plan as :func:`submit_algorithm`'s shuffle — no
    Python worker, no Arrow transfer, no split (a projection needs none) —
    so an algorithm expressible as expressions runs at built-in-operator
    speed; drop to :func:`submit_algorithm` only for genuinely open-coded
    logic. A literal-list input keeps that true: ``kv_from_rows`` makes it
    a local relation, which needs no Python worker to produce its rows.

    Example — the reference's demo word count (server/views.go:53-59)::

        submit_algorithm_native(
            words,
            pi_expr="length(value) % 2",
            key_expr="value",
            value_expr="'1'",
            reduce_expr="cast(size(values) as string)",
            num_partitions=2,
        )
    """
    _validate(input_df, num_partitions)
    if not all(e and e.strip() for e in (pi_expr, key_expr, value_expr, reduce_expr)):
        raise ValueError("empty expression")  # empty code panics in the reference

    mapped = input_df.select(
        # pmod, not %: Spark's % keeps the dividend's sign, so a pi_expr like
        # ``hash(value) % 4`` would address negative buckets here while the
        # Python dialect (``int(pi) % num_partitions`` above) wraps to
        # [0, n). The reference treats pi as a bucket index where a negative
        # is out of range (protocol/message.go:15).
        F.pmod(F.expr(pi_expr).cast("bigint"), F.lit(num_partitions)).alias("pi"),
        F.expr(key_expr).cast("string").alias("key"),
        F.expr(value_expr).cast("string").alias("value"),
    )
    return _shuffle(mapped).select(
        "key", F.expr(reduce_expr).cast("string").alias("value")
    )
