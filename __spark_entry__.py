"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``go_web_mapreduce_spark`` package; this module
is a thin projection of its query registry (go_web_mapreduce_spark/registry.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from go_web_mapreduce_spark import queries as _q  # noqa: E402


def _prepare(spark: SparkSession) -> None:
    """Confs the engine needs that the driver's session may not set.
    All are runtime-settable SQL confs — safe on a vanilla session.

    The Python worker daemon is not among them: Spark reads
    ``spark.python.daemon.module`` once, when the SparkContext starts, so a
    session not built by ``get_spark`` keeps the stock ``pyspark.daemon``
    and each Python task pays its zip-archive refresh (README, "Sessions
    not built by get_spark"). Results do not depend on the daemon."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # right-size shuffles for the test scale factors (a vanilla session's
    # default 200 partitions means 200 tasks per tiny shuffle); AQE coalesce
    # keeps the setting harmless if the driver already tuned it
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (the reference's word count, server/views.go:51-61)
    on /root/testdata/sf0.001; driver checks rows>0."""
    _prepare(spark)
    return _q.get("q_wordcount").fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _prepare(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in _q.all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle per query; queries without an entry get the driver's
    rows-only check (genuinely non-SQL-expressible ops)."""
    return _q.all_oracles()
