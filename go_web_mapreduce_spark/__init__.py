"""go_web_mapreduce_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference engine
``oryband/go-web-mapreduce`` (a Go master + browser-worker MapReduce system)
on top of Apache Spark DataFrames.

The reference is a generic two-phase MapReduce kernel
(reference: algorithm/algorithm.go, master/master.go, server/static/js/main.js);
everything it does — split, map, user-addressed partitioning, shuffle
(group-by-key), reduce, result concat — plus every workload its model
*expresses* (word count, sort, joins, aggregation, inverted index, dedup,
similarity search, text analysis) is implemented here Spark-first:
declarative DataFrame plans optimized by Catalyst, with Pandas-UDF slots
only for the genuinely open-coded surfaces (the user map/reduce callables).

Layout:
  session.py    SparkSession factory (AQE on, UTC, Arrow on)
  worker_daemon.py  the session's Python worker daemon: pyspark.daemon
                with each task's zip-archive refresh skipped when the
                archive did not change
  core.py       submit_algorithm() — the reference's programmable
                MapReduce surface, DataFrame-native
  sources/      table loaders and ingest (parquet/json/in-memory)
  operators/    relational + extension operators (dedup, similarity,
                text analysis, multimodal)
  functions/    reusable column-expression helpers (vector math, hashing)
  plans/        plan-inspection utilities (pushdown/broadcast assertions)
  streaming/    Structured Streaming equivalents for the events table
  queries.py    the named query registry backing __spark_entry__
"""

__version__ = "0.1.0"

from go_web_mapreduce_spark.session import get_spark  # noqa: F401
