"""Sources: parquet tables and in-memory literals.

The reference has exactly two sources — a JSON POST body
(reference: server/api.go:8-13, server/views.go:83-160) and a built-in
in-memory word list (reference: server/views.go:43-48). Both arrive as
row-lists of ``{key, value}`` strings. Here the native substrate is columnar
parquet read through the DataFrameReader (scan pushdown + column pruning for
free). The reference's two ingest shapes both reach the engine as a
literal row list (``http_api`` parses the POST body) and become a local
relation through ``kv_from_rows``.

Scale note: ``load_table`` never collects; a scan of a 100 TB table stays a
lazy ``FileScan parquet`` node with ``PushedFilters``/``ReadSchema`` supplied
by whatever the caller composes on top. Its schema is inferred once per
process (``parquet_schema``): Spark's inference is a footer-merge job of its
own, and every later read of the same unchanged file reuses the result.
"""

from __future__ import annotations

import os
import stat

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# the full driver-generated catalog (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor.
# At 100 TB the facts (lineitem/orders/events/documents) grow; these stay tiny.
BROADCAST_DIMS = frozenset({"region", "nation"})

KV_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
    ]
)


# Session confs that change what parquet schema inference returns for the
# same file: a cached schema is valid only under the values it was read with.
INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# path -> ((file stamp, inference confs), schema); one entry per path
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _stamp(path: str) -> tuple:
    """Identity of ``path``'s contents: inode, mtime, ctime and size, and
    for a directory the same over every entry below it, in name order."""
    st = os.stat(path)
    own = (st.st_ino, st.st_mtime_ns, st.st_ctime_ns, st.st_size)
    if not stat.S_ISDIR(st.st_mode):
        return own
    names = sorted(os.listdir(path))
    return own + tuple((n, _stamp(os.path.join(path, n))) for n in names)


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    process. The entry is replaced when the file (or any file under the
    directory) changes, or when one of ``INFERENCE_CONFS`` does. A path
    that is not on the local file system is inferred on every call."""
    try:
        key = (_stamp(path), tuple(spark.conf.get(k, None) for k in INFERENCE_CONFS))
    except OSError:
        return spark.read.parquet(path).schema
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[path] = (key, schema)
    return schema


def normalize_events(df: DataFrame) -> DataFrame:
    """Expose the events timestamp twice regardless of file encoding:
    ``ts`` as a microsecond timestamp for calendar ops, ``ts_ns`` as an exact
    int64 (epoch nanoseconds) for loss-free ordering.

    Handles both generations of the driver's testdata: TIMESTAMP(NANOS)
    files arrive as bigint via ``nanosAsLong`` (set in the session factory);
    TIMESTAMP(MICROS) files arrive as a native timestamp and ``ts_ns`` is
    derived (``unix_micros * 1000``). ``ts_ns div 1000`` equals DuckDB's
    ``epoch_us(ts)`` under either encoding, which is what every oracle uses.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts_ns", F.col("ts")).withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif dt is not None and dt.startswith("timestamp"):
        if dt == "timestamp_ntz":
            # files may carry TIMESTAMP_NTZ; the session timezone is pinned to
            # UTC (session.py) so this cast is exact, not a wall-clock guess.
            # LTZ is also required for streaming watermarks on ``ts``.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        if "ts_ns" not in df.columns:
            df = df.withColumn("ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one catalog table under ``sf_dir``.

    ``events`` gains a derived ``ts_ns`` column — see ``normalize_events``.
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_events(df)
    if name in BROADCAST_DIMS:
        # a broadcast hint on a scan is inert outside joins and guarantees
        # these fixed-size dimensions never put a shuffle on the fact side,
        # independent of autoBroadcastJoinThreshold at any scale factor
        df = F.broadcast(df)
    return df


def kv_from_rows(spark: SparkSession, rows: list[tuple[str | None, str | None]]) -> DataFrame:
    """The reference's in-memory literal source (reference: server/views.go:43-48):
    a list of ``(key, value)`` string pairs. Rejects rows where both sides are
    empty, mirroring protocol validation (reference: protocol/input.go:18-22).
    """
    for k, v in rows:
        if not k and not v:
            raise ValueError("input row with both key and value empty")
    return local_frame(spark, rows, KV_SCHEMA)


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType | str) -> DataFrame:
    """A driver-side literal (``rows`` of tuples in ``schema``'s field
    order; ``schema`` a StructType or DDL string) as a DataFrame.

    The rows travel to the JVM as one Arrow table typed from ``schema``,
    which Spark plans as a ``LocalRelation``: the literal is part of the
    plan, and no Python worker runs to produce it. ``createDataFrame`` on
    a Python list instead parallelizes the pickled rows through a
    ``PythonRDD`` identity stage (one Python worker per task) before the
    query's first operator. Above
    ``spark.sql.execution.arrow.localRelationThreshold`` Spark parallelizes
    the Arrow batches JVM-side, still without a Python worker.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def fan_out(df: DataFrame) -> DataFrame:
    """Widen a DataFrame to at least the cluster's default parallelism
    before a CPU-bound Python kernel (codec encode/decode, Arrow shingle
    or signature computation).

    Why: Spark sizes scan partitions by BYTES (``maxPartitionBytes``), so
    a small-but-expensive table — 5k documents that each cost milliseconds
    of Python — arrives as ONE partition and serializes the whole kernel
    on one core (measured: the media family ran 1-of-32 cores at sf0.1).
    At 100 TB the scan is already thousands of partitions and this is a
    NO-OP — the check compares actual partitions against
    ``defaultParallelism`` and only then pays a round-robin shuffle, whose
    cost is proportional to the (small, or it wouldn't trigger) input.

    Results never depend on the layout: every caller aggregates
    order-independent sums/counts downstream.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
