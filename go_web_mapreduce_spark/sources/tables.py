"""Sources: parquet tables, JSON ingest, in-memory literals.

The reference has exactly two sources — a JSON POST body
(reference: server/api.go:8-13, server/views.go:83-160) and a built-in
in-memory word list (reference: server/views.go:43-48). Both arrive as
row-lists of ``{key, value}`` strings. Here the native substrate is columnar
parquet read through the DataFrameReader (scan pushdown + column pruning for
free); the reference's two ingest shapes are kept as thin constructors.

Scale note: ``load_table`` never infers schemas and never collects; a scan of
a 100 TB table stays a lazy ``FileScan parquet`` node with
``PushedFilters``/``ReadSchema`` supplied by whatever the caller composes on
top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events(df)
    if name in BROADCAST_DIMS:
        # a broadcast hint on a scan is inert outside joins and guarantees
        # these fixed-size dimensions never put a shuffle on the fact side,
        # independent of autoBroadcastJoinThreshold at any scale factor
        df = F.broadcast(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once: ``load_tables(spark, d, 'orders', 'customer')``."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def kv_from_rows(spark: SparkSession, rows: list[tuple[str | None, str | None]]) -> DataFrame:
    """The reference's in-memory literal source (reference: server/views.go:43-48):
    a list of ``(key, value)`` string pairs. Rejects rows where both sides are
    empty, mirroring protocol validation (reference: protocol/input.go:18-22).
    """
    for k, v in rows:
        if not k and not v:
            raise ValueError("input row with both key and value empty")
    return spark.createDataFrame(rows, KV_SCHEMA)


def read_json_ingest(spark: SparkSession, path: str) -> DataFrame:
    """The reference's HTTP ingest shape (reference: server/api.go:8-13): a JSON
    array of ``{"key": ..., "value": ...}`` objects, read with an explicit
    schema (no inference — inference is a full extra scan at scale).
    """
    return spark.read.schema(KV_SCHEMA).json(path)


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
