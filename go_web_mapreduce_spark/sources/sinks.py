"""Sinks — the write side of the engine.

The reference's only sink is the master-resident results list consumed once
(reference: algorithm/algorithm.go:337-343, server/views.go:66-71). A real
engine needs durable, scale-safe outputs; these helpers encode the shapes
that behave at 100 TB:

- **partitioned parquet** — the default analytical sink: partition columns
  become directory pruning for every downstream scan;
- **single-key-sorted parquet** — within-file ordering for range-scan
  consumers, without a global sort (sortWithinPartitions);
- **JSON lines** — the reference's wire shape (`{"key": .., "value": ..}`,
  reference: protocol/input.go:11-13) for interop exports.

All are thin over DataFrameWriter on purpose: the writer inherits the plan's
parallelism — one file per partition, no driver funnel. ``coalesce(1)`` is
deliberately NOT offered.

Engine-internal outputs (write-then-read-back round trips, disk pins,
streaming path sinks and checkpoints) all live under ``scratch_dir``: a
fresh nonce directory per call, inside ONE per-process root that is
removed at interpreter exit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_SCRATCH_ROOT = None
SCRATCH_TABLES: list = []


def scratch_dir(prefix: str) -> str:
    """Per-invocation scratch directory for the write-then-read-back
    queries (CSV/JSONL/ORC round trips, partitioned/bucketed layouts,
    parquet pins, streaming sinks and checkpoints).

    A uuid4 nonce keys every invocation, so two concurrent runs of the
    same query in one process (the FAIR-pool bench shape) can never race
    on a path or a catalog table; all nonce dirs live under ONE
    per-process root that an atexit hook removes, so artifacts do not
    accumulate across processes either. The reads these queries return
    are lazy — files must outlive the building function — but every
    action runs before interpreter exit, so exit-time cleanup is safe.
    Catalog tables named in ``SCRATCH_TABLES`` are dropped at exit too.
    """
    global _SCRATCH_ROOT
    import atexit
    import os
    import shutil
    import tempfile
    import uuid

    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="spark_graft_scratch_")

        def _cleanup() -> None:
            shutil.rmtree(_SCRATCH_ROOT, ignore_errors=True)
            # best-effort catalog hygiene; the in-memory catalog dies with
            # the process anyway, so a stopped session is fine to skip
            try:
                from pyspark.sql import SparkSession

                active = SparkSession.getActiveSession()
                if active is not None:
                    for t in SCRATCH_TABLES:
                        active.sql(f"DROP TABLE IF EXISTS {t}")
            except Exception:
                pass

        atexit.register(_cleanup)
    return os.path.join(_SCRATCH_ROOT, f"{prefix}_{uuid.uuid4().hex[:12]}")


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "error",
) -> None:
    """Partitioned parquet sink. ``partition_by`` columns turn into
    hive-style directories — partition pruning for every later reader."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_sorted_parquet(
    df: DataFrame, path: str, sort_cols: list[str], mode: str = "error"
) -> None:
    """Parquet with rows sorted *within each output file* — ordered row
    groups + min/max footer stats for range-scanning consumers. Uses
    sortWithinPartitions: no global sort, no single-task funnel."""
    df.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


def write_json_lines(df: DataFrame, path: str, mode: str = "error") -> None:
    """JSON-lines export — the reference's result wire shape
    (reference: protocol/input.go:11-13)."""
    df.write.mode(mode).json(path)


def write_csv(
    df: DataFrame, path: str, mode: str = "error", header: bool = True
) -> None:
    """CSV export for spreadsheet/legacy interop. Same parallel-writer
    shape as the other sinks; compression left to the caller's conf. CSV is
    an interchange sink only — no types, no stats, no pruning — never an
    analytical input at scale."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def read_csv(spark, path: str, schema: str):
    """Schema-explicit CSV source (inference requires an extra full pass and
    guesses types — never in a pipeline). Returns a DataFrame identical in
    shape to the parquet catalog's tables so CSV drops into any operator."""
    return spark.read.schema(schema).option("header", "true").csv(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "error",
) -> None:
    """ORC sink — the other columnar format Spark ships natively. Same
    pruning/pushdown story as parquet (ORC predicate pushdown + column
    projection reach the scan); use when the downstream stack is
    Hive/Trino-flavored."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark, path: str):
    """ORC source; schema comes from the file footers like parquet."""
    return spark.read.orc(path)


def write_zordered(
    df: DataFrame,
    path: str,
    x_expr: str,
    y_expr: str,
    mode: str = "error",
    partitions: int | None = None,
) -> None:
    """Z-order-clustered parquet: rows range-partitioned and sorted by the
    16-bit Morton interleave of two 8-bit dimension expressions (integers
    in [0, 256)).

    Each dimension is CLAMPED to [0, 255] before interleaving (the same
    ``least``/``greatest`` discipline as ``q_zorder_cluster``'s bucket
    expressions): an out-of-range or negative input degrades to the curve
    boundary — weaker clustering for those rows, never a corrupted Morton
    key from the %-based bit arithmetic.

    Range partitioning by zval puts nearby curve positions in the same
    files; the within-file sort orders row groups along the curve — so
    parquet min/max stats prune on BOTH dimensions for any later reader,
    without the reader knowing about the layout. This is the write-side
    companion of ``q_zorder_cluster`` (the pre-layout skew diagnostic).
    """
    from pyspark.sql import functions as F

    from go_web_mapreduce_spark.operators.pipeline_ops import _morton16

    cx = f"least(greatest(CAST(({x_expr}) AS BIGINT), 0), 255)"
    cy = f"least(greatest(CAST(({y_expr}) AS BIGINT), 0), 255)"
    z = df.withColumn("__z", F.expr(_morton16(cx, cy)))
    if partitions:
        z = z.repartitionByRange(partitions, "__z")
    else:
        z = z.repartitionByRange("__z")
    z.sortWithinPartitions("__z").drop("__z").write.mode(mode).parquet(path)
