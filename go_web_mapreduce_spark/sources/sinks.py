"""Scratch space and pins for the engine's internal outputs.

The reference's only sink is the master-resident results list consumed once
(reference: algorithm/algorithm.go:337-343, server/views.go:66-71); the
engine's results are DataFrames the caller writes or collects. What the
engine itself keeps besides them — write-then-read-back round trips,
streaming path sinks and checkpoints (``scratch_dir``), catalog tables
(``scratch_table``) and in-memory pins (``pin``) — belongs to the
``released()`` block it was made in, which frees all of it on exit, as the
reference frees a finished master with everything it held
(server/views.go:134-157). Outside any block, scratch dirs and tables go
at interpreter exit and pins when the ContextCleaner collects them.
"""

from __future__ import annotations

import atexit
import contextlib
import contextvars
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

_SCRATCH_ROOT = None


class _Scope:
    """What one ``released()`` block made: pinned frames, scratch dirs
    and (session, name) catalog tables."""

    def __init__(self) -> None:
        self.pins: list[DataFrame] = []
        self.dirs: list[str] = []
        self.tables: list[tuple[SparkSession, str]] = []

    def free(self) -> None:
        for df in self.pins:
            # the LogicalRDD's own RDD: exactly the blocks this pin made
            df._jdf.logicalPlan().rdd().unpersist(True)
        for spark, name in self.tables:
            with contextlib.suppress(Exception):  # a stopped session at exit
                spark.sql(f"DROP TABLE IF EXISTS {name}")
        for d in self.dirs:
            shutil.rmtree(d, ignore_errors=True)


_SCOPE: contextvars.ContextVar[_Scope | None] = contextvars.ContextVar(
    "spark_graft_scope", default=None
)
# the owner of tables made outside any block; the root dir goes with it
_AT_EXIT = _Scope()
atexit.register(_AT_EXIT.free)


@contextlib.contextmanager
def released():
    """Free, on exit, every pin, scratch dir and scratch table made inside
    the block (in this thread or task: the scope is a contextvar, so two
    concurrent blocks never free each other's). Run the query's last
    action inside it: a pinned frame read after the block raises."""
    scope = _Scope()
    token = _SCOPE.set(scope)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        scope.free()


def pin(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=False)``, owned by the enclosing
    ``released()`` block. Not lazy under AQE: the pinned plan's shuffle
    stages run here, at build time. Use it to cut lineage in an iterative
    loop, or where ab_bench shows the pin pays; a pinned subtree that ends
    in an exchange is built once without it (AQE's ``ReusedExchange``)."""
    pinned = df.localCheckpoint(eager=False)
    scope = _SCOPE.get()
    if scope is not None:
        scope.pins.append(pinned)
    return pinned


def scratch_dir(prefix: str) -> str:
    """Per-invocation scratch directory for the write-then-read-back
    queries (CSV/JSONL/ORC round trips, partitioned/bucketed layouts,
    parquet pins, streaming sinks and checkpoints).

    A uuid4 nonce keys every invocation, so two concurrent runs of the
    same query in one process (the FAIR-pool bench shape) can never race
    on a path or a catalog table; all nonce dirs live under ONE
    per-process root. The reads these queries return are lazy — files
    must outlive the building function — so the dir goes when the
    enclosing ``released()`` block exits, or with the root at interpreter
    exit outside any block.
    """
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="spark_graft_scratch_")
        _AT_EXIT.dirs.append(_SCRATCH_ROOT)
    path = os.path.join(_SCRATCH_ROOT, f"{prefix}_{uuid.uuid4().hex[:12]}")
    scope = _SCOPE.get()
    if scope is not None:
        scope.dirs.append(path)
    return path


def scratch_table(spark: SparkSession, prefix: str) -> str:
    """A nonce-keyed catalog table name, dropped from ``spark``'s catalog
    when the enclosing ``released()`` block exits (or at interpreter exit
    outside any block)."""
    name = f"{prefix}_{uuid.uuid4().hex[:12]}"
    (_SCOPE.get() or _AT_EXIT).tables.append((spark, name))
    return name
