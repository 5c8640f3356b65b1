"""Scratch space for the engine's internal outputs.

The reference's only sink is the master-resident results list consumed once
(reference: algorithm/algorithm.go:337-343, server/views.go:66-71); the
engine's results are DataFrames the caller writes or collects. What the
engine itself writes — write-then-read-back round trips, disk pins,
streaming path sinks and checkpoints — lives under ``scratch_dir``: a fresh
nonce directory per call, inside ONE per-process root that is removed at
interpreter exit.
"""

from __future__ import annotations

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
