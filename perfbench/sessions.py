"""Session plumbing shared by the runner and the server process."""

from __future__ import annotations

import os


def run_conf(run_dir: str) -> dict[str, str]:
    """Spark confs that keep a run's files inside its own directory."""
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.checkpoint.dir": os.path.join(run_dir, "checkpoint"),
        "spark.ui.showConsoleProgress": "false",
    }


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark confs for an uncompressed single-file event log in ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def stop(spark) -> None:
    """Stops the session and the py4j gateway JVM, and waits until the JVM
    and every process under it (the Python workers) have exited."""
    from pyspark import SparkContext

    import tracing

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    pids = tracing.tree_pids(proc.pid) if proc is not None else []
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    tracing.wait_gone(pids)
    SparkContext._gateway = SparkContext._jvm = None
