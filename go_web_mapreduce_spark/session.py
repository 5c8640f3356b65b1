"""SparkSession factory.

The reference runs one Go process per master with GOMAXPROCS=NumCPU and a
goroutine per connection (reference: server/server.go:29-31); concurrency and
scheduling there are hand-built. Here a single SparkSession with AQE replaces
all of it. Every knob below is chosen for the 100 TB design point and scales
down to a local[<host cores>] session:

- AQE on (runtime coalescing, skew-join splitting, dynamic join selection):
  at cluster scale this is what turns a 100k-partition shuffle plan into a
  right-sized one without manual tuning.
- shuffle.partitions defaults to the local core count for tests; on a real
  cluster this is overridden (or left to AQE's coalescing with a high initial
  value).
- Arrow enabled: every Pandas-UDF slot (the compat map/reduce API, multimodal
  decode) moves data in columnar Arrow batches, not pickled rows.
- UTC session timezone: deterministic timestamp semantics across engines
  (the DuckDB oracle reads the same parquet as naive-UTC).
- Python workers fork from the engine's own daemon (``worker_daemon.py``),
  which stops each Python task from re-reading ``pyspark.zip`` and the
  spark-core jar (about 0.2 s of CPU per task on Python 3.11), and find this
  package through ``spark.executorEnv.PYTHONPATH`` from any working
  directory.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# the directory holding this package, put on the Python workers' path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@contextmanager
def scoped_conf(spark: SparkSession, **pairs: str):
    """Temporarily set session confs (keys with dots passed via a dict is
    clumsy in Python — callers use the ``**{"spark....": "v"}`` form).
    Restores previous values (or unsets) on exit."""
    prev: dict[str, str | None] = {}
    for k, v in pairs.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:  # unset key
            prev[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily set spark.sql.shuffle.partitions (``scoped_conf``).

    Used where a plan's natural parallelism is far below the session default:
    iterative fixpoint loops over edge lists orders of magnitude smaller than
    the corpus (operators/dedup.py::connected_components). Batch one-shot
    queries instead rely on AQE coalescing, which only trims, not re-plans,
    a tiny iterative step."""
    return scoped_conf(spark, **{"spark.sql.shuffle.partitions": str(n)})


def get_spark(
    app_name: str = "go_web_mapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, and that variable to
    the cores this process may run on, so the same entry points serve tests
    and the bench driver; a cluster deployment passes its own ``master``.
    ``shuffle_partitions`` defaults to the local slot count.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32
        if "[" in master:
            # 'local[N]', 'local[*]', or 'local[N,maxFailures]'
            n = master.split("[", 1)[1].rstrip("]").split(",")[0].strip()
            if n != "*":
                try:
                    shuffle_partitions = max(int(n), 1)
                except ValueError:
                    pass

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # concurrent algorithms (service.AlgorithmService) share the session
        # fairly, replacing the reference's master pool (server/views.go:30-36)
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the driver-generated events table stores TIMESTAMP(NANOS) which the
        # parquet reader rejects by default; read it as long (ns since epoch)
        # and let sources.tables derive a timestamp column
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # workers fork from worker_daemon (no per-task zip re-read) and
        # import this package whatever the driver's cwd and PYTHONPATH
        .config("spark.python.daemon.module", "go_web_mapreduce_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
