"""Algorithm submission service — the reference's server surface, Spark-side.

The reference's master is an HTTP server: ``POST /algorithm`` accepts
``{map_input_length, map_code, reduce_code, input}`` (reference:
server/api.go:8-13, server/views.go:83-160), spins up a dedicated *master*
per algorithm, runs N masters concurrently (one goroutine pool each,
reference: server/views.go:30-36), garbage-collects a master when its
algorithm completes (server/views.go:134-157), and exposes results when the
algorithm's ``CompletedChannel`` closes (master/master.go:216-223).

This module keeps that *submission contract* — validation, the
``max(1, mapJobs/10)`` reduce-partition heuristic (server/views.go:107-108),
concurrent multi-algorithm execution, completion + result retrieval — while
every distributed-systems concern underneath (scheduling, transport, phase
barriers, retry) is Spark's (SURVEY.md §7 non-goals). Concurrent algorithms
share one SparkSession and run in Spark's FAIR scheduler pools, the
idiomatic replacement for the reference's master pool.

Both code dialects go through one submission body,
:meth:`AlgorithmService._submit`. A literal-list input is sized by its
length, so submitting one runs no Spark job on the caller's thread: every
job of an algorithm runs on the algorithm's own thread and job group.
"""

from __future__ import annotations

import itertools
import math
import threading
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from go_web_mapreduce_spark.core import (
    MapFn,
    ReduceFn,
    submit_algorithm,
    submit_algorithm_native,
)
from go_web_mapreduce_spark.sources.tables import kv_from_rows

# the reference's reduce-job heuristic when the API caller doesn't choose
# (reference: server/views.go:107-108)
REDUCE_JOBS_DIVISOR = 10

# default ceiling on rows the collect() result path will materialize on the
# driver. The reference accumulates all results in master memory
# (algorithm/algorithm.go:337-343) — faithful, but a scalability cliff; the
# guard keeps the *default* path driver-safe and points oversized results at
# the distributed sink_path= mode instead of OOM-ing the driver.
DEFAULT_MAX_COLLECT_ROWS = 1_000_000


@dataclass
class AlgorithmHandle:
    """One submitted algorithm ≙ one reference master (master/master.go:42).

    ``algorithm_id`` plays the reference's UUID job of addressing a running
    master; ``wait()`` is the ``CompletedChannel`` + ``Results()`` pair
    (algorithm/algorithm.go:216-218, 350).
    """

    algorithm_id: str
    num_map_jobs: int
    num_partitions: int
    sink_path: str | None = None
    _thread: threading.Thread | None = field(default=None, repr=False)
    _rows: list | None = field(default=None, repr=False)
    _error: BaseException | None = field(default=None, repr=False)
    _cancelled: bool = field(default=False, repr=False)

    def wait(self, timeout: float | None = None):
        """Block until the algorithm completes. Returns the result rows
        (``[Row(key=..., value=...)]``, order nondeterministic — reference:
        algorithm/algorithm.go:337-343), or the ``sink_path`` when the
        algorithm was submitted in sink mode (results written as parquet,
        never collected). Raises if the algorithm failed or was cancelled."""
        assert self._thread is not None
        self._thread.join(timeout)
        if self._thread.is_alive():
            raise TimeoutError(f"algorithm {self.algorithm_id} still running")
        if self._cancelled:
            raise AlgorithmCancelled(self.algorithm_id)
        if self._error is not None:
            raise self._error
        return self._rows if self.sink_path is None else self.sink_path

    @property
    def done(self) -> bool:
        return self._thread is not None and not self._thread.is_alive()

    @property
    def cancelled(self) -> bool:
        return self._cancelled


class AlgorithmCancelled(RuntimeError):
    """Raised by ``wait()`` when the algorithm was cancelled mid-run — the
    reference's closed-master path (master/master.go:198-208)."""

    def __init__(self, algorithm_id: str):
        super().__init__(f"algorithm {algorithm_id} was cancelled")
        self.algorithm_id = algorithm_id


class ResultTooLarge(RuntimeError):
    """Raised by ``wait()`` when an algorithm's result exceeds the service's
    ``max_collect_rows`` cap on the default driver-collect path. Resubmit
    with ``sink_path=`` to stream results to distributed parquet instead."""

    def __init__(self, algorithm_id: str, cap: int):
        super().__init__(
            f"algorithm {algorithm_id} produced more than {cap} result rows; "
            "the driver-collect default is refused above the cap — resubmit "
            "with sink_path= to write results as distributed parquet, or "
            "raise max_collect_rows on the service"
        )
        self.algorithm_id = algorithm_id
        self.cap = cap


class AlgorithmService:
    """Multi-algorithm submission pool over one SparkSession.

    The reference keeps ``masters []*Master`` and removes each on completion
    (server/views.go:30-36, 134-157); here the pool is a dict of handles and
    the per-master goroutines are one Python thread per algorithm driving a
    Spark job in its own FAIR scheduler pool.
    """

    def __init__(
        self, spark: SparkSession, max_collect_rows: int = DEFAULT_MAX_COLLECT_ROWS
    ):
        if max_collect_rows <= 0:
            raise ValueError("max_collect_rows must be positive")
        self._spark = spark
        self._max_collect_rows = max_collect_rows
        self._pool: dict[str, AlgorithmHandle] = {}
        # FAIR pool names not in use. Spark creates a pool for every new
        # name and never drops it, so running algorithms borrow names and
        # give them back: the pool count is bounded by peak concurrency.
        # The prefix keeps two services on one session in separate pools.
        self._idle_fair_pools: list[str] = []
        prefix = uuid.uuid4().hex[:8]
        self._new_fair_pool = (f"algorithms-{prefix}-{i}" for i in itertools.count())
        self._lock = threading.Lock()

    def submit(
        self,
        map_fn: MapFn,
        reduce_fn: ReduceFn,
        input: DataFrame | list,
        map_input_length: int,
        num_partitions: int | None = None,
        sink_path: str | None = None,
    ) -> AlgorithmHandle:
        """``POST /algorithm`` with Python callables in the map/reduce slots
        (:func:`submit_algorithm`). ``input`` is a DataFrame with (key,
        value) string columns or a literal list of (key, value) pairs — the
        reference's two ingest shapes (server/api.go:8-13, views.go:43-48).

        Validation mirrors the reference's request validation + constructor
        panics recovered to HTTP 400 (server/views.go:93-117) as ValueError.
        ``num_partitions`` defaults to the reference's ``max(1, mapJobs/10)``
        (server/views.go:107-108), where ``mapJobs = ceil(N /
        map_input_length)``. ``N`` is a literal list's length, so submitting
        one runs no Spark job; a DataFrame input is counted once.

        ``sink_path`` switches result delivery from driver ``collect()`` (the
        reference's master-side accumulation, algorithm/algorithm.go:337-343)
        to a distributed parquet write at that path — the mode to use when
        results don't fit a driver; ``wait()`` then returns the path. The
        default collect path is guarded by the service's ``max_collect_rows``
        cap: above it, ``wait()`` raises :class:`ResultTooLarge` instead of
        materializing an unbounded result on the driver.
        """
        return self._submit(
            input, map_input_length, num_partitions, sink_path,
            lambda df, n, p: submit_algorithm(
                map_fn, reduce_fn, df, map_input_length, p, total_rows=n
            ),
        )

    def submit_native(
        self,
        input: DataFrame | list,
        map_input_length: int,
        pi_expr: str,
        key_expr: str,
        value_expr: str,
        reduce_expr: str,
        num_partitions: int | None = None,
        sink_path: str | None = None,
    ) -> AlgorithmHandle:
        """``POST /algorithm`` with SQL-expression slots: the same submission
        contract as :meth:`submit` but compiled to pure Catalyst
        (:func:`submit_algorithm_native`). No Python worker runs: a literal
        list input is a local relation (:func:`kv_from_rows`), not an RDD
        of pickled rows."""
        return self._submit(
            input, map_input_length, num_partitions, sink_path,
            lambda df, n, p: submit_algorithm_native(
                df, pi_expr, key_expr, value_expr, reduce_expr, p
            ),
        )

    def _submit(
        self,
        input: DataFrame | list,
        map_input_length: int,
        num_partitions: int | None,
        sink_path: str | None,
        build: Callable[[DataFrame, int, int], DataFrame],
    ) -> AlgorithmHandle:
        """Validate, size, and launch one algorithm; ``build(input_df, N,
        num_partitions)`` returns its results DataFrame."""
        if map_input_length <= 0:
            raise ValueError("map_input_length must be positive")
        total = len(input) if isinstance(input, list) else input.count()
        if total == 0:
            raise ValueError("empty input")  # govalidator: input required
        if isinstance(input, list):
            input = kv_from_rows(self._spark, input)
        num_map_jobs = max(1, math.ceil(total / map_input_length))
        if num_partitions is None:
            # reference: reduceJobs = max(1, mapJobs/10) (server/views.go:107-108)
            num_partitions = max(1, num_map_jobs // REDUCE_JOBS_DIVISOR)
        result_df = build(input, total, num_partitions)

        algorithm_id = str(uuid.uuid4())
        handle = AlgorithmHandle(
            algorithm_id=algorithm_id,
            num_map_jobs=num_map_jobs,
            num_partitions=num_partitions,
            sink_path=sink_path,
        )

        def run() -> None:
            # one FAIR pool per running algorithm = the reference's master-
            # per-algorithm concurrency (server/views.go:30-36); the job
            # group makes the whole algorithm addressable for cancel()
            with self._lock:
                fair_pool = (self._idle_fair_pools.pop() if self._idle_fair_pools
                             else next(self._new_fair_pool))
            sc = self._spark.sparkContext
            sc.setLocalProperty("spark.scheduler.pool", fair_pool)
            sc.setJobGroup(algorithm_id, f"algorithm {algorithm_id}",
                           interruptOnCancel=True)
            try:
                if sink_path is not None:
                    result_df.write.mode("overwrite").parquet(sink_path)
                else:
                    # driver-safety guard, costing no extra job: fetch at
                    # most cap+1 rows in the same action — a full cap+1
                    # means the result overflows the cap, so refuse and
                    # point at the distributed sink instead of OOM-ing
                    cap = self._max_collect_rows
                    rows = result_df.limit(cap + 1).collect()
                    if len(rows) > cap:
                        raise ResultTooLarge(algorithm_id, cap)
                    handle._rows = rows
            except BaseException as exc:  # surfaced on wait(), like HTTP 500
                if handle._cancelled:
                    pass  # cancellation is reported as AlgorithmCancelled
                else:
                    handle._error = exc
            finally:
                sc.setLocalProperty("spark.scheduler.pool", None)
                with self._lock:
                    # completed masters are GC'd (server/views.go:134-157)
                    self._pool.pop(algorithm_id, None)
                    self._idle_fair_pools.append(fair_pool)

        thread = threading.Thread(target=run, name=f"algorithm-{algorithm_id}")
        handle._thread = thread
        with self._lock:
            self._pool[algorithm_id] = handle
        thread.start()
        return handle

    def cancel(self, algorithm_id: str) -> bool:
        """Cancel a running algorithm — the reference's mid-run master close
        (master/master.go:198-208: cancel the assigned job, shut the worker
        down). All Spark jobs tagged with the algorithm's job group are
        cancelled; ``wait()`` then raises :class:`AlgorithmCancelled` and the
        pool entry is GC'd. Returns False for unknown/already-done ids."""
        with self._lock:
            handle = self._pool.get(algorithm_id)
        if handle is None or handle.done:
            return False
        handle._cancelled = True
        self._spark.sparkContext.cancelJobGroup(algorithm_id)
        return True

    def running(self) -> list[str]:
        """IDs of algorithms not yet complete (the live master pool)."""
        with self._lock:
            return sorted(self._pool)
