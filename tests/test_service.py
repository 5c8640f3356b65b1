"""AlgorithmService contract tests — the reference's server behaviors
(SURVEY.md §5 patterns 2 and 4): request validation as ValueError, the
reduce-partition heuristic, concurrent algorithms converging, pool GC on
completion (reference: server/views.go:83-160)."""

from __future__ import annotations

import sys
import uuid

import pytest

from go_web_mapreduce_spark.service import AlgorithmService

WORDS = ("bacon ipsum dolor amet bacon ribs bacon ham").split()


@pytest.fixture(scope="module")
def service(spark):
    return AlgorithmService(spark)


def wordcount_fns():
    return (lambda k, v: (len(v) % 2, v, "1"), lambda k, vs: str(len(vs)))


def test_submit_literal_input_and_wait(service):
    map_fn, reduce_fn = wordcount_fns()
    h = service.submit(map_fn, reduce_fn, [("", w) for w in WORDS], 3)
    rows = {r["key"]: r["value"] for r in h.wait(timeout=120)}
    assert rows["bacon"] == "3"
    assert len(rows) == len(set(WORDS))
    assert h.done


def test_reduce_partition_heuristic(service):
    """reference: reduceJobs = max(1, mapJobs/10) (server/views.go:107-108)."""
    map_fn, reduce_fn = wordcount_fns()
    h = service.submit(map_fn, reduce_fn, [("", w) for w in WORDS], 1)
    # 8 rows / input_len 1 → 8 map jobs → max(1, 8//10) = 1 partition
    assert h.num_map_jobs == 8
    assert h.num_partitions == 1
    h.wait(timeout=120)


def test_concurrent_algorithms(service):
    """Two masters live at once, both converge (reference: server/views.go:30-36;
    SURVEY.md §5 pattern 4)."""
    map_fn, reduce_fn = wordcount_fns()
    h1 = service.submit(map_fn, reduce_fn, [("", w) for w in WORDS], 2)
    h2 = service.submit(
        lambda k, v: (0, v, v),
        lambda k, vs: str(sum(len(x) for x in vs)),
        [("", w) for w in WORDS],
        2,
    )
    r1 = {r["key"]: r["value"] for r in h1.wait(timeout=120)}
    r2 = {r["key"]: r["value"] for r in h2.wait(timeout=120)}
    assert r1["bacon"] == "3"
    assert r2["bacon"] == str(len("bacon") * 3)


def test_literal_submission_runs_no_spark_job(spark, service):
    """A submission of literal rows is sized from the list's length, so
    neither dialect runs a Spark job on the submitting thread: every job of
    an algorithm runs on its own thread, in its own job group."""
    sc = spark.sparkContext
    probe = f"submit-probe-{uuid.uuid4()}"
    sc.setJobGroup(probe, "jobs run by the submitting thread")
    try:
        map_fn, reduce_fn = wordcount_fns()
        rows = [("", w) for w in WORDS]
        h_py = service.submit(map_fn, reduce_fn, rows, 3)
        h_sql = service.submit_native(
            rows,
            3,
            pi_expr="length(value) % 2",
            key_expr="value",
            value_expr="'1'",
            reduce_expr="cast(size(values) as string)",
        )
        assert list(sc.statusTracker().getJobIdsForGroup(probe)) == []
        want = {w: str(WORDS.count(w)) for w in WORDS}
        for h in (h_py, h_sql):
            assert {r["key"]: r["value"] for r in h.wait(timeout=120)} == want
        # the listener bus is asynchronous: by now it has seen any job the
        # submitting thread started
        assert list(sc.statusTracker().getJobIdsForGroup(probe)) == []
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)


def test_pool_gc_after_completion(service):
    map_fn, reduce_fn = wordcount_fns()
    h = service.submit(map_fn, reduce_fn, [("", w) for w in WORDS], 3)
    h.wait(timeout=120)
    assert h.algorithm_id not in service.running()


def test_empty_input_rejected(service):
    map_fn, reduce_fn = wordcount_fns()
    with pytest.raises(ValueError, match="empty input"):
        service.submit(map_fn, reduce_fn, [], 3)


def test_bad_map_input_length_rejected(service):
    map_fn, reduce_fn = wordcount_fns()
    with pytest.raises(ValueError, match="map_input_length"):
        service.submit(map_fn, reduce_fn, [("", "w")], 0)


def test_oversized_result_refused_with_sink_hint(spark, tmp_path):
    """The default driver-collect path must refuse results above the
    service's max_collect_rows cap (pointing at sink_path=), while the same
    submission with sink_path succeeds — the reference's unbounded
    master-side accumulation (algorithm/algorithm.go:337-343) made
    driver-safe by default."""
    from go_web_mapreduce_spark.service import ResultTooLarge

    small = AlgorithmService(spark, max_collect_rows=5)
    map_fn, reduce_fn = wordcount_fns()
    inp = [("", f"word{i}") for i in range(12)]  # 12 distinct keys > cap 5

    h = small.submit(map_fn, reduce_fn, inp, 3)
    with pytest.raises(ResultTooLarge, match="sink_path"):
        h.wait(timeout=120)

    sink = str(tmp_path / "results")
    h2 = small.submit(map_fn, reduce_fn, inp, 3, sink_path=sink)
    assert h2.wait(timeout=120) == sink
    got = {r["key"] for r in spark.read.parquet(sink).collect()}
    assert got == {f"word{i}" for i in range(12)}

    # results at or under the cap still arrive on the default path
    ok = small.submit(map_fn, reduce_fn, [("", "a"), ("", "a"), ("", "b")], 2)
    assert {r["key"] for r in ok.wait(timeout=120)} == {"a", "b"}


def test_bad_max_collect_rows_rejected(spark):
    with pytest.raises(ValueError, match="max_collect_rows"):
        AlgorithmService(spark, max_collect_rows=0)


def test_bench_helpers_importable():
    """bench.py is driver-facing; its helpers must import and behave without
    a full run (the full CLI is exercised by the verify recipe)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    spin = mod._calibration_spin(10_000)
    assert isinstance(spin, float) and spin >= 0.0


def test_fair_pools_bounded_by_concurrency(spark):
    """Spark keeps a FAIR pool for every pool name it is ever given; the
    service lends each running algorithm a name and takes it back, so the
    pool count follows peak concurrency: a wave of 6 concurrent algorithms
    and then 20 sequential ones add at most 6 pools, not 26."""
    pools = spark.sparkContext._jsc.sc().getAllPools
    before = pools().size()
    service = AlgorithmService(spark)

    def wave(n):
        handles = [
            service.submit_native(
                [("", w) for w in WORDS],
                3,
                pi_expr="0",
                key_expr="value",
                value_expr="'1'",
                reduce_expr="cast(size(values) as string)",
            )
            for _ in range(n)
        ]
        for h in handles:
            assert len(h.wait(timeout=120)) == len(set(WORDS))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        wave(6)
    finally:
        sys.setswitchinterval(interval)
    for _ in range(20):
        wave(1)
    idle = service._idle_fair_pools  # every name lent out came back once
    assert len(idle) == len(set(idle)) <= 6
    assert pools().size() <= before + len(idle)
