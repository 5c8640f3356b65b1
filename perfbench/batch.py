"""Batch workloads: one closed-loop client running a fixed query list.

A pass runs every query of the workload once, in the seed's order; a query
is ``spec.fn(spark, data_dir)`` (the driver-side build) followed by a
``noop`` write (the execution), each under its own job group. The run is:
cold set-up (session + one warm-up pass), untimed settling passes, timed
passes until ``seconds`` have elapsed (at least three), and last an untimed
correctness pass that compares every query's result with its recorded
oracle digest. A traced
run inserts, before that check, a warm-up pass and timed passes on a new
session with Spark's event log on (folded into the per-layer metrics); the
tracing overhead is the traced pass time against the untraced one. The JVM
carries over and is warmer by then, so this understates the overhead by
what the settled JVM still gains.
"""

from __future__ import annotations

import gc
import statistics
import sys
import time

import digests
import sessions
from tracing import (Spans, TreeRss, Windows, final_captured, fold_event_log,
                     layer_metrics, read_event_log)

# untimed passes between warm-up and the timed window: the JIT keeps
# compiling for several passes after the warm-up one (after two settling
# passes the next pass still ran up to a quarter slower than the ones after)
SETTLE_PASSES = 3


class BatchClient:
    def __init__(self, ctx, queries: list[str]) -> None:
        from go_web_mapreduce_spark.queries import REGISTRY

        self.ctx, self.order, self.registry = ctx, queries, REGISTRY
        self.spans: Spans = ctx.spans
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def query(self, spark, name: str, label: str, parent: int) -> dict:
        """One query; returns its build/exec windows and the number of RDDs
        it left persisted (counted after a ``gc.collect()``)."""
        sc, unit = spark.sparkContext, f"{label}:{name}"
        pinned = sc._jsc.getPersistentRDDs().size()
        self.attempted += 1
        try:
            sc.setJobGroup(f"{unit}:build", name)
            with self.spans.span("operators.build", unit, parent) as b:
                df = self.registry[name].fn(spark, self.ctx.data_dir)
            sc.setJobGroup(f"{unit}:exec", name)
            with self.spans.span("operators.exec", unit, parent) as x:
                df.write.mode("overwrite").format("noop").save()
        except Exception as exc:  # noqa: BLE001 — counted, reported, run fails
            self.failed += 1
            self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:400])
            print(f"# {name} FAILED: {exc}", file=sys.stderr)
            return {"query": name, "failed": True}
        finally:
            sc.setJobGroup(label, label)
        del df
        gc.collect()
        build, exe = self.spans.window(b), self.spans.window(x)
        return {
            "query": name, "unit": unit, "build": build, "exec": exe,
            "build_s": build[1] - build[0], "exec_s": exe[1] - exe[0],
            "pins": sc._jsc.getPersistentRDDs().size() - pinned,
        }

    def run_pass(self, spark, label: str) -> dict:
        with self.spans.span("pass", label) as pid:
            rows = [self.query(spark, q, label, pid) for q in self.order]
        ok = [r for r in rows if not r.get("failed")]
        return {"label": label, "queries": ok, "wall_s": self.spans.duration(pid),
                "seconds": sum(r["build_s"] + r["exec_s"] for r in ok)}

    def timed_passes(self, spark, seconds: float, prefix: str) -> list[dict]:
        """Passes until ``seconds`` have elapsed, and at least three: the
        first pass after warm-up still pays JIT compilation, and the median
        of three leaves it out."""
        passes: list[dict] = []
        deadline = time.time() + seconds
        while len(passes) < 3 or time.time() < deadline:
            passes.append(self.run_pass(spark, f"{prefix}{len(passes)}"))
        return passes

    def check(self, spark) -> None:
        """Untimed correctness pass against the recorded oracle digests."""
        expected = self.ctx.digests["queries"]
        for name in self.order:
            self.attempted += 1
            spark.sparkContext.setJobGroup(f"check:{name}", name)
            try:
                got = digests.digest_frame(
                    self.registry[name].fn(spark, self.ctx.data_dir).toPandas())
            except Exception as exc:  # noqa: BLE001
                got = {"error": f"{type(exc).__name__}: {exc}"[:400]}
            if got != expected[name]:
                self.failed += 1
                self.errors.append(f"{name}: result differs from oracle: {got}")
                print(f"# {name} WRONG RESULT: {got} != {expected[name]}",
                      file=sys.stderr)
            gc.collect()


def run(ctx, workload: dict) -> dict:
    client = BatchClient(ctx, ctx.permute(workload["queries"]))
    spans = ctx.spans

    with TreeRss(ctx.pid) as rss:
        with spans.span("session.start", "setup") as s_start:
            spark = ctx.start_spark()
        with spans.span("session.warm", "setup") as s_warm:
            client.run_pass(spark, "warm")
        setup_s = time.time() - ctx.process_start - ctx.corpus_s
        for i in range(SETTLE_PASSES):
            client.run_pass(spark, f"settle{i}")
        passes = client.timed_passes(spark, ctx.seconds, "t")
        traced = None
        if ctx.trace:
            spark.stop()
            spark = ctx.start_spark(sessions.event_log_conf(ctx.event_log_dir))
            client.run_pass(spark, "warm-traced")
            traced = client.timed_passes(spark, ctx.seconds, "traced")
        with spans.span("check", "check"):
            client.check(spark)
        with spans.span("session.stop", "check"):
            sessions.stop(spark)
    window_s = sum(p["wall_s"] for p in passes)
    times = [r["build_s"] + r["exec_s"] for p in passes for r in p["queries"]]
    result = {
        "end_to_end": {
            "setup_s": setup_s,
            "pass_s": statistics.median(p["seconds"] for p in passes),
            "query_geomean_s": statistics.geometric_mean(times),
            "queries_per_s": len(times) / window_s,
        },
        "passes": passes,
        "attempted": client.attempted,
        "failed": client.failed,
        "errors": client.errors,
    }
    if traced is not None:
        result["traced_passes"] = traced
        result["per_layer"] = _layers(ctx, passes, traced, spans, s_start, s_warm)
        result["per_layer"]["process.peak_rss_mb"] = rss.peak_mb
    return result


def _layers(ctx, passes, traced, spans, s_start, s_warm) -> dict:
    units = fold_event_log(
        read_event_log(ctx.event_log_dir),
        Windows([(f"{r['unit']}:{ph}", *r[ph])
                 for p in traced for r in p["queries"] for ph in ("build", "exec")]),
    )
    n = len(traced)
    # a query's plans were captured when its build and exec phases' were
    per_query: dict[str, dict] = {}
    for name, u in units.items():
        q = per_query.setdefault(name.rsplit(":", 1)[0], {"executions": 0, "final_plans": 0})
        q["executions"] += u["executions"]
        q["final_plans"] += u["final_plans"]
    traced_pass_s = statistics.median(p["seconds"] for p in traced)
    out = layer_metrics(units, 1 / n)
    out.update({
        "session.start_s": spans.duration(s_start),
        "session.warm_s": spans.duration(s_warm),
        "operators.build_s": sum(r["build_s"] for p in traced for r in p["queries"]) / n,
        "operators.exec_s": sum(r["exec_s"] for p in traced for r in p["queries"]) / n,
        "operators.build_jobs": sum(u["jobs"] for name, u in units.items()
                                    if name.endswith(":build")) / n,
        "operators.leftover_pins": sum(r["pins"] for p in traced for r in p["queries"]) / n,
        "stages.core_util": out["stages.run_s"] / (traced_pass_s * ctx.nproc),
        "plans.final_captured": final_captured(list(per_query.values())),
        "trace.overhead_s": traced_pass_s - statistics.median(p["seconds"] for p in passes),
    })
    return out
