"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch-sql --seed 1 --seconds 10 --trace 0

Run from the repository root. The workloads and metric names are listed in
``BENCHMARK.json``; ``workloads.py`` says what each workload drives.

Every run is isolated in its own directory under ``.perfbench/`` (corpus,
Spark local dirs, warehouse, checkpoints, temp files, event log), removed
at the end; the bytes the engine left there are reported. Python workers
import the engine through ``PYTHONPATH`` set to the repository root, and
the session runs on ``local[nproc]``.

Output: a compact summary line, then as the last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``. The full record (per pass, per query or algorithm, per
layer, spans, host stamp) goes to ``.perfbench/results/``. The exit code is
0 only when every output matched its expected value.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import sys
import tempfile
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "go_web_mapreduce_spark"
STATE_DIR = os.path.join(ROOT, ".perfbench")


def _process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


class Context:
    """Per-run settings and directories, handed to the workload drivers."""

    def __init__(self, args, run_dir: str) -> None:
        import tracing

        self.process_start = _process_start()
        self.ticks_at_start = tracing.cpu_ticks()
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.bench_dir, self.run_dir = BENCH_DIR, run_dir
        self.pid = os.getpid()
        self.nproc = len(os.sched_getaffinity(0))
        self.data_dir = os.path.join(run_dir, "data")
        self.event_log_dir = os.path.join(run_dir, "eventlog")
        self.engine_dirs = [os.path.join(run_dir, d) for d in
                            ("tmp", "local", "warehouse", "checkpoint")]
        for d in [*self.engine_dirs, self.event_log_dir]:
            os.makedirs(d)
        self.spans = tracing.Spans()
        self.digests: dict = {}
        self.corpus_s = 0.0

    def isolate(self) -> None:
        """Environment inherited by the JVM, the Python workers and the
        server process: engine importable from any cwd, local[nproc], and
        every temp/spill/checkpoint path inside the run directory."""
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        os.environ["SPARK_LOCAL_DIRS"] = self.engine_dirs[1]
        os.environ["TMPDIR"] = self.engine_dirs[0]
        # every JVM, the spark-submit launcher included: no hsperfdata files
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={self.engine_dirs[0]} -XX:-UsePerfData")
        tempfile.tempdir = self.engine_dirs[0]
        os.environ["PYSPARK_PYTHON"] = sys.executable

    def permute(self, items: list[str]) -> list[str]:
        out = list(items)
        random.Random(self.seed).shuffle(out)
        return out

    def start_spark(self, extra: dict | None = None):
        import sessions
        from go_web_mapreduce_spark.session import get_spark

        conf = sessions.run_conf(self.run_dir)
        conf.update(extra or {})
        return get_spark("perfbench", extra_conf=conf)

    def engine_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(d, f))
                   for top in self.engine_dirs
                   for d, _, files in os.walk(top) for f in files
                   if os.path.isfile(os.path.join(d, f)))


def _metric_specs(trace: bool) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def _stop_leftovers() -> None:
    """Kill any child process still alive (none after a clean run) and every
    process under it, then reap them."""
    import tracing

    tracing.wait_gone(tracing.tree_pids(os.getpid())[1:], timeout=0)
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            break


def _record_path(args, suffix: str) -> str:
    return os.path.join(STATE_DIR, "results",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}{suffix}")


def _summary(workload: str, args, result: dict, metrics: dict, stamp: dict) -> str:
    rate = result["failed"] / result["attempted"]
    parts = [f"perfbench workload={workload} seed={args.seed} trace={args.trace}",
             f"attempted={result['attempted']} failed={result['failed']}",
             f"error_rate={rate:.4g}"]
    parts += [f"{k}={v['value']:.4g}" for k, v in metrics.items()]
    parts += [f"commit={(stamp['commit'] or stamp['source_digest'])[:12]}",
              f"nproc={stamp['nproc']}", f"spin_s={stamp['calibration_spin_s']}",
              f"load={stamp['loadavg'][0]}", f"procs_running={stamp['procs_running']}",
              f"steal={stamp['steal_share']}",
              f"scratch_bytes={result['scratch_bytes']}"]
    return " ".join(parts)


def main() -> int:
    sys.path[:0] = [BENCH_DIR, ROOT]
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}",
              file=sys.stderr)
        return 2
    os.makedirs(os.path.join(STATE_DIR, "results"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=STATE_DIR)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        ctx = Context(args, run_dir)
        ctx.isolate()
        result = _run(ctx, args.workload, workloads)
        result["scratch_bytes"] = ctx.engine_bytes()
        for log in os.listdir(ctx.event_log_dir):
            shutil.move(os.path.join(ctx.event_log_dir, log), _record_path(args, ".eventlog"))
    except Exception:  # noqa: BLE001 — no result line on a broken run
        traceback.print_exc()
        return 1
    finally:
        _stop_leftovers()
        shutil.rmtree(run_dir, ignore_errors=True)

    import tracing

    stamp = tracing.host_stamp(ROOT, PACKAGE, ctx.ticks_at_start)
    values = result["per_layer" if ctx.trace else "end_to_end"]
    # a layer the workload does not drive (streaming on batch-sql, http_api
    # on the batch workloads) did no work: its counters read 0
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in _metric_specs(ctx.trace)}
    record = dict(result, workload=args.workload, seed=args.seed,
                  seconds=args.seconds, trace=args.trace, host=stamp,
                  spans=ctx.spans.items)
    with open(_record_path(args, ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    correct = result["failed"] == 0
    print(_summary(args.workload, args, result, metrics, stamp))
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if correct else 1


def _run(ctx: Context, name: str, workloads) -> dict:
    cfg = workloads.WORKLOADS[name]
    if "queries" in cfg:
        import batch
        import datagen
        import digests

        ctx.digests = digests.load()
        corpus = ctx.digests["corpus"]
        # harness work, not the engine's: left out of setup_s
        with ctx.spans.span("corpus", "setup") as s_corpus:
            datagen.generate(ctx.data_dir, corpus["sf"], corpus["seed"])
            for table, sha in corpus["sha256"].items():
                if digests.file_sha256(os.path.join(ctx.data_dir, f"{table}.parquet")) != sha:
                    raise RuntimeError(f"generated {table} differs from the recorded corpus")
        ctx.corpus_s = ctx.spans.duration(s_corpus)
        return batch.run(ctx, cfg)
    import wordcount_service

    return wordcount_service.run(ctx, cfg)


if __name__ == "__main__":
    sys.exit(main())
