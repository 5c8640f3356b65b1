"""Interleaved A/B bench between two repo checkouts (optimization rounds).

The sandbox host's speed drifts by 2-3x across minutes, so raw seconds from
runs taken at different times are not comparable. This harness runs the SAME
query list in two checkouts in alternating fresh processes, several rounds,
and reports per-query medians with the quartiles (q1-q3, the spread a
change median is judged against), the min-max range and every round's
seconds of each side, plus a calibration spin and the 1-minute loadavg per
round. A query name may be listed once.

Usage: python tools/ab_bench.py --before /tmp/repo_before --after /root/repo \
           --rounds 3 q1 q2 ...
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUNNER = r"""
import contextlib, importlib.util, json, os, sys, time
sys.path.insert(0, sys.argv[1])
os.chdir(sys.argv[1])
names = json.loads(sys.argv[2])
from go_web_mapreduce_spark.queries import REGISTRY
from go_web_mapreduce_spark.session import get_spark
from go_web_mapreduce_spark.sources import sinks
# a tree from before sinks.released() frees nothing per query
released = getattr(sinks, "released", contextlib.nullcontext)
spec = importlib.util.spec_from_file_location("ab_bench_warm", sys.argv[3])
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)
spark = get_spark("ab")
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
bench.warm_up(spark, sf_dir)
out = {}
for n in names:
    with released():
        t0 = time.time()
        df = REGISTRY[n].fn(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        out[n] = round(time.time() - t0, 3)
out["__spin__"] = bench._calibration_spin()
print("ABRESULT " + json.dumps(out))
"""

# this checkout's bench.py: both trees warm up and spin with the same code,
# whichever commit --before names
BENCH_PY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"
)


def run_tree(tree: str, names: list[str]) -> dict:
    p = subprocess.run(
        [sys.executable, "-c", RUNNER, tree, json.dumps(names), BENCH_PY],
        capture_output=True, text=True, timeout=3600,
    )
    for line in p.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    print(p.stdout[-2000:], file=sys.stderr)
    print(p.stderr[-4000:], file=sys.stderr)
    raise RuntimeError(f"runner failed in {tree}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--before", default="/tmp/repo_before")
    ap.add_argument("--after", default="/root/repo")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    repeated = sorted({n for n in args.names if args.names.count(n) > 1})
    if repeated:
        # results are keyed by name: a repeat would keep only its last timing
        ap.error(f"query listed more than once: {', '.join(repeated)}")

    acc = {"before": [], "after": []}
    for r in range(args.rounds):
        # alternate which tree runs first: the host slows measurably while a
        # round runs, so a fixed order systematically biases the second tree
        order = [("before", args.before), ("after", args.after)]
        if r % 2:
            order.reverse()
        for tag, tree in order:
            t0 = time.time()
            res = run_tree(tree, args.names)
            acc[tag].append(res)
            print(f"# round {r} {tag}: total "
                  f"{sum(v for k, v in res.items() if k != '__spin__'):.1f}s "
                  f"spin {res['__spin__']:.2f} wall {time.time()-t0:.0f}s "
                  f"loadavg {os.getloadavg()[0]:.2f}",
                  file=sys.stderr, flush=True)

    def side(tag: str, n: str) -> tuple[float, str, str, str]:
        xs = [r[n] for r in acc[tag]]
        # inclusive quartiles interpolate between rounds, as numpy's do
        q1, _, q3 = (statistics.quantiles(xs, n=4, method="inclusive")
                     if len(xs) > 1 else xs * 3)
        return (statistics.median(xs), f"{q1:.3f}-{q3:.3f}",
                f"{min(xs):.3f}-{max(xs):.3f}",
                " ".join(f"{x:.3f}" for x in xs))

    print(f"{'query (median, q1-q3, min-max)':32s} {'before':>33s} "
          f"{'after':>33s}  ratio  per round: before | after")
    tb = ta = 0.0
    for n in args.names:
        b, qb, rb, xb = side("before", n)
        a, qa, ra, xa = side("after", n)
        tb += b; ta += a
        print(f"{n:32s} {b:7.3f} {qb:>12s} {rb:>12s} {a:7.3f} {qa:>12s} "
              f"{ra:>12s}  {a/b:5.2f}  {xb} | {xa}")
    print(f"{'TOTAL (sum of medians)':32s} {tb:7.3f} {'':25s} {ta:7.3f} "
          f"{'':25s}  {ta/tb:5.2f}")
    spins_b = [r["__spin__"] for r in acc["before"]]
    spins_a = [r["__spin__"] for r in acc["after"]]
    print(f"spins before={spins_b} after={spins_a}")


if __name__ == "__main__":
    main()
