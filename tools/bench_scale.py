"""Measure per-query scaling between two corpus sizes (VERDICT r4
next-steps #1: measure scale, don't just design for it).

    python tools/bench_scale.py [--small /root/testdata/sf0.1] \
        [--big /tmp/spark_graft_sf1] [--ratio 10] [--json SCALE_MEASURED.json] \
        [query ...]

Runs every (or the named) registered quer(ies) once WARM at each size —
the first, untimed run compiles codegen; the second is the measurement —
via the same noop-sink action bench.py uses, and reports

    exponent = log(t_big / t_small) / log(ratio)

i.e. the empirical scaling power: 1.0 = linear, <=0 = fixed-cost-bound,
2.0 = quadratic. A calibration spin runs beside each measurement so runs
on a noisy host can be normalized (BASELINE.md discipline). Streaming
queries rebuild per-run scratch checkpoints and are therefore measured
like everything else.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _calibration_spin, warm_up  # noqa: E402
from go_web_mapreduce_spark.queries import REGISTRY  # noqa: E402
from go_web_mapreduce_spark.session import get_spark  # noqa: E402


def _run(spark, name: str, sf_dir: str) -> float:
    # fn() goes INSIDE the timed region (bench.py discipline): iterative /
    # trained operators run driver-side actions while BUILDING the plan
    # (KMeans samples, BPE argmax rounds, Newton iterations) — timing only
    # the final write would silently exclude them
    t0 = time.time()
    df = REGISTRY[name].fn(spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()
    return round(time.time() - t0, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="/root/testdata/sf0.1")
    ap.add_argument("--big", default="/tmp/spark_graft_sf1")
    ap.add_argument("--ratio", type=float, default=10.0)
    ap.add_argument("--json", default=None)
    ap.add_argument(
        "--shuffle-partitions",
        type=int,
        default=None,
        help="override spark.sql.shuffle.partitions (knob-sweep runs: "
        "adjudicating whether a superlinear decade is local 32-partition "
        "spill or a plan defect — the q_sequence_pairs protocol)",
    )
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    names = args.queries or sorted(REGISTRY)
    spark = get_spark(
        "bench-scale", shuffle_partitions=args.shuffle_partitions
    )
    for d in (args.small, args.big):
        warm_up(spark, d)

    out: dict[str, dict] = {}
    for name in names:
        rec: dict = {}
        try:
            _run(spark, name, args.small)          # warm (untimed)
            rec["small_sec"] = _run(spark, name, args.small)
            rec["spin_small"] = _calibration_spin()
            _run(spark, name, args.big)            # warm (untimed)
            rec["big_sec"] = _run(spark, name, args.big)
            rec["spin_big"] = _calibration_spin()
        except Exception as ex:  # noqa: BLE001 — record, keep measuring
            rec["err"] = f"{type(ex).__name__}: {ex}"[:300]
            out[name] = rec
            print(f"FAIL {name}: {rec['err']}", file=sys.stderr)
            continue
        # spin-normalize both sides before the exponent so host-load drift
        # between the two measurements doesn't masquerade as superlinearity
        norm = (rec["big_sec"] / rec["spin_big"]) / (
            rec["small_sec"] / rec["spin_small"]
        )
        rec["t_ratio"] = round(norm, 3)
        rec["exponent"] = round(math.log(norm) / math.log(args.ratio), 3)
        out[name] = rec
        print(
            f"{name}: {rec['small_sec']}s -> {rec['big_sec']}s "
            f"(x{rec['t_ratio']}, exp {rec['exponent']})",
            file=sys.stderr,
        )
        gc.collect()

    result = {
        "small": args.small,
        "big": args.big,
        "ratio": args.ratio,
        "shuffle_partitions": args.shuffle_partitions,
        "queries": out,
    }
    if args.json:
        with open(args.json, "w") as f:
            json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
