#!/bin/bash
# sf1 full-registry sweep: 4 parallel check_oracle shards (round-robin split
# of sorted(REGISTRY) minus q_semantic_dedup, whose all-pairs oracle exceeds
# the time budget at sf1 — tools/semantic_replay.py verifies it instead),
# then assembled into one single-provenance artifact by
# tools/assemble_sf1_r9.py.
#
#   tools/run_sf1_sweep.sh SF_DIR OUT.json
#
# Shard JSONs and logs go to a fresh mktemp directory, so a stale shard from
# an earlier run can never be assembled. Every background job's exit status
# is checked per PID: `set -e` does not cover backgrounded jobs and a bare
# `wait` returns 0.
set -e
if [ $# -ne 2 ]; then
  echo "usage: $0 SF_DIR OUT.json" >&2
  exit 2
fi
SF_DIR=$1
OUT=$(realpath -m "$2")
cd "$(dirname "$(realpath "$0")")/.."
WORK=$(mktemp -d -t sf1_sweep_XXXXXX)
echo "shard JSONs and logs: $WORK"
WORK="$WORK" python3 - <<'EOF'
import os
import sys
sys.path.insert(0, ".")
from go_web_mapreduce_spark.queries import REGISTRY
names = [n for n in sorted(REGISTRY) if n != "q_semantic_dedup"]
for i in range(4):
    with open(os.path.join(os.environ["WORK"], f"shard{i}.txt"), "w") as f:
        f.write("\n".join(names[i::4]))
print("shards:", [len(names[i::4]) for i in range(4)])
EOF
PIDS=()
for i in 0 1 2 3; do
  SPARK_GRAFT_CPUS=7 SPARK_DRIVER_MEMORY=18g \
    python3 tools/check_oracle.py \
    --json "$WORK/shard${i}.json" "$SF_DIR" \
    $(cat "$WORK/shard${i}.txt") > "$WORK/shard${i}.log" 2>&1 &
  PIDS+=($!)
done
SPARK_GRAFT_CPUS=4 SPARK_DRIVER_MEMORY=12g \
  python3 tools/semantic_replay.py --sf-dir "$SF_DIR" \
  --json "$WORK/semantic.json" > "$WORK/semantic.log" 2>&1 &
PIDS+=($!)
for pid in "${PIDS[@]}"; do
  wait "$pid" || { echo "sweep job $pid FAILED — aborting assembly" >&2; exit 1; }
done
python3 tools/assemble_sf1_r9.py \
  "$OUT" "$WORK/semantic.json" \
  "$WORK/shard0.json" "$WORK/shard1.json" "$WORK/shard2.json" \
  "$WORK/shard3.json"
