#!/bin/bash
# Full local gate: compile + tests + sf0.01 oracle check + sf0.1 bench.
# Mirrors everything the driver grades; run before any milestone commit.
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch compile test
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} \
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_out"
python3 scripts/check.py /root/testdata/sf0.01 /tmp/gate_out
bench=$(
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=${BENCH_CPUS:-32} \
  sbt -batch "runMain graft.Bench" | grep -E '^\{'
)
printf '%s\n' "$bench"
# Bench's last stdout line is the one its output is graded by: it must
# be the headline metric carrying a non-empty per-query map
printf '%s\n' "$bench" | tail -n 1 | python3 -c '
import json, sys
line = json.loads(sys.stdin.read())
if line.get("metric") != "headline" or not line.get("queries"):
    sys.exit("gate: last Bench line is not a headline metric with a non-empty queries map")
'
