#!/bin/bash
# sf~1 scaling probes, both constructions (exact and perturbed trees).
# Runs AFTER tools/sweep.sh, so the sf0.1 base in
# /tmp/bench_full_sf0.1.json is the committed sweep. Each probe writes
# its own full artifact via SPARK_GRAFT_BENCH_FULL_OUT and never touches
# BENCH_full_local.json. Provenance and the prior round's scaling
# artifact (SCALING_r<round-1>.json) go to the assembler explicitly.
# Cores: SPARK_GRAFT_CPUS, else nproc.
# Usage: tools/sf1_probe.sh <round> <keys-file> <keyset-desc>
set -e
cd "$(dirname "$0")/.."
USAGE="usage: sf1_probe.sh <round> <keys-file> <keyset-desc>"
ROUND=${1:?$USAGE}
KEYS_FILE=${2:?$USAGE}
KEYSET_DESC=${3:?$USAGE}
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
SNAP=${GRAFT_CLASSES:-/tmp/graft_classes_sweep}
KEYS=$(cat "$KEYS_FILE")
for mode in exact perturbed; do
  out=/tmp/bench_sf1_${mode}_r$ROUND
  if GRAFT_CLASSES="$SNAP" SPARK_GRAFT_SF_DIR=/root/sf1_$mode \
      SPARK_GRAFT_BENCH_WALL=100000 \
      SPARK_GRAFT_BENCH_ONLY="$KEYS" \
      SPARK_GRAFT_BENCH_FULL_OUT=/tmp/bench_full_sf1_${mode}_r$ROUND.json \
      tools/bench_java.sh > $out.txt 2>&1; then
    echo "sf1_$mode rc=0"
  else
    echo "sf1_$mode FAILED (see $out.txt)"; exit 1
  fi
done
python3 tools/sf1_assemble.py SCALING_r${ROUND}_sf1.json \
  /tmp/bench_full_sf0.1.json \
  /tmp/bench_sf1_exact_r$ROUND.txt /tmp/bench_sf1_perturbed_r$ROUND.txt \
  --keyset-desc "$KEYSET_DESC" \
  --prior-base SCALING_r$((ROUND - 1)).json
echo sf1-probes-done
