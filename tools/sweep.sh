#!/bin/bash
# Round-end artifact sweep: full Bench at three SFs, then assemble the
# scaling artifact. Every run writes its OWN full artifact via
# SPARK_GRAFT_BENCH_FULL_OUT, so nothing in the sweep touches
# BENCH_full_local.json as a side effect; the committed
# BENCH_full_local.json is an explicit COPY of the sf0.1 run's file,
# ASSERTED (tools/check_bench_artifact.py) to carry the sweep tree's sf,
# the full bench key count, min-of-3 semantics and zero errors before
# any commit. Runs through tools/bench_java.sh against a snapshotted
# classes dir, so the sweep neither holds the sbt lock nor races a
# recompile. SPARK_GRAFT_BENCH_WALL is raised so committed sweeps keep
# min-of-3 semantics. Cores: SPARK_GRAFT_CPUS, else nproc.
# Usage: tools/sweep.sh <round> <expected_n_bench_queries>
#   e.g. tools/sweep.sh 18 255 → SCALING_r18.json, BENCH_full_r18_sweep.json
set -e
cd "$(dirname "$0")/.."
ROUND=${1:?usage: sweep.sh <round> <expected_n_bench_queries>}
EXPECT_N=${2:?usage: sweep.sh <round> <expected_n_bench_queries>}
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
DATA=/root/testdata
SNAP=${GRAFT_CLASSES:-/tmp/graft_classes_sweep}
rm -rf "$SNAP"
cp -a target/scala-2.13/classes "$SNAP"
for sf in 0.001 0.01 0.1; do
  if GRAFT_CLASSES="$SNAP" SPARK_GRAFT_SF_DIR=$DATA/sf$sf \
      SPARK_GRAFT_BENCH_WALL=100000 \
      SPARK_GRAFT_BENCH_FULL_OUT=/tmp/bench_full_sf$sf.json \
      tools/bench_java.sh \
      > /tmp/bench_sf$sf.txt 2>&1; then
    echo "sf$sf rc=0"
  else
    echo "sf$sf FAILED (see /tmp/bench_sf$sf.txt)"; exit 1
  fi
  python3 tools/check_bench_artifact.py /tmp/bench_full_sf$sf.json \
    $DATA/sf$sf "$EXPECT_N" 3
done
cp /tmp/bench_full_sf0.1.json BENCH_full_local.json
# IMMUTABLE round-named copy: a later bench rewrites
# BENCH_full_local.json (it is "the latest full default-tree run"), so
# sweep figures cite this name, which graft.Bench never writes.
cp /tmp/bench_full_sf0.1.json BENCH_full_r${ROUND}_sweep.json
for f in BENCH_full_local.json BENCH_full_r${ROUND}_sweep.json; do
  python3 tools/check_bench_artifact.py $f $DATA/sf0.1 "$EXPECT_N" 3
done
python3 tools/scaling_assemble.py SCALING_r${ROUND}.json \
  /tmp/bench_sf0.001.txt /tmp/bench_sf0.01.txt /tmp/bench_sf0.1.txt
echo sweep-done
