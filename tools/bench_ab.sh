#!/bin/bash
# Interleaved A/B bench: alternate two class snapshots on the SAME
# host back-to-back, so per-pair ratios cancel host drift — the
# decisive check that a cross-round bench inflation is environmental,
# not a binary regression.
#
# usage: tools/bench_ab.sh <pairs> [tagA tagB]
#   Each tag names a prebuilt snapshot target/bench_cls_<tag> (see
#   tools/ab_lib.sh for the build recipe). Defaults to r15 r16 (the
#   round-16 experiment's tags).
set -u
cd /root/repo
PAIRS=${1:?pairs}
TAG_A=${2:-r15}
TAG_B=${3:-r16}
. tools/ab_lib.sh
ab_check_snapshot "$TAG_A"
ab_check_snapshot "$TAG_B"
ab_run_one() { # $1 = binary tag, $2 = pair idx
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  SPARK_GRAFT_BENCH_OUT=target/bench_ab_${1}_p${2}.json \
  java $AB_ADDOPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "target/bench_cls_${1}:/opt/spark/jars/*" graft.Bench \
    > target/bench_ab_${1}_p${2}.log 2>&1
  rc=$?
  if [ $rc -ne 0 ]; then
    echo "pair $2 $1: FAILED rc=$rc (see target/bench_ab_${1}_p${2}.log)" >&2
    exit $rc
  fi
  echo "pair $2 $1: $(tail -1 target/bench_ab_${1}_p${2}.log)"
}
ab_pairs "$PAIRS" "$TAG_A" "$TAG_B"
