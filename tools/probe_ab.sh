#!/bin/bash
# Interleaved A/B *probe*: the bench_ab.sh pattern applied to
# graft.Probe rows — alternate two prebuilt class snapshots on the
# SAME host back-to-back, running only the named probe queries, so
# per-pair ratios cancel host drift. This is the "isolated two-binary
# A/B on a suspicious probe row" protocol the verify skill prescribes
# (never argue from cross-day probe numbers).
#
# usage: tools/probe_ab.sh <pairs> <tagA> <tagB> <query> [query ...]
#   Tags name prebuilt snapshots target/bench_cls_<tag> (see
#   tools/ab_lib.sh for the build recipe). Probe data dir comes from
#   SPARK_GRAFT_SF_DIR, defaulting to /tmp/sfpert — the PERTURBED
#   corpus the committed PROBE_r{N}_perturbed.jsonl anchors run on
#   (this tool exists to interrogate THOSE rows; row counts diverge
#   on the plain replica corpus — 36,173 vs 48,946 for
#   contamination_report_join).
set -u
cd /root/repo
PAIRS=${1:?pairs}
TAG_A=${2:?tagA}
TAG_B=${3:?tagB}
shift 3
QUERIES="$*"
[ -n "$QUERIES" ] || { echo "ERROR: no probe queries named" >&2; exit 1; }
. tools/ab_lib.sh
ab_check_snapshot "$TAG_A"
ab_check_snapshot "$TAG_B"
ab_run_one() { # $1 = binary tag, $2 = pair idx
  SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/tmp/sfpert} \
  java $AB_ADDOPENS -Xmx${SPARK_DRIVER_MEM:-16g} \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "target/bench_cls_${1}:/opt/spark/jars/*" graft.Probe $QUERIES \
    > target/probe_ab_${1}_p${2}.log 2>&1
  rc=$?
  if [ $rc -ne 0 ]; then
    echo "pair $2 $1: FAILED rc=$rc (see target/probe_ab_${1}_p${2}.log)" >&2
    exit $rc
  fi
  echo "pair $2 $1: $(grep '"query"' target/probe_ab_${1}_p${2}.log | tr '\n' ' ')"
}
ab_pairs "$PAIRS" "$TAG_A" "$TAG_B"
