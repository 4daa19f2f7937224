#!/bin/bash
# Round bench re-anchor loop: snapshot the compiled classes, run
# graft.Bench on a bare JVM with EXACTLY the flags build.sbt gives the
# sbt-forked run (-Xmx8g default, JDK17 add-opens, UTC, no UI), write
# one target/bench_<tag>_runN.json per iteration. Running outside sbt
# keeps the loop off the sbt server lock so a dev compile can't queue
# behind it, and the per-run class snapshot keeps a mid-run recompile
# from swapping classes under the JVM.
#
# usage: tools/bench_loop.sh <tag> <first-run-idx> <last-run-idx>
#   The session uses SPARK_GRAFT_CPUS cores when the caller sets it,
#   else every core the JVM sees.
set -u
cd /root/repo
TAG=${1:?tag}
i=${2:?first}
END=${3:?last}
. tools/ab_lib.sh
while [ "$i" -le "$END" ]; do
  rm -rf target/bench_cls
  cp -a target/scala-2.13/classes target/bench_cls
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  SPARK_GRAFT_BENCH_OUT=target/bench_${TAG}_run${i}.json \
  java $AB_ADDOPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "target/bench_cls:/opt/spark/jars/*" graft.Bench \
    > target/bench_${TAG}_run${i}.log 2>&1
  echo "run $i done: $(tail -1 target/bench_${TAG}_run${i}.log)"
  i=$((i + 1))
done
