# Shared scaffolding for the bare-JVM run scripts (bench_ab.sh,
# probe_ab.sh, bench_loop.sh): the JDK-17 module opens Spark needs
# outside spark-submit, the snapshot existence check, and the A/B pair
# loop. The runs inherit SPARK_GRAFT_CPUS from the caller; unset, the
# session uses every core the JVM sees. Source this; do not execute it.

AB_ADDOPENS=""
for _p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
          java.nio java.util java.util.concurrent \
          java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
          sun.security.action sun.util.calendar; do
  AB_ADDOPENS="$AB_ADDOPENS --add-opens java.base/$_p=ALL-UNNAMED"
done

# ab_check_snapshot <tag> — fail fast on a missing class snapshot:
# with only `set -u` a bad -cp makes every java call fail silently and
# each pair still prints a "done" line from the error log's tail.
ab_check_snapshot() {
  if [ ! -d "target/bench_cls_${1}/graft" ]; then
    echo "ERROR: snapshot target/bench_cls_${1} missing or not a" \
      "class tree — build it first (check out the round, sbt compile," \
      "cp -a target/scala-2.13/classes target/bench_cls_${1})" >&2
    exit 1
  fi
}

# ab_pairs <pairs> <tagA> <tagB> — run `ab_run_one <tag> <pairidx>`
# (provided by the caller) alternating A,B per pair.
ab_pairs() {
  local _pairs=$1 _a=$2 _b=$3 _i=1
  while [ "$_i" -le "$_pairs" ]; do
    ab_run_one "$_a" "$_i"
    ab_run_one "$_b" "$_i"
    _i=$((_i + 1))
  done
}
