#!/bin/sh
# Count the classes Spark generates and compiles while one command line
# runs, in total and per 5 s of JVM uptime.
#
#   tools/count_codegen.sh COMMAND [ARG...]
#
# Sets -Xlog:class+load through JAVA_TOOL_OPTIONS, so every JVM the
# command starts logs its class loads to a file of its own, runs the
# command line, then prints to stderr, per JVM, the number of
# org.apache.spark.sql.catalyst.expressions.GeneratedClass loads (Spark
# defines one per Janino compilation; a codegen cache hit loads none)
# and the same count per 5 s bucket of uptime. Exits with the command's
# status; its stdout is left as it was.
#
# Example, one benchmark run (build it once first, so sbt's own JVM is
# not started, and counted, inside the measured command):
#   python3 perfbench/run.py --workload corpus_batch --seed 1 --seconds 20 --trace 0 >/dev/null
#   tools/count_codegen.sh python3 perfbench/run.py --workload corpus_batch --seed 1 --seconds 20 --trace 0
set -u
if [ $# -eq 0 ]; then
  echo "usage: $0 COMMAND [ARG...]" >&2
  exit 2
fi
dir=$(mktemp -d "${TMPDIR:-/tmp}/count_codegen.XXXXXX") || exit 2
trap 'rm -rf "$dir"' EXIT
JAVA_TOOL_OPTIONS="${JAVA_TOOL_OPTIONS:-} -Xlog:class+load=info:file=$dir/%p.log:uptime" \
  "$@"
status=$?
for log in "$dir"/*.log; do
  [ -e "$log" ] || continue
  pid=$(basename "$log" .log)
  # lines look like: [12.345s] org.apache...GeneratedClass source: __JVM_DefineClass__
  awk -v pid="$pid" '
    $2 == "org.apache.spark.sql.catalyst.expressions.GeneratedClass" {
      t = substr($1, 2, length($1) - 3) + 0
      b = int(t / 5); n[b]++; total++; if (b > last) last = b
    }
    END {
      printf "[count_codegen] pid %s: %d generated classes\n", pid, total
      for (b = 0; b <= last && total > 0; b++)
        printf "[count_codegen]   %d-%ds %d\n", b * 5, b * 5 + 5, n[b]
    }' "$log" >&2
done
exit $status
