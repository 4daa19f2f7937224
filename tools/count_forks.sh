#!/bin/sh
# Count the child processes one command line starts for chmod,
# readlink, stat, ls and bash.
#
#   tools/count_forks.sh COMMAND [ARG...]
#
# Puts a logging shim for each of those five commands first on PATH,
# runs the command line, then prints "<name> <calls>" per command to
# stderr and exits with the command's status (its stdout is left as
# it was). Each shim records its name and execs the real binary, so
# the command behaves as without the shims. Only PATH lookups are
# seen: Hadoop's Shell (ProcessBuilder) resolves through PATH, a
# script's "#!/bin/bash" line does not.
#
# Example, one traced benchmark run (build it once first, so sbt's own
# forks are not counted):
#   python3 perfbench/run.py --workload relay_tcp --seed 1 --seconds 20 --trace 0 >/dev/null
#   tools/count_forks.sh python3 perfbench/run.py --workload relay_tcp --seed 1 --seconds 20 --trace 0
set -u
if [ $# -eq 0 ]; then
  echo "usage: $0 COMMAND [ARG...]" >&2
  exit 2
fi
names="chmod readlink stat ls bash"
dir=$(mktemp -d "${TMPDIR:-/tmp}/count_forks.XXXXXX") || exit 2
trap 'rm -rf "$dir"' EXIT
log="$dir/calls.log"
: > "$log"
mkdir "$dir/bin"
for name in $names; do
  real=$(command -v "$name") || continue
  cat > "$dir/bin/$name" <<EOF
#!/bin/sh
echo $name >> "$log"
exec "$real" "\$@"
EOF
  chmod +x "$dir/bin/$name"
done
PATH="$dir/bin:$PATH" "$@"
status=$?
for name in $names; do
  echo "[count_forks] $name $(grep -cx "$name" "$log")" >&2
done
exit $status
