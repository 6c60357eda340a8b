#!/bin/bash
# Counts the processes a command starts of the kinds Hadoop's pure-Java
# local file system forks (chmod, readlink, stat, ls, chown, df).
#
#   scripts/forkcount.sh [--log FILE] <cmd...>
#
# Runs <cmd> with PATH shims that log each call and exec the real tool,
# then prints one `<count> <tool>` line per tool and a `total` line to
# stderr. Exits with <cmd>'s exit code. `--log FILE` keeps the raw log,
# one `<epoch µs> <tool>` line per call, e.g. to count only the calls
# inside a timed window. JVMs resolve these tools through PATH, so every
# JVM <cmd> starts is counted.
set -u
KEEP=""
if [ "${1:-}" = "--log" ]; then KEEP="$2"; shift 2; fi
[ $# -gt 0 ] || { echo "usage: $0 [--log FILE] <cmd...>" >&2; exit 2; }
D=$(mktemp -d /tmp/forkcount.XXXXXX)
trap 'rm -rf "$D"' EXIT
mkdir "$D/bin"
: > "$D/log"
TOOLS="chmod readlink stat ls chown df"
for t in $TOOLS; do
  real=$(command -v "$t") || continue
  # EPOCHREALTIME is a bash builtin: the shim starts no process of its own
  printf '#!/bin/bash\necho "${EPOCHREALTIME/./} %s" >> "%s"\nexec %s "$@"\n' \
    "$t" "$D/log" "$real" > "$D/bin/$t"
  /bin/chmod +x "$D/bin/$t"
done
PATH="$D/bin:$PATH" "$@"
rc=$?
for t in $TOOLS; do
  echo "$(grep -c " $t\$" "$D/log") $t"
done >&2
echo "$(wc -l < "$D/log") total" >&2
[ -z "$KEEP" ] || cp "$D/log" "$KEEP"
exit $rc
