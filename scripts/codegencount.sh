#!/bin/bash
# Counts the classes Spark's code generator compiles while a command runs,
# and the Janino time they took.
#
#   scripts/codegencount.sh [--log FILE] <cmd...>
#
# Runs <cmd> with JAVA_TOOL_OPTIONS pointing log4j2 at a temporary config
# that writes only `CodeGenerator`'s INFO lines ("Code generated in N ms",
# one per compile, i.e. per cache miss) to a file; the root logger stays at
# WARN on stderr. Spark's `setLogLevel` sets only the root logger, so a
# program that lowers it to ERROR is still counted. Every JVM <cmd> starts
# picks the options up. Prints `<count> compiles` and `<ms> ms` to stderr
# and exits with <cmd>'s exit code. `--log FILE` keeps the raw log, one
# `<epoch ms> Code generated in N ms` line per compile, e.g. to count only
# the compiles inside a timed window.
set -u
KEEP=""
if [ "${1:-}" = "--log" ]; then KEEP="$2"; shift 2; fi
[ $# -gt 0 ] || { echo "usage: $0 [--log FILE] <cmd...>" >&2; exit 2; }
D=$(mktemp -d /tmp/codegencount.XXXXXX)
trap 'rm -rf "$D"' EXIT
: > "$D/log"
cat > "$D/log4j2.properties" <<EOF
rootLogger.level = warn
rootLogger.appenderRef.stderr.ref = stderr
appender.stderr.type = Console
appender.stderr.name = stderr
appender.stderr.target = SYSTEM_ERR
appender.stderr.layout.type = PatternLayout
appender.stderr.layout.pattern = %d{yy/MM/dd HH:mm:ss} %p %c{1}: %m%n%ex
appender.codegen.type = File
appender.codegen.name = codegen
appender.codegen.fileName = $D/log
appender.codegen.append = true
appender.codegen.layout.type = PatternLayout
appender.codegen.layout.pattern = %d{UNIX_MILLIS} %m%n
logger.codegen.name = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
logger.codegen.level = info
logger.codegen.additivity = false
logger.codegen.appenderRef.codegen.ref = codegen
EOF
JAVA_TOOL_OPTIONS="${JAVA_TOOL_OPTIONS:+$JAVA_TOOL_OPTIONS }-Dlog4j2.configurationFile=$D/log4j2.properties" "$@"
rc=$?
awk '/ Code generated in [0-9.]+ ms$/ { n++; ms += $(NF - 1) }
     END { printf "%d compiles\n%.0f ms\n", n, ms }' "$D/log" >&2
[ -z "$KEEP" ] || cp "$D/log" "$KEEP"
exit $rc
