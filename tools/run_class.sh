#!/bin/bash
# Run a graft main class directly against the sbt-compiled classes and
# the jars of the Spark install at $SPARK_HOME — no sbt lock, ~10s faster
# startup. Compile first with `sbt -batch compile`.
# Usage: tools/run_class.sh [-mem 12g] [-opts "-XX:..."] graft.Bench [args...]
set -eu
cd "$(dirname "$0")/.."
MEM=12g
EXTRA=""
while [[ $# -gt 0 && "$1" == -* ]]; do
  case "$1" in
    -mem) MEM=$2; shift 2;;
    -opts) EXTRA=$2; shift 2;;
    *) echo "unknown flag $1" >&2; exit 2;;
  esac
done
if [[ $# -eq 0 ]]; then
  echo "usage: tools/run_class.sh [-mem 12g] [-opts \"-XX:...\"] <mainClass> [args...]" >&2
  exit 2
fi
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
ADD_OPENS="$ADD_OPENS --add-opens=java.base/sun.nio.ch=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens=java.base/sun.nio.cs=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens=java.base/sun.security.action=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
exec java -Xmx"$MEM" $ADD_OPENS $EXTRA \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:${SPARK_HOME:-/opt/spark}/jars/*" "$@"
