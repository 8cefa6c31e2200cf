#!/usr/bin/env bash
# Run a graft main class via plain java (no sbt lock) with the SAME JVM
# options build.sbt's forked run uses — for tooling runs (ScaleUp, Profile)
# that must not queue behind a long sbt test session. Usage:
#   bench/java_run.sh graft.tools.ScaleUp <srcDir> <dstDir> <factor> [tables] [novelPct]
#   bench/java_run.sh graft.tools.Profile <sfDir> <target>[,<target>...] [passes=2] [planDir]
set -euo pipefail
cd "$(dirname "$0")/.."
CLASSES=target/scala-2.13/classes
[ -d "$CLASSES" ] || { echo "compile first (sbt compile)" >&2; exit 1; }
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Djava.io.tmpdir="${SPARK_GRAFT_TMP:-/dev/shm}" \
  -Dspark.local.dir="${SPARK_GRAFT_SPILL:-/tmp/graft_spill}" \
  -Dderby.system.home=/tmp/graft_derby \
  -Xmx"${SPARK_DRIVER_MEM:-16g}" \
  -XX:ReservedCodeCacheSize=1g \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
