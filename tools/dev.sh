#!/bin/bash
# Fast dev runner: uses sbt-compiled classes directly (no sbt startup tax).
# Usage: tools/dev.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
set -e
cd "$(dirname "$0")/.."
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ADDOPENS="$ADDOPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED"
ADDOPENS="$ADDOPENS --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
ADDOPENS="$ADDOPENS --add-opens java.base/sun.security.action=ALL-UNNAMED"
ADDOPENS="$ADDOPENS --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java $ADDOPENS $JAVA_EXTRA \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:target/scala-2.13/test-classes:/opt/spark/jars/*" \
  "$@"
