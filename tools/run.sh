#!/bin/bash
# Run a graft main class directly (no sbt JVM/launch overhead).
# Usage: tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
# The Scala library comes from the Spark jar directory (the version build.sbt
# compiles with); core-site.xml (graft's file: filesystem) from the resources,
# which `sbt compile` alone does not copy into the classes directory.
MAIN="$1"; shift
REPO="$(cd "$(dirname "$0")/.." && pwd)"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
# Serial GC + small pages: this microVM has very slow first-touch page
# faults; see build.sbt javaOptions comment.
exec java $ADD_OPENS -Xms256m -Xmx${SPARK_DRIVER_MEM:-8g} -XX:+UseSerialGC \
  -Dspark.buffer.pageSize=4m $JAVA_EXTRA \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "${GRAFT_CLASSES:-$REPO/target/scala-2.13/classes}:$REPO/src/main/resources:/opt/spark/jars/*" \
  "$MAIN" "$@"
