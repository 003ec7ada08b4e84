#!/bin/bash
# Run a graft main class directly (faster than sbt run). Test classes are
# on the classpath too, so the comparator pins in src/test run the same way.
# Usage: tools/run-main.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
#        tools/run-main.sh graft.tools.LloydPin <sfDir>
set -e
cd "$(dirname "$0")/.."
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
# GRAFT_JAVA_OPTS: extra JVM flags (GC logging, collector choice) for experiments
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} ${GRAFT_JAVA_OPTS:-} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:target/scala-2.13/test-classes:/opt/spark/jars/*" "$@"
