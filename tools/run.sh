#!/bin/bash
# Fast runner: invoke a graft main class directly on the compiled classes,
# skipping sbt startup. Usage: tools/run.sh graft.Verify <args...>
# Needs `sbt compile` first and SPARK_HOME pointing at the Spark install.
# `sbt compile` does not copy src/main/resources (the connectors'
# DataSourceRegister service file), so the classpath lists it directly.
set -e
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java $OPENS $JAVA_EXTRA -Xmx${SPARK_DRIVER_MEM:-16g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$REPO/target/scala-2.13/classes:$REPO/src/main/resources:${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars/*" "$@"
