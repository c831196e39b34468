#!/bin/bash
# Direct-JVM runner for graft mains (no sbt boot/lock): tools/run.sh <MainClass> [args...]
# Honors SPARK_DRIVER_MEM like build.sbt. Classpath = compiled classes + Spark jars.
CLS="$1"; shift
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Xmx${SPARK_DRIVER_MEM:-8g} -XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing \
  -cp /root/repo/target/scala-2.13/classes:'/opt/spark/jars/*' "$CLS" "$@"
