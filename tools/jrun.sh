#!/bin/bash
# Direct-JVM runner for graft main classes (no sbt lock/overhead), on the
# compiled classes and resources of the checkout this script sits in
# (`sbt compile` alone does not copy resources into target/).
# Usage: tools/jrun.sh [JVM opts...] -- <mainClass> [args...]
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$ROOT/src/main/resources:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
JVMOPTS=()
while [[ $# -gt 0 && "$1" != "--" ]]; do JVMOPTS+=("$1"); shift; done
shift
exec env LC_ALL=C.UTF-8 java $OPENS -Xmx8g -Dfile.encoding=UTF-8 "${JVMOPTS[@]}" -cp "$CP" "$@"
