#!/usr/bin/env bash
# Builds the benchmark once per checkout, then runs one workload:
#
#   bash perfbench/run.sh --workload <name> --seed <n> --seconds <s> --trace <0|1>
#
# Run from the repository root or anywhere else; every file it writes
# (build output, generated inputs, Spark scratch) stays inside the
# checkout. The last line of stdout is the JSON result; build and Spark
# logs go to stderr.
set -euo pipefail

root="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
cd "$root"
if [[ ! -d src/main/scala/graft ]]; then
  echo "perfbench: engine sources (src/main/scala/graft) not found under $root" >&2
  exit 2
fi

# The engine's only dependencies are the Spark jars (the directory the
# root build names as unmanagedBase, or $SPARK_HOME/jars), which also
# carry the Scala 2.13 compiler, so the build is one scalac call: no sbt,
# no dependency cache, nothing written outside the checkout.
if [[ -n ${SPARK_HOME:-} ]]; then
  jars="$SPARK_HOME/jars"
else
  jars="$(sed -n 's/^unmanagedBase := file("\(.*\)").*/\1/p' build.sbt)"
fi
if ! compgen -G "$jars/scala-compiler-2.13.*.jar" > /dev/null; then
  echo "perfbench: no Spark jars with a Scala 2.13 compiler under $jars" >&2
  exit 2
fi

out=.bench_build/perfbench
classes=$out/classes
stamp=$out/classes.stamp
mkdir -p "$out/tmp"

# JVM flags for every java call: no perf-data files in /tmp
jflags=(-XX:-UsePerfData "-Djava.io.tmpdir=$root/$out/tmp")

stale() {
  [[ ! -f $stamp ]] ||
    [[ -n "$(find src/main perfbench/src/main -newer "$stamp" -print -quit)" ]]
}

if stale; then
  rm -rf "$classes" "$classes.new" "$stamp"
  mkdir -p "$classes.new"
  find src/main/scala perfbench/src/main/scala -name '*.scala' | sort > "$out/sources.txt"
  if ! java "${jflags[@]}" -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main \
      -usejavacp -nowarn -d "$classes.new" "@$out/sources.txt" \
      > "$out/build.log" 2>&1; then
    cat "$out/build.log" >&2
    echo "perfbench: build failed" >&2
    exit 3
  fi
  mv "$classes.new" "$classes"
  touch "$stamp"
fi

# Spark honours SPARK_LOCAL_DIRS over its conf; keep scratch in the checkout
unset SPARK_LOCAL_DIRS

opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch \
    sun.nio.cs sun.security.action sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done

exec java "${opens[@]}" "${jflags[@]}" -Xms3g -Xmx3g -XX:+UseG1GC \
  -cp "$classes:$jars/*" perfbench.Main "$@"
