#!/usr/bin/env bash
# Query benchmark: runs graft.Bench in a forked JVM so that the last line
# of stdout is its compact JSON headline, raw (under `sbt runMain` sbt
# prefixes it with `[info] ` and prints a `[success]` footer after it).
# The headline is also written to bench_headline.json; the full per-query
# JSON goes to $SPARK_GRAFT_BENCH_OUT (default bench_full.json).
#
#   SPARK_GRAFT_SF_DIR=<fixture dir> SPARK_GRAFT_CPUS=8 ./bench.sh
#
# Every SPARK_GRAFT_* variable graft.Bench reads passes through. The JVM
# flags mirror build.sbt's `javaOptions` (heap SPARK_DRIVER_MEM, default
# 32g; extra flags SPARK_GRAFT_JVM_OPTS, whose collector wins over the
# default ParallelGC).
set -euo pipefail
cd "$(dirname "$0")"

cp=$(sbt -error --batch "export Runtime/fullClasspath" </dev/null | tail -n 1)

opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
read -r -a extra <<< "${SPARK_GRAFT_JVM_OPTS:-}"
gc=(-XX:+UseParallelGC)
for o in "${extra[@]}"; do
  if [[ "$o" == *GC* ]]; then gc=(); fi
done

out=$(mktemp)
trap 'rm -f "$out"' EXIT
java "${opens[@]}" -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-32g}" "${gc[@]}" "${extra[@]}" \
  -cp "$cp" graft.Bench </dev/null | tee "$out"
tail -n 1 "$out" > bench_headline.json
