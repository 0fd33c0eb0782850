#!/bin/bash
# Paired same-window A/B bench: alternate two compiled trees over the same
# key subset (plus an untouched control key) so binary-to-binary deltas can
# be read against the host's window drift (PERF.md: ±30-40% across JVM
# windows on identical code). Usage:
#   paired_bench.sh <beforeClasses> <afterClasses> <keys> <reps> <rounds> <sfDir> <outPrefix>
# Emits <outPrefix>_{before,after}_<round>.json (the full bench metric line).
# Exits non-zero at the first round whose java run fails or does not leave
# exactly one bench_*.json, so a partial round set is never paired.
set -uo pipefail
BEFORE="$1"; AFTER="$2"; KEYS="$3"; REPS="${4:-4}"; ROUNDS="${5:-2}"
SF="${6:-/root/testdata/sf0.1}"; OUT="${7:-/tmp/paired}"
OPENS=(java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
       java.util java.util.concurrent java.util.concurrent.atomic)
FLAGS=()
for p in "${OPENS[@]}"; do FLAGS+=(--add-opens "java.base/$p=ALL-UNNAMED"); done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  FLAGS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
run() { # <classes> <tag> <round>
  local d; d=$(mktemp -d)
  SPARK_GRAFT_ONLY="$KEYS" SPARK_GRAFT_REPS="$REPS" SPARK_GRAFT_SF_DIR="$SF" \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" SPARK_GRAFT_BENCH_DIR="$d" \
  java "${FLAGS[@]}" -Xmx"${SPARK_DRIVER_MEM:-8g}" \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$1:/opt/spark/jars/*" graft.Bench > /dev/null 2>&1
  local rc=$?
  local outs=("$d"/bench_*.json)
  if [ "$rc" -ne 0 ] || [ "${#outs[@]}" -ne 1 ] || [ ! -f "${outs[0]}" ]; then
    echo "[paired] $2 round $3 FAILED: java rc=$rc, bench json: ${outs[*]}" >&2
    rm -rf "$d"
    exit 1
  fi
  cp "${outs[0]}" "${OUT}_$2_$3.json" || { rm -rf "$d"; exit 1; }
  rm -rf "$d"
  echo "[paired] $2 round $3 rc=$rc -> ${OUT}_$2_$3.json"
}
for r in $(seq 1 "$ROUNDS"); do
  run "$BEFORE" before "$r"
  run "$AFTER" after "$r"
done
