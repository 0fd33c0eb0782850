#!/bin/bash
# Paired same-window A/B bench: alternate two compiled trees over the same
# key subset (plus an untouched control key) so binary-to-binary deltas can
# be read against the host's window drift (PERF.md: ±30-40% across JVM
# windows on identical code). Usage:
#   paired_bench.sh <beforeClasses> <afterClasses> <keys> <reps> <rounds> <sfDir> <outPrefix>
# Emits <outPrefix>_{before,after}_<round>.json (the full bench metric line).
# Each run goes through run_main.sh (JVM flags) with the tree's classes dir.
# Exits non-zero at the first round whose java run fails or does not leave
# exactly one bench_*.json, so a partial round set is never paired.
set -uo pipefail
BEFORE="$1"; AFTER="$2"; KEYS="$3"; REPS="${4:-4}"; ROUNDS="${5:-2}"
SF="${6:-/root/testdata/sf0.1}"; OUT="${7:-/tmp/paired}"
HERE="$(cd "$(dirname "$0")" && pwd)"
run() { # <classes> <tag> <round>
  local d; d=$(mktemp -d)
  SPARK_GRAFT_ONLY="$KEYS" SPARK_GRAFT_REPS="$REPS" SPARK_GRAFT_SF_DIR="$SF" \
  SPARK_GRAFT_BENCH_DIR="$d" "$HERE/run_main.sh" -cp "$1" graft.Bench > /dev/null 2>&1
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
