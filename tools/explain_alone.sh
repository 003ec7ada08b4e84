#!/bin/bash
# Plan dumps that depend on nothing but the gate: one fresh JVM per gate
# runs graft.Explain <sfDir> <gate>, so no earlier gate in the same JVM
# shifts the JVM-global counters a formatted plan prints (expression ids,
# plan ids, RDD ids, lambda variable names). What still differs from run
# to run is masked by tools/plan_mask.sed. Two dumps of the same plan
# then diff clean.
#
# Usage: tools/explain_alone.sh <sfDir> <outDir> <gate>...
# Writes <outDir>/<gate>.txt (the physical plan alone). Compile first
# (sbt compile); classes are read from target/ as tools/run-main.sh does.
set -eo pipefail
cd "$(dirname "$0")/.."
SF=${1:?usage: tools/explain_alone.sh <sfDir> <outDir> <gate>...}
OUT=${2:?usage: tools/explain_alone.sh <sfDir> <outDir> <gate>...}
shift 2
[ $# -gt 0 ] || { echo "usage: tools/explain_alone.sh <sfDir> <outDir> <gate>..." >&2; exit 2; }
mkdir -p "$OUT"
for g in "$@"; do
  raw=$(tools/run-main.sh graft.Explain "$SF" "$g" 2>/dev/null)
  if ! grep -q "^== Physical Plan ==" <<<"$raw"; then
    echo "[explain_alone] no plan for $g:" >&2
    echo "$raw" | tail -5 >&2
    exit 1
  fi
  sed -n '/^== Physical Plan ==/,$p' <<<"$raw" | sed -E -f tools/plan_mask.sed \
    > "$OUT/$g.txt"
  echo "[explain_alone] $g -> $OUT/$g.txt"
done
