#!/bin/bash
# The executed plan of every parquet write a gate makes, as a
# QueryExecutionListener sees it (graft.tools.WritePlans), with one fresh
# JVM per gate and run-to-run ids masked by tools/plan_mask.sed, so two
# commits' dumps diff clean unless a write's plan changed.
#
# Usage: tools/write_plans_alone.sh <sfDir> <outDir> <gate>...
# Writes <outDir>/<gate>.txt. WritePlans is test-scope: compile first
# (sbt Test/compile); classes are read from target/ as tools/run-main.sh
# does.
set -eo pipefail
cd "$(dirname "$0")/.."
SF=${1:?usage: tools/write_plans_alone.sh <sfDir> <outDir> <gate>...}
OUT=${2:?usage: tools/write_plans_alone.sh <sfDir> <outDir> <gate>...}
shift 2
[ $# -gt 0 ] || { echo "usage: tools/write_plans_alone.sh <sfDir> <outDir> <gate>..." >&2; exit 2; }
mkdir -p "$OUT"
for g in "$@"; do
  raw=$(tools/run-main.sh graft.tools.WritePlans "$SF" "$g" 2>/dev/null)
  if ! grep -q "^== Physical Plan ==" <<<"$raw"; then
    echo "[write_plans_alone] no plans for $g:" >&2
    echo "$raw" | tail -5 >&2
    exit 1
  fi
  sed -n '/^== Physical Plan ==/,$p' <<<"$raw" | sed -E -f tools/plan_mask.sed > "$OUT/$g.txt"
  echo "[write_plans_alone] $g -> $OUT/$g.txt"
done
