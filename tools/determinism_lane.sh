#!/bin/bash
# Mechanical determinism lane (r16 verdict #1): the sampled-range-boundary
# bug shipped TWICE (Warehouse.withDenseKeyRanged r14, Packing.packSequences
# r16), each time invisible to the sf0.01 DuckDB gate because a reused
# exchange masked it, each time caught only by a hand-written one-off pin.
# This lane makes the check mechanical and recurring: run EVERY gate twice
# in fresh JVMs with spark.sql.adaptive.enabled=false — the configuration
# that defeats exchange reuse, i.e. the one under which an unpinned
# sampled-boundary plan actually diverges (AQE-off experiments on the
# unpinned r16 bug: 40,228 / 40,262 trial-varying mismatches; pinned: 0) —
# and diff full result hashes between the two runs.
#
# Usage: tools/determinism_lane.sh [sfDir] [outJson]
#   default sfDir=/root/testdata/sf0.01, outJson=DETERMINISM_r18.json
# Env: SPARK_GRAFT_VERIFY_ONLY=a,b,c to target a subset while iterating.
set -eo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-DETERMINISM_r18.json}
RUN1=${DET_DIR1:-/tmp/det_run1}
RUN2=${DET_DIR2:-/tmp/det_run2}
rm -rf "$RUN1" "$RUN2" "${RUN1}_aux" "${RUN2}_aux"
echo "[det] run 1 (fresh JVM, AQE off) -> $RUN1"
SPARK_GRAFT_AQE=false tools/run-main.sh graft.Verify "$SF" "$RUN1" 2>/dev/null
echo "[det] run 2 (fresh JVM, AQE off) -> $RUN2"
SPARK_GRAFT_AQE=false tools/run-main.sh graft.Verify "$SF" "$RUN2" 2>/dev/null
# a query that FAILED in either run must read as a lane failure, not a
# silent shrink of the compared set — check the ledgers AND pass the
# expected gate count to the differ (a gate failing identically in both
# runs leaves symmetric dirs that a ledger-less diff would wave through)
check_ledgers() {
  local bad=0 r
  for r in "$@"; do
    if [ -s "${r}_errors.json" ] && [ "$(cat "${r}_errors.json")" != "{}" ]; then
      echo "[det] ERROR: failures in ${r}_errors.json:"; cat "${r}_errors.json"; echo
      bad=1
    fi
  done
  return $bad
}
check_ledgers "$RUN1" "$RUN2"
if [ -n "${SPARK_GRAFT_VERIFY_ONLY:-}" ]; then
  # subset iteration mode: expected = the number of names requested
  EXPECT=$(echo "$SPARK_GRAFT_VERIFY_ONLY" | tr ',' '\n' | grep -c .)
else
  # full surface: the versioned registry snapshot (QueryRegistrySpec
  # keeps it in sync with SparkEntry.queries)
  EXPECT=$(grep -c . tools/query_names.txt)
fi
python3 tools/det_diff.py "$RUN1" "$RUN2" "$OUT" "$EXPECT"

# Targeted big-SF arm (r17, permanent): both historical range-boundary
# bugs only MANIFESTED at sf1+ (boundary placement is partition-count-
# dependent), so the full-surface sf0.01 lane alone cannot certify the
# bug class. Re-run the gates whose plans contain a sampled-range site —
# keep this list in sync with RangeExchangeAuditSpec's printed inventory
# (Warehouse.rangedRunningSum -> w1 and ds4 through withDenseKeyRanged,
# ds3 and cur5 through Packing.packSequences; Clustering.clusteredWrite
# -> z1) —
# twice at RANGE_SF_DIR (default testdata/sf1; HARD FAIL if absent:
# regenerate with ScaleGen — a silently skipped arm is not a lane pass).
RANGE_SF=${RANGE_SF_DIR:-testdata/sf1}
RANGE_GATES=w1_surrogate_keys,ds3_sequence_packing,ds4_doc_shuffle,cur5_curation_chain,z1_zorder_cluster
RANGE_EXPECT=5
if [ -d "$RANGE_SF" ]; then
  # artifact name aligned with the committed name of record (r17 advice:
  # the old _sf1arm suffix never refreshed the DETERMINISM_sf1_r{N}.json
  # the docs point at): DETERMINISM_r18.json -> DETERMINISM_sf1_r18.json
  ROUT="$(dirname "$OUT")/$(basename "$OUT" | sed 's/^DETERMINISM_/DETERMINISM_sf1_/')"
  R1=${DET_DIR1:-/tmp/det_run1}_sf1arm; R2=${DET_DIR2:-/tmp/det_run2}_sf1arm
  rm -rf "$R1" "$R2"
  echo "[det] sf1 range arm, run 1 -> $R1"
  SPARK_GRAFT_VERIFY_ONLY=$RANGE_GATES SPARK_GRAFT_AQE=false \
    tools/run-main.sh graft.Verify "$RANGE_SF" "$R1" 2>/dev/null | tail -1
  echo "[det] sf1 range arm, run 2 -> $R2"
  SPARK_GRAFT_VERIFY_ONLY=$RANGE_GATES SPARK_GRAFT_AQE=false \
    tools/run-main.sh graft.Verify "$RANGE_SF" "$R2" 2>/dev/null | tail -1
  check_ledgers "$R1" "$R2"
  python3 tools/det_diff.py "$R1" "$R2" "$ROUT" "$RANGE_EXPECT"
else
  echo "[det] ERROR: $RANGE_SF absent — the sf1 range arm is a permanent"
  echo "      lane step (regenerate with graft.tools.ScaleGen first)." >&2
  exit 4
fi
