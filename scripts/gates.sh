#!/bin/bash
# Release gates for the graft engine. Each stage runs one check, its stdout
# in $OUT/<stage>.log and its stderr in $OUT/<stage>.err; the script exits 1
# and names every stage that failed.
#
#   scripts/gates.sh [--list] [stage ...]     (no stage: the whole chain)
#
# Stages run in chain order whatever order they are named in:
#   tests      sbt test: the tier-1 suites
#   verify     graft.Verify at sf0.01 into $OUT/vout
#   oracle     scripts/check_oracle.py on that dump (DuckDB hash compare)
#   planaudit  graft.PlanAudit: exit 1 on any MISSING/CHECK plan property
#   bench      graft.Bench at sf0.1, three cold-JVM runs; a run fails on a
#              non-zero exit or on errors_n > 0 in its trailing JSON line
#              (bench_run<i>.txt).
#              Assemble the artifact with scripts/assemble_bench.py.
#   slope      graft.SlopeProbe: the x10/x20 slope guard (tiles in
#              /tmp/graft_sf1 and /tmp/graft_sf2)
#   scale10    graft.ScaleBench over every query at x10
#   scale20    graft.ScaleBench over every query at x20
#
# Assets: a chain that includes tests or verify first wipes the asset root
# (~/.cache/graft_assets), so those stages exercise the build path and the
# bench stage then loads what they built. graft.Bench sharing that root
# across runs is intended: a bench-only chain keeps it and measures loads.
# The scale stages pin assets off in their own sessions.
#
# Data is read from $DATA (the README layout), logs go to $OUT
# (${TMPDIR:-/tmp}/graft_gates), and every Spark stage runs on
# SPARK_GRAFT_CPUS cores (default: nproc).
set -u
STAGES=(tests verify oracle planaudit bench slope scale10 scale20)
if [ "${1:-}" = "--list" ]; then printf '%s\n' "${STAGES[@]}"; exit 0; fi

cd "$(dirname "$0")/.." || exit 2
DATA=/root/testdata
OUT="${TMPDIR:-/tmp}/graft_gates"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"

selected=("$@")
[ ${#selected[@]} -eq 0 ] && selected=("${STAGES[@]}")
for s in "${selected[@]}"; do
  [[ " ${STAGES[*]} " == *" $s "* ]] || { echo "unknown stage: $s (see --list)" >&2; exit 2; }
done
wants() { [[ " ${selected[*]} " == *" $1 "* ]]; }

mkdir -p "$OUT"
if wants tests || wants verify; then rm -rf "$HOME/.cache/graft_assets"; fi

stage_bench() {
  local i rc=0
  for i in 1 2 3; do
    echo "  bench run $i load=$(cut -d' ' -f1-3 /proc/loadavg)"
    SPARK_GRAFT_SF_DIR="$DATA/sf0.1" sbt -batch "runMain graft.Bench" \
      > "$OUT/bench_run$i.txt" 2>&1 || rc=1
    grep '"tail":true' "$OUT/bench_run$i.txt" | grep -q '"errors_n":0,' || rc=1
  done
  return $rc
}

run_stage() {
  case "$1" in
    tests)     sbt -batch test ;;
    verify)    sbt -batch "runMain graft.Verify $DATA/sf0.01 $OUT/vout" ;;
    oracle)    python3 scripts/check_oracle.py "$DATA/sf0.01" "$OUT/vout" ;;
    planaudit) sbt -batch "runMain graft.PlanAudit" ;;
    bench)     stage_bench ;;
    slope)     sbt -batch "runMain graft.SlopeProbe" ;;
    scale10)   SPARK_GRAFT_SCALE_QUERIES=all sbt -batch "runMain graft.ScaleBench" ;;
    scale20)   SPARK_GRAFT_SCALE_QUERIES=all SPARK_GRAFT_TILES=20 \
                 SPARK_GRAFT_SCALE_DIR=/tmp/graft_sf2 sbt -batch "runMain graft.ScaleBench" ;;
  esac
}

failed=()
echo "=== gates start $(date +%T) load=$(cut -d' ' -f1-3 /proc/loadavg) out=$OUT"
for s in "${STAGES[@]}"; do
  wants "$s" || continue
  run_stage "$s" > "$OUT/$s.log" 2> "$OUT/$s.err"
  rc=$?
  echo "$s=$rc $(date +%T)"
  [ $rc -eq 0 ] || failed+=("$s")
done
echo "=== gates done $(date +%T) load=$(cut -d' ' -f1-3 /proc/loadavg)"
if [ ${#failed[@]} -gt 0 ]; then echo "FAILED: ${failed[*]}"; exit 1; fi
echo "ALL PASSED"
