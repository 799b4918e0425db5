#!/bin/bash
# SlowTest tier runner: run the tagged tier and record TIER_r<N>.json
# (test/suite/failure counts, wall time, HEAD). Requires
# `sbt Test/compile` to have run.
# Usage: tools/tier.sh <round> [outfile]
set -eu
ROUND=${1:?usage: tier.sh <round> [outfile]}
OUT=${2:-TIER_r$ROUND.json}
cd /root/repo
LOG=/tmp/tier_r$ROUND.log
T0=$(date +%s)
GRAFT_SLOW_TESTS=1 sbt -batch 'Test/testOnly * -- -n graft.SlowTest' \
  >"$LOG" 2>&1 || true
WALL=$(( $(date +%s) - T0 ))
# no-match greps must not be able to abort the script BEFORE the
# artifact is written — exactly when sbt died early and the artifact
# is most needed. The `| tail -1` already masks grep's status (no
# pipefail here), but that is an accident of the pipeline shape;
# || true makes the don't-abort intent explicit and keeps the
# ${VAR:-default} fallbacks live if the pipelines are ever reshaped
# (r16 advice)
TESTS=$(grep -oP 'Total number of tests run: \K\d+' "$LOG" | tail -1 || true)
SUITES=$(grep -oP 'Suites: completed \K\d+' "$LOG" | tail -1 || true)
FAILED=$(grep -oP 'failed \K\d+' "$LOG" | tail -1 || true)
CANCELED=$(grep -oP 'canceled \K\d+' "$LOG" | tail -1 || true)
HEAD=$(git rev-parse --short HEAD)
cat > "$OUT" <<JSON
{"round":$ROUND,"tag":"graft.SlowTest","command":"GRAFT_SLOW_TESTS=1 sbt Test/testOnly * -- -n graft.SlowTest","suites_completed":${SUITES:-0},"tests":${TESTS:-0},"failed":${FAILED:-999},"canceled":${CANCELED:-0},"wall_sec":$WALL,"head":"$HEAD","date":"$(date +%F)"}
JSON
cat "$OUT"
tail -6 "$LOG" >&2
