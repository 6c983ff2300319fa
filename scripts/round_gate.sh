#!/usr/bin/env bash
# End-of-round gate: run this as the FINAL action of every build round,
# after the last source commit. Exits non-zero unless the suite, the
# oracle drives and the bench pass, and every artifact below is
# committed, complete and describes HEAD's source:
#   FULLDRIVE_r<n>.json  every driver query vs its DuckDB oracle at sf0.1
#   SWEEP_r<n>.json      every oracled extra vs its oracle at sf0.1
#   BENCH_r<n>.json      bench.py's artifact (headline queries, sf0.1)
#   GATE_r<n>.json       the head this GREEN describes
# Two-step flow: the first run writes the missing artifacts and fails at
# the commit check; commit them (artifact-only commits keep the recorded
# heads valid) and the re-run skips those steps and goes green. Timings
# are nondeterministic, so the first recorded bench is the round's;
# delete an artifact to force a re-record. Checks and records live in
# scripts/drive.py.
set -euo pipefail
cd "$(dirname "$0")/.."

: "${ROUND:?set ROUND=<n> (e.g. ROUND=14) so bench output is recorded as BENCH_r<n>.json}"
DRIVE="python scripts/drive.py"
R=$(printf '%02d' "$ROUND")
TESTDATA=/root/testdata  # the fixture dirs, TESTDATA.md

# The GREEN below must describe HEAD, not a tree with uncommitted source.
$DRIVE clean

# README registry counts must match the live import.
python scripts/registry_counts.py --check

# Non-UTC parity: the process TZ and the JVM default in a DST-observing zone.
TZ=America/New_York $DRIVE tz "$TESTDATA/sf0.01"

python -m pytest tests/ -q

# sf0.1 is ten times the driver's correctness SF: float order and
# tie-breaks above the sf0.01 grain only surface here.
[ -f "FULLDRIVE_r$R.json" ] || $DRIVE driver "$TESTDATA/sf0.1"
[ -f "SWEEP_r$R.json" ] || $DRIVE extras "$TESTDATA/sf0.1"

python bench.py
[ -f "BENCH_r$R.json" ] || $DRIVE record BENCH

# Regenerate the plan audit so it cannot trail the registry (the
# generator asserts row count == registry size), and fail when the
# committed one is stale.
python -m scala_data_pipeline_spark.plans.report
git diff --exit-code -- PLAN_AUDIT.md

[ -f "GATE_r$R.json" ] || $DRIVE record GATE

ARTIFACTS="BENCH_r$R.json GATE_r$R.json FULLDRIVE_r$R.json SWEEP_r$R.json"
MISSING=""
for a in $ARTIFACTS; do
  git ls-files --error-unmatch "$a" > /dev/null 2>&1 || MISSING="$MISSING $a"
done
if [ -n "$MISSING" ]; then
  echo "uncommitted gate artifacts:$MISSING — commit them and re-run the gate" >&2
  exit 1
fi
# shellcheck disable=SC2086  # one word per artifact
$DRIVE check $ARTIFACTS
echo "round gate: GREEN"
