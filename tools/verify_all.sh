#!/usr/bin/env bash
# Full local correctness gate — the one-command recipe for what the round
# driver will do, plus the type gates (VERDICT r9 #4).
#
#   tools/verify_all.sh [workDir]
#
# Runs, exiting non-zero on the FIRST failure:
#   1. sbt compile + full test suite
#   2. the benchmark program (perfbench/) compiled against the engine, so a
#      deleted or renamed engine signature it uses fails here, before any
#      bench run (SPARK_HOME defaults to /opt/spark)
#   3. graft.Verify + ORDERED oracle_check on sf0.001, sf0.01, and the
#      adversarial layout fixture (generated if absent)
#   4. type_audit.py on sf0.01 (zero flags required)
#   5. test_type_gate.py (pins the HUGEINT red-pre/green-post class)
#
# Not included (run separately, they take ~10 min each): the sf0.1 bench
# (graft.Bench) and the x50 scale probes (graft.ScaleCheck).
set -euo pipefail
cd "$(dirname "$0")/.."
WORK="${1:-/tmp/verify_all}"
# fixture root is overridable so the gate runs on any machine layout
# (TESTDATA_DIR also steers the TestSpark-based specs in sbt test)
TESTDATA="${TESTDATA_DIR:-/root/testdata}"
mkdir -p "$WORK"

echo "== 1/5 sbt compile + test =="
sbt -batch compile test

echo "== 2/5 perfbench compiles against the engine =="
(cd perfbench && SPARK_HOME="${SPARK_HOME:-/opt/spark}" sbt -batch -Dsbt.offline=true compile)

echo "== 3/5 oracle sweeps (ordered) =="
if [ ! -d testdata-adv ]; then
  python3 tools/make_adversarial.py
fi
for fixture in "$TESTDATA/sf0.001" "$TESTDATA/sf0.01" "$PWD/testdata-adv"; do
  out="$WORK/$(basename "$fixture")"
  echo "-- Verify + oracle_check: $fixture -> $out"
  sbt -batch "runMain graft.Verify $fixture $out"
  python3 tools/oracle_check.py "$fixture" "$out" --ordered
done

# sf0.1 stress leg — DEFAULT ON since r12 (VERDICT r11 #4): the sweep is
# 10x the driver's fixture and is what exposed the r11 half-tie class
# (quality/luma/freq float rounds) that sf0.01 + adversarial never trip.
# Slow (~25 min); VERIFY_SF01=0 opts out for quick iteration loops.
if [ "${VERIFY_SF01:-1}" = "1" ]; then
  echo "-- Verify + oracle_check (stress): $TESTDATA/sf0.1 -> $WORK/sf0.1"
  sbt -batch "runMain graft.Verify $TESTDATA/sf0.1 $WORK/sf0.1"
  python3 tools/oracle_check.py "$TESTDATA/sf0.1" "$WORK/sf0.1" --ordered
fi

echo "== 4/5 type audit (sf0.01) =="
python3 tools/type_audit.py "$TESTDATA/sf0.01" "$WORK/sf0.01"

echo "== 5/5 type-gate regression pin =="
python3 tools/test_type_gate.py

echo "== verify_all: ALL GREEN =="
