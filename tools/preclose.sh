#!/bin/bash
# Standing pre-close checklist (VERDICT r7 item 6, operationalized).
# Run from /root/repo before ending a round; every gate must pass on
# the FINAL surface. Writes the round-close artifacts the next judge
# reads. Usage: bash tools/preclose.sh r8
set -u
TAG="${1:?usage: preclose.sh <round-tag, e.g. r8>}"
cd /root/repo
fail=0

step() { echo; echo "=== $1 ==="; }

step "1/9 bench sf0.1 (band-flagged; FIRST, before the JVM-churning
# sweeps — VERDICT r14 item 6: the r14 close board carried ~17
# load-adjacency exceedances purely from running after three full
# sweeps + robustness on the same box)"
python tools/bench_band.py --sf 0.1 --n 8 || fail=1
python bench.py > "/tmp/bench_${TAG}_close.json" 2>/tmp/bench_close.err || fail=1
grep "^# regressions\|^# above-band" /tmp/bench_close.err || true
python - "$TAG" <<'EOF2'
import json, sys
d = json.load(open(f"/tmp/bench_{sys.argv[1]}_close.json"))
print(f"bench: {d['value']}s over {len(d['queries'])} queries "
      f"(mean {d['value']/len(d['queries']):.3f}s)")
EOF2

step "2/9 full pytest (tests/ and perfbench/)"
python -m pytest tests/ -q 2>&1 | tail -2 | tee /tmp/preclose_pytest.txt
# pytest's own exit status, not a grep of its summary: "1 failed, 391
# passed" contains "passed"
[ "${PIPESTATUS[0]}" -eq 0 ] || fail=1
# the benchmark's own tests (perfbench/test_perfbench.py), same rule
python -m pytest perfbench -q 2>&1 | tail -2 | tee -a /tmp/preclose_pytest.txt
[ "${PIPESTATUS[0]}" -eq 0 ] || fail=1

step "3/9 oracle sweep sf0.001"
python tools/check_oracle.py /root/testdata/sf0.001 > "CORRECTNESS_LOCAL_${TAG}_sf0001.txt" 2>&1
tail -2 "CORRECTNESS_LOCAL_${TAG}_sf0001.txt"
grep -q "ALL OK" "CORRECTNESS_LOCAL_${TAG}_sf0001.txt" || fail=1

step "4/9 oracle sweep sf0.01"
python tools/check_oracle.py /root/testdata/sf0.01 > "CORRECTNESS_LOCAL_${TAG}_sf001.txt" 2>&1
tail -2 "CORRECTNESS_LOCAL_${TAG}_sf001.txt"
grep -q "ALL OK" "CORRECTNESS_LOCAL_${TAG}_sf001.txt" || fail=1

step "5/9 oracle sweep sf0.1"
python tools/check_oracle.py /root/testdata/sf0.1 > "CORRECTNESS_LOCAL_${TAG}_sf01.txt" 2>&1
tail -2 "CORRECTNESS_LOCAL_${TAG}_sf01.txt"
grep -q "ALL OK" "CORRECTNESS_LOCAL_${TAG}_sf01.txt" || fail=1

step "6/9 degenerate robustness (empty + single + nulls)"
for mode in empty single nulls; do
  python tools/make_degenerate.py "/tmp/degen_$mode" "$mode" > /dev/null
  python tools/robustness_sweep.py "/tmp/degen_$mode" > "/tmp/preclose_robust_$mode.txt" 2>&1 \
    || fail=1
  tail -2 "/tmp/preclose_robust_$mode.txt" | head -1
done

step "7/9 plan regen (PLANS.md over the full surface)"
python tools/dump_plans.py > /tmp/preclose_plans.txt 2>&1 || fail=1
tail -2 /tmp/preclose_plans.txt

step "8/9 certification cross-check (driver rows vs local sweeps)"
python tools/certification_check.py "$TAG" > /tmp/preclose_cert.txt 2>&1 || fail=1
tail -4 /tmp/preclose_cert.txt

step "9/9 PLANS.md freshness (no source edit may postdate the dump)"
stale=$(find data_lake_for_citi_bike_trip_spark __spark_entry__.py bench.py \
        -name '*.py' -newer PLANS.md 2>/dev/null | head -5)
if [ -n "$stale" ]; then
  echo "STALE: PLANS.md predates source edits — rerun tools/dump_plans.py:"
  echo "$stale"
  fail=1
else
  echo "fresh: PLANS.md newer than every source file"
fi

echo
if [ "$fail" -eq 0 ]; then echo "PRECLOSE: ALL GATES GREEN"; else echo "PRECLOSE: FAILURES ABOVE"; fi
exit $fail
