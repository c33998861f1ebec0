#!/usr/bin/env bash
# Full local CI for the graft engine: everything the driver will run,
# plus the test suite and plan audit. Exits nonzero on any failure.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== tests =="
sbt -batch test 2>&1 | grep -E "Tests: succeeded|\*\*\* FAILED" | tail -2

echo "== verify + oracle @ sf0.01 =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gauntlet_001" >/dev/null 2>&1
python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/gauntlet_001 | tail -1

echo "== verify + oracle @ sf0.001 (smoke) =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/gauntlet_0001" >/dev/null 2>&1
python3 tools/check_oracle.py /root/testdata/sf0.001 /tmp/gauntlet_0001 | tail -1

echo "== plan audit (executed: runtime joins + codegen coverage; cartesian check) =="
sbt -batch "runMain graft.Explain all /root/testdata/sf0.01 exec" 2>&1 \
  | grep "\[audit\]" > /tmp/gauntlet_audit.txt
# `! grep` is exempt from `set -e`, so the gate exits explicitly
if grep -E "cart=|FAILED" /tmp/gauntlet_audit.txt; then exit 1; fi
echo "no cartesians, no failures"
# informational (not a gate — empty-at-this-SF results collapse to
# EmptyRelation with nothing to codegen): queries with no codegen span
grep -v "wscg=" /tmp/gauntlet_audit.txt \
  | sed 's/^.*\[audit\] /[no-codegen] /' || true

echo "== benchmark self-tests (perfbench compiles and calls the engine sources) =="
python3 perfbench/test_bench.py

echo "== benchmark, uncorrupted and traced: every workload passes its checks and does no more work =="
# Exact work counters: on seed 1 these are identical run to run, unlike
# wall time, so a change that adds a Spark job, a task, a SQL execution
# or a written byte fails here. tools/work_counters.json holds the
# recorded values (warehouse_queries: per-query averages over the 12
# queries a seed-1 run draws). Two workloads are the exception, and
# the file holds their higher values: in corpus_curation identical
# runs give either 83 jobs / 290 tasks or 85 / 292 (two AQE stage jobs
# inside the ivfPqTopK collect come and go); event_fold folds one or
# two batches in its 2 s window, and its bytes-written and shuffle
# means per batch depend on which (114,109 / 335,696 for one batch,
# 125,059.5 / 371,040 for two).
# A change that lowers a counter lowers its recorded value; one that
# raises a counter says why.
for w in citybike_load warehouse_queries corpus_curation event_fold; do
  python3 perfbench/run.py --workload "$w" --seed 1 --seconds 2 --trace 1 2>/dev/null | tail -1 \
    | python3 -c '
import json, sys
w = sys.argv[1]
r = json.loads(sys.stdin.read())
print("%s: correct=%s failed=%d/%d" % (w, r["correct"], r["failed"], r["attempted"]))
ok = r["correct"] is True and r["failed"] == 0
def show(v):
    return "%d" % v if float(v).is_integer() else "%.4f" % v
for k, recorded in json.load(open("tools/work_counters.json"))[w].items():
    got = r["metrics"][k]["value"]
    above = got > recorded
    print("  %s %s (recorded %s)%s" % (k, show(got), show(recorded), " ABOVE" if above else ""))
    ok = ok and not above
sys.exit(0 if ok else 1)' "$w"
done
