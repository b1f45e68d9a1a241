#!/bin/bash
# One-shot pre-flight of every gate the driver runs: compile, tests,
# oracle verify at two scale factors, bench. Prints a summary line per
# gate; exits non-zero on the first red gate.
set -u
cd "$(dirname "$0")/.."

echo "== compile =="
cout=$(sbt -batch compile 2>&1 | grep -E "^\[error\]|\[success\]" | tail -3)
echo "$cout"
echo "$cout" | grep -q "\[success\]" || { echo "COMPILE FAILED"; exit 1; }

echo "== sbt test =="
out=$(sbt -batch test 2>&1 | grep -E "Tests:|\*\*\*" | tail -2)
echo "$out"
echo "$out" | grep -q "failed 0" || { echo "TESTS FAILED"; exit 1; }

echo "== model-spec soak (4 seeds × COW/MOR/promote-k, 30 steps) =="
sout=$(SPARK_GRAFT_MODEL_SEEDS=101,202,303,404 sbt -batch \
  "testOnly graft.RowLevelModelSpec" 2>&1 | grep -E "Tests:|\*\*\*" | tail -2)
echo "$sout"
echo "$sout" | grep -q "failed 0" || { echo "MODEL SOAK FAILED"; exit 1; }

for sf in sf0.01 sf0.001; do
  echo "== verify $sf =="
  ./tools/run.sh graft.Verify "/root/testdata/$sf" "/tmp/preflight_$sf" \
    >/dev/null 2>"/tmp/preflight_$sf.log"
  res=$(python3 tools/check_oracle.py "/root/testdata/$sf" "/tmp/preflight_$sf" 2>&1 | tail -1)
  echo "$res"
  echo "$res" | grep -q " 0 fail" || { echo "VERIFY $sf FAILED"; exit 1; }
done
# COVERAGE.md's totals line regenerates from the actual inventory so
# it can never drift (VERDICT r17 #8)
python3 tools/update_coverage.py /tmp/preflight_sf0.01

echo "== multi-process catalog contention (+ crash-kill + MOR races) =="
cres=$(./tools/contend.sh 2>&1)
echo "$cres" | grep -E "CONTEND|done"
echo "$cres" | grep -q "CONTEND OK" || { echo "CONTEND FAILED"; exit 1; }
echo "$cres" | grep -q "CONTEND KILL OK" || { echo "CONTEND KILL FAILED"; exit 1; }
echo "$cres" | grep -q "CONTEND MOR OK" || { echo "CONTEND MOR FAILED"; exit 1; }

echo "== bench sf0.1 =="
# Bench writes BENCH_LOCAL.json and tools/bench_attach.json into its cwd
# and may ratchet tools/bench_bands.json: run it from a scratch cwd with
# a copy of the bands file so the tracked files stay untouched.
repo=$(pwd)
bdir=$(mktemp -d /tmp/preflight_bench.XXXXXX)
mkdir -p "$bdir/tools" && cp tools/bench_bands.json "$bdir/tools/"
bjson=$(cd "$bdir" && SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  "$repo/tools/run.sh" graft.Bench 2>/tmp/preflight_bench.log) \
  || { echo "BENCH FAILED (see /tmp/preflight_bench.log)"; exit 1; }
echo "$bjson"
echo "$bjson" | grep -q '"metric":"total"' || { echo "BENCH OUTPUT MALFORMED"; exit 1; }
echo "ALL GATES GREEN"
