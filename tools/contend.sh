#!/bin/bash
# Multi-PROCESS catalog contention gate (VERDICT r12 stretch #8): two
# separate JVMs race committed INSERTs (+ one expire_snapshots) against
# WAP branch-publish cycles on ONE warehouse, then a third process
# asserts nothing was lost or duplicated and the snapshot log is a
# contiguous serializable history. Usage: tools/contend.sh [nWrites nWap]
set -u
cd "$(dirname "$0")/.."
N_W=${1:-16}
N_B=${2:-6}
WH=$(mktemp -d /tmp/graft_contend.XXXXXX)
trap 'rm -rf "$WH" "$WH".*' EXIT

SPARK_DRIVER_MEM=3g ./tools/run.sh graft.ContendMain init "$WH" \
  >/dev/null 2>"$WH.init.log" || { echo "CONTEND INIT FAILED"; cat "$WH.init.log" | tail -5; exit 1; }

SPARK_DRIVER_MEM=3g ./tools/run.sh graft.ContendMain writer "$WH" "$N_W" \
  >"$WH.writer.out" 2>"$WH.writer.log" &
W_PID=$!
SPARK_DRIVER_MEM=3g ./tools/run.sh graft.ContendMain brancher "$WH" "$N_B" \
  >"$WH.brancher.out" 2>"$WH.brancher.log" &
B_PID=$!
wait $W_PID; W_RC=$?
wait $B_PID; B_RC=$?
grep -h "done" "$WH.writer.out" "$WH.brancher.out"
[ $W_RC -eq 0 ] || { echo "CONTEND WRITER FAILED"; tail -5 "$WH.writer.log"; exit 1; }
[ $B_RC -eq 0 ] || { echo "CONTEND BRANCHER FAILED"; tail -5 "$WH.brancher.log"; exit 1; }

SPARK_DRIVER_MEM=3g ./tools/run.sh graft.ContendMain check "$WH" "$N_W" "$N_B" \
  2>"$WH.check.log" | grep "CONTEND OK" \
  || { echo "CONTEND CHECK FAILED"; tail -10 "$WH.check.log"; exit 1; }

# stage 2: crash-kill recovery (VERDICT r13 #4) — SIGKILL a committing
# writer at a RANDOM point, then assert the warehouse recovers: acked
# commits visible exactly once (+ at most one unacked in-flight), history
# contiguous and fully readable, new commits accepted, and the orphan
# sweep reclaims the dead writer's strays (data files AND .tmp metadata).
SPARK_DRIVER_MEM=3g ./tools/run.sh graft.ContendMain victim "$WH" 200 \
  >"$WH.victim.out" 2>"$WH.victim.log" &
V_PID=$!
# Wait for the victim's first acknowledged commit, so the kill always
# lands after at least one: a kill before it would test nothing.
DEADLINE=$((SECONDS + 180))
until grep -q "victim committed" "$WH.victim.out" 2>/dev/null; do
  if ! kill -0 $V_PID 2>/dev/null || [ $SECONDS -ge $DEADLINE ]; then
    kill -9 $V_PID 2>/dev/null; wait $V_PID 2>/dev/null
    echo "CONTEND KILL STAGE INVALID: no acknowledged victim commit"
    tail -5 "$WH.victim.log"; exit 1
  fi
  sleep 0.2
done
# then a random 0-5.9 s lands the kill anywhere in the commit loop
sleep "$((RANDOM % 6)).$((RANDOM % 10))"
kill -9 $V_PID 2>/dev/null
wait $V_PID 2>/dev/null
ACKED=$(grep -c "victim committed" "$WH.victim.out")
SPARK_DRIVER_MEM=3g ./tools/run.sh graft.ContendMain checkkill "$WH" "$ACKED" \
  2>"$WH.checkkill.log" | grep "CONTEND KILL OK" \
  || { echo "CONTEND KILL CHECK FAILED (acked=$ACKED)"; tail -10 "$WH.checkkill.log"; exit 1; }

# stage 3: merge-on-read contention (round 15) — two JVMs race MOR
# DELETEs (sidecar commits), INSERTs, and surgical sidecar rewrites on
# one merge-on-read table; the checker asserts exactly-once effects, a
# contiguous history, and that compaction folds the racing sidecars to
# the identical row set.
N_M=${3:-12}
SPARK_DRIVER_MEM=3g ./tools/run.sh graft.ContendMain morinit "$WH" \
  >/dev/null 2>"$WH.morinit.log" || { echo "CONTEND MOR INIT FAILED"; tail -5 "$WH.morinit.log"; exit 1; }
SPARK_DRIVER_MEM=3g ./tools/run.sh graft.ContendMain mordeleter "$WH" "$N_M" 0 \
  >"$WH.mord0.out" 2>"$WH.mord0.log" &
M0_PID=$!
SPARK_DRIVER_MEM=3g ./tools/run.sh graft.ContendMain mordeleter "$WH" "$N_M" 100 \
  >"$WH.mord1.out" 2>"$WH.mord1.log" &
M1_PID=$!
wait $M0_PID; M0_RC=$?
wait $M1_PID; M1_RC=$?
grep -h "done" "$WH.mord0.out" "$WH.mord1.out"
[ $M0_RC -eq 0 ] || { echo "CONTEND MOR DELETER-0 FAILED"; tail -5 "$WH.mord0.log"; exit 1; }
[ $M1_RC -eq 0 ] || { echo "CONTEND MOR DELETER-100 FAILED"; tail -5 "$WH.mord1.log"; exit 1; }
SPARK_DRIVER_MEM=3g ./tools/run.sh graft.ContendMain checkmor "$WH" "$N_M" \
  2>"$WH.checkmor.log" | grep "CONTEND MOR OK" \
  || { echo "CONTEND MOR CHECK FAILED"; tail -10 "$WH.checkmor.log"; exit 1; }

# stage 4: cross-feature matrix (round 17, VERDICT r16 #8) — two JVMs
# race hidden-partition MERGEs (derived-dir V2 writes + runtime group
# filtering), equality deletes, plain INSERTs AND a mid-race int→bigint
# type promotion on ONE days()-partitioned table; the checker asserts
# exactly-once effects (incl. per-key MERGE increment counts), the
# promotion landed, day pruning stayed exact, history contiguous, and
# compaction is a no-op on the visible rows.
N_H=${4:-8}
SPARK_DRIVER_MEM=3g ./tools/run.sh graft.ContendMain hpinit "$WH" \
  >/dev/null 2>"$WH.hpinit.log" || { echo "CONTEND HP INIT FAILED"; tail -5 "$WH.hpinit.log"; exit 1; }
SPARK_DRIVER_MEM=3g ./tools/run.sh graft.ContendMain hpwriter "$WH" "$N_H" 0 \
  >"$WH.hp0.out" 2>"$WH.hp0.log" &
H0_PID=$!
SPARK_DRIVER_MEM=3g ./tools/run.sh graft.ContendMain hpwriter "$WH" "$N_H" 100 \
  >"$WH.hp1.out" 2>"$WH.hp1.log" &
H1_PID=$!
wait $H0_PID; H0_RC=$?
wait $H1_PID; H1_RC=$?
grep -h "done" "$WH.hp0.out" "$WH.hp1.out"
[ $H0_RC -eq 0 ] || { echo "CONTEND HP WRITER-0 FAILED"; tail -5 "$WH.hp0.log"; exit 1; }
[ $H1_RC -eq 0 ] || { echo "CONTEND HP WRITER-100 FAILED"; tail -5 "$WH.hp1.log"; exit 1; }
SPARK_DRIVER_MEM=3g ./tools/run.sh graft.ContendMain checkhp "$WH" "$N_H" \
  2>"$WH.checkhp.log" | grep "CONTEND HP OK" \
  || { echo "CONTEND HP CHECK FAILED"; tail -10 "$WH.checkhp.log"; exit 1; }
