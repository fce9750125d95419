#!/bin/bash
# Cross-process multi-writer commit soak (VERDICT r15 #3): two SEPARATE
# JVMs race serial MERGEs into one manifest-bucketed target; legs kill one
# writer at the exact commit point (after the manifest create — commit
# durable, pointer/retention unrun) and just before it (attempt must
# vanish). Verifies dense snapshot ids (exactly-once), zero lost merges,
# per-batch row integrity, and DSv2-connector agreement; a fourth leg races
# two merge-on-read writers with overlapping batches. See
# graft.SoakCommit. Writers run as PLAIN `java` processes (sbt holds a
# project-level lock, so two concurrent `sbt runMain`s would serialize —
# the add-opens set below mirrors build.sbt's).
set -u
cd "$(dirname "$0")/.."
N=${SOAKC_MERGES:-6}

echo "[soakc] compiling..."
sbt -batch compile >/dev/null 2>&1 || { echo "[soakc] compile failed"; exit 1; }

CP="target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
run_jvm() { # args: everything passed to graft.SoakCommit
  java $ADD_OPENS -Xmx2g -Duser.timezone=UTC -cp "$CP" graft.SoakCommit "$@"
}

fail() { echo "[soakc] FAIL: $1"; exit 1; }

# ---- Leg A: two live writers race N merges each --------------------------
DIR=/tmp/graft-soak-commit-a
rm -rf "$DIR"
echo "[soakc] leg A: 2 concurrent writer JVMs x $N merges..."
run_jvm writer "$DIR/t" 0 "$N" > /tmp/soakc_w0.log 2>&1 &
P0=$!
run_jvm writer "$DIR/t" 1 "$N" > /tmp/soakc_w1.log 2>&1 &
P1=$!
wait $P0 || fail "leg A writer 0 exited nonzero"
wait $P1 || fail "leg A writer 1 exited nonzero"
run_jvm verify "$DIR/t" 2 "$N" $((2 * N)) | grep "SOAKC verify PASS" \
  || fail "leg A verify"
echo "[soakc] leg A PASS"

# ---- Leg B: kill writer 0 right AFTER its merge-2 manifest create --------
# The commit IS durable at that instant (pointer unpublished, retention
# unrun); writer 1 keeps merging concurrently and must see/repair it.
# Writer 0 restarts at merge 3 — re-merging merge 2 would burn an extra
# snapshot id and fail the dense-ids check.
DIR=/tmp/graft-soak-commit-b
rm -rf "$DIR"
echo "[soakc] leg B: kill w0 after manifest create of merge 2; w1 live..."
run_jvm writer "$DIR/t" 0 "$N" 2 after > /tmp/soakc_w0b.log 2>&1 &
P0=$!
run_jvm writer "$DIR/t" 1 "$N" > /tmp/soakc_w1b.log 2>&1 &
P1=$!
wait $P0 && fail "leg B writer 0 was supposed to be killed (exit 137)"
wait $P1 || fail "leg B writer 1 exited nonzero"
echo "[soakc] leg B: restarting w0 at merge 3 in a fresh JVM..."
run_jvm writer "$DIR/t" 0 "$N" -1 after 3 > /tmp/soakc_w0b2.log 2>&1 \
  || fail "leg B writer 0 restart"
run_jvm verify "$DIR/t" 2 "$N" $((2 * N)) | grep "SOAKC verify PASS" \
  || fail "leg B verify"
echo "[soakc] leg B PASS"

# ---- Leg C: kill writer 0 just BEFORE its merge-2 manifest create --------
# The attempt must vanish without a trace; the restart re-runs merge 2.
DIR=/tmp/graft-soak-commit-c
rm -rf "$DIR"
echo "[soakc] leg C: kill w0 before manifest create of merge 2; w1 live..."
run_jvm writer "$DIR/t" 0 "$N" 2 before > /tmp/soakc_w0c.log 2>&1 &
P0=$!
run_jvm writer "$DIR/t" 1 "$N" > /tmp/soakc_w1c.log 2>&1 &
P1=$!
wait $P0 && fail "leg C writer 0 was supposed to be killed (exit 137)"
wait $P1 || fail "leg C writer 1 exited nonzero"
echo "[soakc] leg C: restarting w0 at merge 2 in a fresh JVM..."
run_jvm writer "$DIR/t" 0 "$N" -1 after 2 > /tmp/soakc_w0c2.log 2>&1 \
  || fail "leg C writer 0 restart"
run_jvm verify "$DIR/t" 2 "$N" $((2 * N)) | grep "SOAKC verify PASS" \
  || fail "leg C verify"
echo "[soakc] leg C PASS"

# ---- Leg D: two merge-on-read writers, overlapping batches --------------
# One-bucket table: every batch updates the same shared keys, so a writer
# that loses a commit race must recompute the superseded row positions
# against the winner's manifest. The verify replays every snapshot and
# compares the table with the serial Upsert.merge fold in commit order.
DIR=/tmp/graft-soak-commit-d
rm -rf "$DIR"
echo "[soakc] leg D: 2 concurrent merge-on-read writer JVMs x $N overlapping merges..."
run_jvm mor-writer "$DIR/t" 0 "$N" > /tmp/soakc_w0d.log 2>&1 &
P0=$!
run_jvm mor-writer "$DIR/t" 1 "$N" > /tmp/soakc_w1d.log 2>&1 &
P1=$!
wait $P0 || fail "leg D writer 0 exited nonzero"
wait $P1 || fail "leg D writer 1 exited nonzero"
run_jvm mor-verify "$DIR/t" 2 "$N" | grep "SOAKC mor-verify PASS" \
  || fail "leg D verify"
echo "[soakc] leg D PASS"

echo "[soakc] PASS: all legs (concurrency, kill-after-commit, kill-before-commit, merge-on-read)"
