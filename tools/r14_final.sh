#!/bin/bash
# Round-14 end-of-round sequence (quiet box required). The canonical
# bench still RUNS first (time-bounded box), but the BENCH_DETAIL.json ->
# BENCH_LOCAL_r14.json PROMOTION is deferred to the end and gated on
# the correctness gates passing, so a gate failure can no longer leave
# a canonical record for a build the round never validated.
#  1. canonical fullEval bench -> BENCH_DETAIL.json (promotion deferred)
#  2. bench_diff vs the r13 canonical baseline (calibration-scaled)
#  3. interleaved A/B (HEAD vs r13-final build) over the top movers
#  4. full-registry Verify + oracle at sf0.1 (once-per-round 10x sweep)
#  5. full-registry Verify + oracle at sf0.01 under MULTI-JVM
#  6. iff 4 AND 5 green: promote BENCH_DETAIL -> BENCH_LOCAL_r14.json
set -u
cd /root/repo
LOG=/tmp/r14_final.log
CL=/tmp/graft_classes_final_r14
R13_COMMIT="${R13_COMMIT:-b568d05}"
rm -rf "$CL"; cp -r target/scala-2.13/classes "$CL"
export GRAFT_CLASSES="$CL"
log() { echo "[$(date +%H:%M:%S)] $*" >> "$LOG"; }

log "=== 0: r13 baseline snapshot ($R13_COMMIT) ==="
if [ ! -d /tmp/graft_classes_r13base ]; then
  rm -rf /tmp/r13_tree
  git worktree add -f /tmp/r13_tree "$R13_COMMIT" >> "$LOG.err" 2>&1
  (cd /tmp/r13_tree && sbt -batch compile) >> "$LOG.err" 2>&1
  cp -r /tmp/r13_tree/target/scala-2.13/classes /tmp/graft_classes_r13base
  git worktree remove --force /tmp/r13_tree >> "$LOG.err" 2>&1 || true
fi

log "=== 1: canonical bench (fullEval, 3-run medians) ==="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  timeout 5400 tools/run_graft.sh graft.Bench \
  > /tmp/bench_r14_final.log 2>&1
BENCH_RC=$?
log "bench rc=$BENCH_RC"
tail -c 600 /tmp/bench_r14_final.log >> "$LOG"

log "=== 2: regression diff vs r13 canonical (calibration-scaled) ==="
python3 tools/bench_diff.py BENCH_LOCAL_r13.json BENCH_DETAIL.json \
  >> "$LOG" 2>&1

log "=== 3: interleaved A/B over the top-10 movers ==="
MOVERS=$(python3 tools/bench_diff.py --movers 10 \
  BENCH_LOCAL_r13.json BENCH_DETAIL.json)
log "movers: $MOVERS"
tools/ab_movers.sh /tmp/graft_classes_r13base "$CL" "$MOVERS" 3 \
  >> "$LOG" 2>>"$LOG.err"

log "=== 4: sf0.1 registry sweep ==="
rm -rf /tmp/verify_sf01_r14
SPARK_GRAFT_CPUS=32 timeout 5400 tools/run_graft.sh graft.Verify \
  /root/testdata/sf0.1 /tmp/verify_sf01_r14 >> "$LOG.err" 2>&1
V1_RC=$?
log "verify rc=$V1_RC"
timeout 5400 tools/sweep_check.sh --hash /root/testdata/sf0.1 \
  /tmp/verify_sf01_r14 15 > /tmp/r14_sf01_check.out 2>>"$LOG.err"
SWEEP_RC=$?   # sweep_check exits non-zero iff any FAIL row
cat /tmp/r14_sf01_check.out >> "$LOG"
log "sf0.1 check rc=$SWEEP_RC"

log "=== 5: multi-JVM registry gate at sf0.01 ==="
rm -rf /tmp/graft_classes && cp -r "$CL" /tmp/graft_classes
GRAFT_CLASSES="$CL" timeout 5400 tools/run_multijvm.sh \
  /root/testdata/sf0.01 /tmp/verify_mjvm_r14 >> "$LOG.err" 2>&1
V2_RC=$?
log "mjvm verify rc=$V2_RC"
python3 tools/check.py /root/testdata/sf0.01 /tmp/verify_mjvm_r14 \
  2>>"$LOG.err" | tail -3 > /tmp/r14_mjvm_check.out
cat /tmp/r14_mjvm_check.out >> "$LOG"
log "mjvm check done"

log "=== 6: gated canonical-bench promotion ==="
# sweep_check's own rc is the sf0.1 zero-fail signal; the mjvm check
# prints "N ok, M fail" — require M == 0 — plus clean verify rcs
if [ "$BENCH_RC" -eq 0 ] && [ "$V1_RC" -eq 0 ] && [ "$V2_RC" -eq 0 ] \
   && [ "$SWEEP_RC" -eq 0 ] \
   && grep -q " 0 fail" /tmp/r14_mjvm_check.out; then
  cp BENCH_DETAIL.json BENCH_LOCAL_r14.json
  log "PROMOTED: BENCH_LOCAL_r14.json is canonical (gates green)"
else
  log "NOT PROMOTED: a gate failed (bench=$BENCH_RC sf0.1=$V1_RC" \
      "sweep=$SWEEP_RC mjvm=$V2_RC) — BENCH_DETAIL.json left unblessed"
fi
log "=== final done ==="
