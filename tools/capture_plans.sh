#!/bin/bash
# Capture .explain("formatted") for every registered query into
# plans/<tag>/<query>_<suffix>.txt (one file per query; plans/ is
# git-ignored scratch), via graft.Explain against a class snapshot.
# Usage:
#   tools/capture_plans.sh <tag> <suffix> [query ...]
# e.g. tools/capture_plans.sh stamp before          # all queries
#      tools/capture_plans.sh stamp after m4_reorg_flagship
# Env: GRAFT_CLASSES (class snapshot), SPARK_GRAFT_SF_DIR (default
# sf0.001 — plan SHAPE is SF-independent; the tiny SF keeps the
# harness-running queries cheap).
set -u
TAG="$1"; SUF="$2"; shift 2
cd /root/repo
OUT="plans/$TAG"
mkdir -p "$OUT"
if [ $# -gt 0 ]; then QUERIES="$*"; else
  QUERIES=$(GRAFT_CLASSES="${GRAFT_CLASSES:-/tmp/graft_classes}" \
    tools/run_graft.sh graft.ListQueries 2>/dev/null)
fi
# one Explain process for all queries (session reuse), split by marker.
# close(f) per marker: without it awk holds one fd per query (~160),
# and non-gawk awks with low fd caps would silently truncate captures.
tools/run_graft.sh graft.Explain $QUERIES 2>/dev/null \
  | awk -v out="$OUT" -v suf="$SUF" '
    /^===== .* =====$/ {
      if (f) close(f)
      name=$2; f=out "/" name "_" suf ".txt"; next
    }
    f { print > f }
    END { if (f) close(f) }'
N=$(ls "$OUT" | grep -c "_$SUF.txt$")
echo "captured: $N plans under $OUT"
if [ "$N" -eq 0 ]; then
  echo "capture_plans.sh: zero plans captured — Explain failed?" >&2
  exit 1
fi
