#!/bin/bash
# Round-close evidence hygiene (rounds 6-8 verdicts): every driver-written
# artifact must be TRACKED AND COMMITTED before the round snapshot, or the
# round's evidence is invisible to the next session.
#
# Usage: tools/round_close.sh [round-number]
# With no args, checks; with a round number, stages + commits the artifacts.
set -e
cd "$(dirname "$0")/.."

DIRTY=0

# --- Connect FULL-sweep gate (round-16 ADVICE) ------------------------
# The parity sweep samples 1-in-9 by default (suite time-box); the FULL
# 288-query sweep is a once-per-round gate:
#   GRAFT_CONNECT_FULL=1 sbt -batch "testOnly graft.ConnectWireSpec"
# The spec leaves a completion marker; verify it exists and is fresh
# (this round's work, not a stale one) instead of trusting a comment.
MARKER=target/connect-full-sweep.json
if [ ! -f "$MARKER" ]; then
  echo "MISSING: $MARKER — run GRAFT_CONNECT_FULL=1 sbt -batch 'testOnly graft.ConnectWireSpec'"
  DIRTY=1
elif [ -n "$(find "$MARKER" -mmin +1440)" ]; then
  echo "STALE: $MARKER is >24h old — re-run the full Connect sweep for this round"
  DIRTY=1
else
  echo "connect-full-sweep: $(cat "$MARKER")"
fi

# --- REAL?-flag auto-adjudication (round-16 verdict item #3) ----------
# Run bench_flags on the latest gate bench; any flags trigger a solo
# quiet re-bench of exactly the flagged queries, recorded back into the
# bench JSON. A confirmed (still->2x-when-quiet) regression fails the
# close.
BENCH_LATEST=$(ls BENCH_r*.json 2>/dev/null | sort -V | tail -1)
# the driver-written wrapper carries only the stdout line's contract
# scalars (or parsed: null for older, truncated tails); the committed
# bench_last.json holds the same run's per-query record
if [ -n "$BENCH_LATEST" ] && \
   ! python3 -c "import json, sys; d = json.load(open('$BENCH_LATEST')); sys.exit(0 if (d.get('queries') or (d.get('parsed') or {}).get('queries')) else 1)" 2>/dev/null; then
  echo "note: $BENCH_LATEST has no parsed queries — adjudicating bench_last.json instead"
  BENCH_LATEST=bench_last.json
fi
if [ -n "$BENCH_LATEST" ] && [ -f "$BENCH_LATEST" ]; then
  rm -f /tmp/graft_flags.json
  if python3 tools/bench_flags.py "$BENCH_LATEST" --emit-flags /tmp/graft_flags.json; then
    echo "bench_flags: $BENCH_LATEST clean"
  elif [ ! -f /tmp/graft_flags.json ]; then
    echo "round-close: bench_flags errored on $BENCH_LATEST (no flags file)"
    DIRTY=1
  else
    FLAGGED=$(python3 -c "import json; d = json.load(open('/tmp/graft_flags.json')); print(','.join(d['real'] + d['load'] + d['errored']))")
    echo "bench flags on $BENCH_LATEST: $FLAGGED — solo quiet re-bench..."
    # the subset run writes its full record to bench_scratch.json (the
    # stdout line is contract scalars only); clear it so a failed run
    # cannot be adjudicated from a stale dump
    rm -f bench_scratch.json
    SPARK_GRAFT_ONLY="$FLAGGED" \
      SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
      SPARK_GRAFT_BENCH_RUNS="${SPARK_GRAFT_BENCH_RUNS:-1}" tools/run_verify.sh graft.Bench \
      > /tmp/graft_adjudicate.out 2>/tmp/graft_adjudicate.err
    if ! python3 tools/adjudicate.py "$BENCH_LATEST" bench_scratch.json; then
      echo "round-close: CONFIRMED regression(s) — fix or re-record before closing"
      DIRTY=1
    fi
  fi
fi

# COPYCHECK.json is intentionally gitignored; everything else the driver
# writes is part of the round's evidence record.
ARTS=$(ls BENCH_r*.json CORRECTNESS_r*.json BASELINE.json \
          LEAKCHECK.json bench_last.json 2>/dev/null || true)

for f in $ARTS; do
  if ! git ls-files --error-unmatch "$f" >/dev/null 2>&1; then
    echo "UNTRACKED: $f"; DIRTY=1
  elif ! git diff --quiet HEAD -- "$f" 2>/dev/null; then
    echo "MODIFIED (uncommitted): $f"; DIRTY=1
  fi
done

if [ -n "$(git status --porcelain)" ]; then
  echo "--- git status not clean:"
  git status --short
  DIRTY=1
fi

if [ "$DIRTY" -eq 0 ]; then
  echo "round-close: clean — all artifacts tracked and committed."
  exit 0
fi

if [ -n "$1" ]; then
  git add -A
  git commit -m "round $1: evidence artifacts (bench/correctness/leakcheck)"
  echo "round-close: committed."
else
  echo "round-close: NOT clean. Re-run with a round number to stage+commit."
  exit 1
fi
