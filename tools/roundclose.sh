#!/bin/bash
# Round-close verification ritual (one command, run serially — never
# concurrently with another Spark session; bench timing especially).
# Each step appends to .local/roundclose_<tag>.log; the script stops
# on the first red so a failure is the first thing in the tail.
#
#   bash tools/roundclose.sh TAG    (TAG names the log file)
#
# Steps (the standing ritual):
#   1. full pytest                      (correctness + fixed-seed fuzz)
#   2. staleness audit                  (changed tier empty / staged)
#   3. cross-family fuzz --all          (every table-backed oracle on
#                                        the unified adversarial corpus)
#   3b. every other fuzz tier           (tools/fuzz.py --list)
#   4. tri-SF vanilla sweep, window     (what the driver will run)
#   5. full-registry sf0.001 sweep      (nothing outside the window
#                                        regressed)
#   6. bench sf0.1 + sf1 scaling curve  (per-round curve catches new
#                                        super-linear terms)
#   7. plan audit, bench headliners     (CartesianProduct /
#                                        BatchEvalPython = red)
set -e
TAG="${1:-rX}"
mkdir -p .local
LOG=".local/roundclose_${TAG}.log"
: > "$LOG"
note() { echo "== $* ==" | tee -a "$LOG"; }

note "1/7 pytest"
python -m pytest tests/ -q 2>&1 | tail -2 | tee -a "$LOG"

note "2/7 staleness"
python tools/staleness.py 2>&1 | head -1 | tee -a "$LOG"

note "3/7 cross-family fuzz --all"
python tools/fuzz.py cross --all 2>/dev/null | tail -1 | tee -a "$LOG"

note "3b/7 every other fuzz tier (python tools/fuzz.py --list; docs/TIERS.md)"
for TIER in $(python tools/fuzz.py --list | grep -vx cross); do
  python tools/fuzz.py "$TIER" 2>/dev/null | tail -1 | tee -a "$LOG"
done

note "4/7 tri-SF window sweep"
WINDOW=$(python -c "from emma_spark.workloads import _PRIORITY; print(' '.join(_PRIORITY))" 2>/dev/null)
for SF in 0.001 0.01 0.1; do
  python tools/diffcheck.py --vanilla "/root/testdata/sf${SF}" $WINDOW 2>/dev/null \
    | tail -1 | sed "s/^/sf${SF}: /" | tee -a "$LOG"
done

note "5/7 full-registry sf0.001 sweep"
python tools/diffcheck.py --vanilla /root/testdata/sf0.001 2>/dev/null \
  | tail -1 | tee -a "$LOG"

note "6/7 bench sf0.1 + sf1 curve"
python bench.py 2>/dev/null | tail -1 | tee -a "$LOG"
if [ -d .local/sf1 ]; then
  SPARK_GRAFT_SF_DIR=.local/sf1 python bench.py 2>/dev/null | tail -1 | tee -a "$LOG"
else
  echo "(.local/sf1 missing — regenerate with tools/gen_sf.py)" | tee -a "$LOG"
fi

note "7/7 plan audit (bench headliners)"
HEADS=$(python -c "
from emma_spark.workloads import load_all
print(' '.join(n for n, q in load_all().items() if q.headline))" 2>/dev/null)
python tools/planaudit.py $HEADS 2>/dev/null | tail -25 | tee -a "$LOG"

note "7a/7 BNLJ bounded-class audit at sf0.1 (measured, not asserted)"
# every documented BroadcastNestedLoopJoin's build side must stay a
# k-row constant at bench scale
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/planaudit.py --bnlj 2>/dev/null \
  | tee -a "$LOG"

note "7b/7 redundant-scan audit (full registry)"
# same-table FileScan multiplicity in one lazy plan: the
# 1-row-aggregate fan-out pathology (24x/48x instances were found).
# Dim tables (region/nation) and size-gated toy-graph unrolls are the
# documented benign classes — judge the table named in each flag.
python tools/scanaudit.py 2>/dev/null | tail -25 | tee -a "$LOG"

note "done — full log in $LOG"
