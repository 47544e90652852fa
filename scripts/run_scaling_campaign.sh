#!/bin/bash
# Phased probe-gated scaling campaign. The host's clear-weather windows are
# often just 5-10 min (BENCH/BASELINE.md "Gating"), so cells are ordered by
# (evidence value) / (clean-window seconds needed):
#   S.  SHORT legs (100k/200k docs at widths 2 and 8) to 3
#       clean samples each: two corpus sizes per width feed the floor-free
#       paired-corpus slope efficiency, and a third shot per cell ensures
#       at least two uncontended brackets.
#   M2. 400k docs 2 -> 8: mid-length legs that triple the
#       corpus delta behind the width slopes — a 2-point slope over
#       100k/200k moves ~10 s of wall at width 8, inside noise; adding
#       400k makes the per-width least-squares testable and stable.
#   M.  4 -> 16 pair (100k/400k docs): slope + direct evidence at the
#       wider pair.
#   L.  LONG direct legs (600k docs, 2 -> 8): the corpus
#       big enough that even the DIRECT same-corpus ratio clears 0.8 if
#       compute scales — needs a rare 10+ min clean stretch, hence last.
# Each phase exits once every cell has --target-clean clean samples; all
# samples (incl. pre-skipped frozen windows) append to
# BENCH/scaling_runs.jsonl; the report is best-of-CLEAN.
set -x
cd "$(dirname "$0")/.."
GATE=${GATE:-40}
python scripts/scaling_bench.py 100000 --low 2 --high 8 --n-docs2 200000 --low2 2 --high2 8 \
  --target-clean 3 --min-probe-gbs $GATE --max-minutes ${1:-120}
python scripts/scaling_bench.py 400000 --low 2 --high 8 --n-docs2 400000 --low2 2 --high2 8 \
  --target-clean 2 --min-probe-gbs $GATE --max-minutes ${2:-100}
python scripts/scaling_bench.py 400000 --low 4 --high 16 --n-docs2 100000 --low2 4 --high2 16 \
  --target-clean 2 --min-probe-gbs $GATE --max-minutes ${3:-90}
python scripts/scaling_bench.py 600000 --low 2 --high 8 --n-docs2 600000 --low2 2 --high2 8 \
  --target-clean 2 --min-probe-gbs $GATE --max-minutes ${4:-120}
python scripts/scaling_bench.py --min-probe-gbs $GATE --report
