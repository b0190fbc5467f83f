#!/bin/bash
# Probe-gated scaling measurement: poll the pure-CPU ceiling at the job's
# two parallelism levels and launch jobs/bench_scaling.py only when the
# burner itself reads >= $GATE (default 0.95) — see BENCH.md's host-noise
# protocol. One shot: launches at most once, then exits.
GATE=${GATE:-0.95}
LOW=${LOW:-8}
HIGH=${HIGH:-32}
CLUSTERS=${CLUSTERS:-2000000}
REPEATS=${REPEATS:-2}
OUT=${OUT:-/tmp/scaling_gated.json}
LOG=${LOG:-/tmp/scaling_gated.log}
# run the checkout this script lives in, wherever it is called from
cd "$(dirname "$(readlink -f "$0")")/.." || exit 1
# bounded lifetime: ~3h of polling, then give up — the loop must never
# outlive the build session (its probe bursts would pollute the round
# driver's own bench run)
for i in $(seq 1 ${ITERS:-72}); do
  v=$(python tools/cpu_ceiling.py --low "$LOW" --high "$HIGH" 2>/dev/null \
      | python -c "import json,sys;print(json.load(sys.stdin)['value'])")
  echo "$(date +%H:%M:%S) probe ${LOW}->${HIGH}: $v (gate $GATE)" >> "$LOG"
  ok=$(python -c "print(1 if float('$v') >= float('$GATE') else 0)")
  if [ "$ok" = "1" ]; then
    echo "$(date +%H:%M:%S) gate open — launching scaling run" >> "$LOG"
    python jobs/bench_scaling.py --clusters "$CLUSTERS" \
      --low "$LOW" --high "$HIGH" --repeats "$REPEATS" > "$OUT" 2>> "$LOG"
    echo "$(date +%H:%M:%S) done rc=$?" >> "$LOG"
    # post-run probe: record whether the window stayed quiet
    python tools/cpu_ceiling.py --low "$LOW" --high "$HIGH" 2>/dev/null \
      >> "$LOG"
    exit 0
  fi
  sleep 150
done
echo "gate never opened" >> "$LOG"
exit 1
