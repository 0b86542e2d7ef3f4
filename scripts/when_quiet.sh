#!/bin/bash
# Probe-gated run: poll for a quiet window (probe8 <= 12.5s: scaling.py's
# 2e9-row JVM probe at local[8]) and run CMD exactly once inside it.
#
# Usage: scripts/when_quiet.sh REFUSAL_LOG ATTEMPTS -- CMD...
#   scripts/when_quiet.sh BENCH/history.jsonl 1 -- \
#       env SPARK_GRAFT_BUILD_REPS=1 SPARK_GRAFT_SCALE_PAIRS=1 python scripts/scaling.py 400000
#   scripts/when_quiet.sh BENCH/bench_gate_refusals.log 40 -- \
#       sh -c 'python bench.py > BENCH/bench_quiet.json; echo "{\"probe8\": $PROBE8}" >> BENCH/bench_quiet.json'
#   scripts/when_quiet.sh BENCH/bench_gate_refusals.log 6 -- python scripts/scale.py 1m
#
# Every refused window appends {"date", "probe8", "skipped": "SKIP_NOISY"}
# to REFUSAL_LOG (a refusal to measure is itself a measurement); attempts
# are 150 s apart. CMD runs from the repo root with PROBE8 set to the
# window's probe time, and its exit status is the gate's.
# Exit 2: every attempt was noisy. Exit 3: another gate holds the lock.
#
# Exactly one gate may run: concurrent gates inflate each other's probes.
# The mkdir lock is held for the gate's whole life and released by the
# EXIT trap; kill stray gates with: pkill -f when_quiet.sh
set -u
if [ $# -lt 4 ] || [ "$3" != "--" ]; then
  echo "usage: $0 REFUSAL_LOG ATTEMPTS -- CMD..." >&2
  exit 64
fi
REFUSALS=$1
ATTEMPTS=$2
shift 3
cd "$(dirname "$0")/.."

LOCK=/tmp/fafnir_bench_gate.lock
if ! mkdir "$LOCK" 2>/dev/null; then
  echo "REFUSED: another gate instance holds $LOCK" >&2
  exit 3
fi
trap 'rmdir "$LOCK" 2>/dev/null' EXIT; trap 'rmdir "$LOCK" 2>/dev/null; exit 130' TERM INT

for i in $(seq 1 "$ATTEMPTS"); do
  P=$(python -c "
import sys; sys.path.insert(0, 'scripts')
from scaling import run_probe
print(run_probe(8))")
  echo "attempt $i probe8=$P" >&2
  if python -c "import sys; sys.exit(float('$P') > 12.5)"; then
    # no exec: the EXIT trap must fire to release the lock
    PROBE8=$P "$@"
    exit $?
  fi
  python -c "
import datetime, json
rec = {'date': datetime.datetime.now().strftime('%Y-%m-%d %H:%M'),
       'probe8': round($P, 2), 'skipped': 'SKIP_NOISY'}
open('$REFUSALS', 'a').write(json.dumps(rec) + '\n')"
  [ "$i" -lt "$ATTEMPTS" ] && sleep 150
done
echo "SKIP_NOISY: $ATTEMPTS noisy windows" >&2
exit 2
