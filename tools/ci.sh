#!/usr/bin/env bash
# Full verification sweep — everything the driver and judge check, locally:
#   1. pytest suite (correctness, plan gates, property fuzzes)
#   2. driver-faithful strict oracle check over every queries() entry
#      (dtype-sensitive — stricter than the pytest replica)
#   3. perfbench: its own tests, then one short seeded run of each
#      benchmarked workload (BENCHMARK.json); fails when a run's output
#      checks fail
#   4. gated scaling smokes (exit nonzero on a blown ratio)
#   5. examples, each run as a subprocess (tools/run_examples.py)
# Usage: bash tools/ci.sh [--quick]   (--quick skips steps 4 and 5)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/5 pytest =="
CSPARK_FUZZ="${CSPARK_FUZZ:-8}" python -m pytest tests/ -q

echo "== 2/5 strict oracle check (sf0.01) =="
python tools/driver_check.py

echo "== 3/5 perfbench (tests, interactive, pipeline) =="
python3 -m pytest perfbench/test_perfbench.py -q
for w in interactive pipeline; do
  line="$(python3 perfbench/run.py --workload "$w" --seed 1 --seconds 15 \
          --trace 0 | tail -n 1)"
  echo "$w: $line"
  python3 -c 'import json, sys; sys.exit(0 if json.loads(sys.argv[1])["correct"] else 1)' "$line" \
    || { echo "perfbench $w: output checks failed" >&2; exit 1; }
done

if [[ "${1:-}" != "--quick" ]]; then
  echo "== 4/5 scaling smokes =="
  python tools/scaling_smoke_r4.py
  python tools/scaling_smoke_r5.py
  python tools/scaling_smoke_freq.py
  python tools/scaling_smoke_rollup.py
  python tools/scaling_smoke_profile.py
  python tools/scaling_smoke_ann.py
  python tools/scaling_smoke_graph.py
  python tools/scaling_smoke_ivfpq.py
  echo "== 5/5 examples =="
  python tools/run_examples.py
fi
echo "CI sweep: all green"
