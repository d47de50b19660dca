#!/usr/bin/env bash
# Unskippable pre-snapshot gate: compile (main + test), the benchmark's
# smoke test, full ScalaTest suite, then a sf0.001 Verify + oracle smoke.
# Run this before EVERY end-of-round (or milestone) commit — round 5
# shipped a non-compiling snapshot precisely because nothing forced this.
#
# Usage: scripts/preflight.sh [--fast]
#   --fast : skip the ScalaTest suite (compile + smoke tests only)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== preflight: Test/compile =="
sbt -batch "Test/compile" 2>&1 | tail -3

# The benchmark compiles main with plain scalac, apart from sbt, so a
# change that only sbt tolerates (e.g. around the private[sql] bridge)
# must fail here rather than in the benchmark.
echo "== preflight: benchmark smoke test =="
python3 perfbench/smoke_test.py

if [[ "${1:-}" != "--fast" ]]; then
  echo "== preflight: sbt test =="
  sbt -batch test 2>&1 | tail -8
fi

echo "== preflight: Verify + oracle @ sf0.001 =="
scripts/verify_local.sh /root/testdata/sf0.001 /tmp/preflight_verify | tail -12

echo "== preflight: OK =="
