#!/usr/bin/env bash
# Unskippable pre-snapshot gate: the one-session-builder and
# one-stream-runner greps, compile (main + test), the benchmark's smoke
# test, full ScalaTest suite, then a sf0.001 Verify + oracle smoke.
# Run this before EVERY end-of-round (or milestone) commit — round 5
# shipped a non-compiling snapshot precisely because nothing forced this.
#
# Usage: scripts/preflight.sh [--fast]
#   --fast : skip the ScalaTest suite (compile + smoke tests only)
set -euo pipefail
cd "$(dirname "$0")/.."

# One session contract: every session in main starts in
# graft/core/Session.scala, so hand-copied builders cannot grow back.
echo "== preflight: one SparkSession builder =="
if grep -rn 'SparkSession\.builder' src/main --include='*.scala' \
    | grep -v '^src/main/scala/graft/core/Session\.scala:'; then
  echo "preflight: SparkSession.builder outside graft/core/Session.scala; use graft.core.Session" >&2
  exit 1
fi

# One stream runner: every gate stream runs to completion in
# graft/streaming/StreamRunner.scala, so hand-copied memory sinks cannot
# grow back.
echo "== preflight: one stream runner =="
if grep -rnE 'format\("memory"\)|processAllAvailable' src/main --include='*.scala' \
    | grep -v '^src/main/scala/graft/streaming/StreamRunner\.scala:'; then
  echo "preflight: memory sink or processAllAvailable outside graft/streaming/StreamRunner.scala; use StreamRunner.drain" >&2
  exit 1
fi

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
