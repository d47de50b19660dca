#!/usr/bin/env bash
# Unskippable pre-snapshot gate: the one-session-builder, one-stream-runner,
# one-pin-module and one-oracle-tokenizer greps, the repeated-block check
# (scripts/dup_check.py), compile (main + test), the
# benchmark's smoke test, full ScalaTest suite, then a sf0.001 Verify +
# oracle smoke.
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

# One pin module: every persist, warm and lineage cut in main goes
# through graft/core/Pin.scala, so the local-vs-reliable and plan-dump
# decisions cannot be hand-copied again. Comment lines are skipped.
echo "== preflight: one pin module =="
if grep -rnE 'localCheckpoint\(|\.checkpoint\(|\.persist\(' src/main --include='*.scala' \
    | grep -v '^src/main/scala/graft/core/Pin\.scala:' \
    | grep -vE '^[^:]+:[0-9]+:[[:space:]]*(//|\*|/\*)'; then
  echo "preflight: persist/checkpoint/localCheckpoint outside graft/core/Pin.scala; use graft.core.Pin" >&2
  exit 1
fi

# One DuckDB mirror per engine function: oracles spell the reference
# tokenizer's strip regex and the 60-bit md5 id only through the `*Sql`
# helpers in graft/functions/TextFunctions.scala (tokensSql,
# stripPunctSql, hex64Sql), so the oracle's ASCII tokenizer assumption
# lives in one place. Both escapings of the regex are caught. Comment
# lines are skipped.
echo "== preflight: one oracle tokenizer and hex64 =="
if grep -rnF -e "'[^\\w\\s]'" -e "'[^\\\\w\\\\s]'" -e "'0x' || substring(" src/main --include='*.scala' \
    | grep -v '^src/main/scala/graft/functions/TextFunctions\.scala:' \
    | grep -vE '^[^:]+:[0-9]+:[[:space:]]*(//|\*|/\*)'; then
  echo "preflight: inline oracle tokenizer regex or hex64 outside graft/functions/TextFunctions.scala; use tokensSql/stripPunctSql/hex64Sql" >&2
  exit 1
fi

# One spelling per repeated block: no run of 7 code lines (blank,
# comment, import/package lines and triple-quoted oracle SQL dropped)
# may appear twice under src/main; fold the copy into a shared builder.
echo "== preflight: no repeated 7-line blocks =="
python3 scripts/dup_check.py

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
