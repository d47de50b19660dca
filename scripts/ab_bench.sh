#!/usr/bin/env bash
# A/B the repo benchmark between two git revisions, each built fresh in place.
#
#   scripts/ab_bench.sh <parent-rev> <change-rev> <workload> <pairs> [seed0]
#
# Each rev is exported with `git archive` into its own temporary directory,
# where `perfbench/run.py` builds its own `.bench_build` next to its source.
# Never A/B against a build dir copied from elsewhere: it keeps its jar paths
# but loses its class-data-sharing archive (the JVM reports "shared class
# paths mismatch", which `-Xlog:cds=off` hides), and every start-up is
# seconds slower.
#
# One untimed warm-up run per side builds the engine and fills the input
# caches. Pair i then runs seed seed0+i (default seed0 = 1) on both sides,
# `--seconds 25 --trace 0`; even pairs run the parent first, odd pairs the
# change. Every run's end-to-end metrics are printed as it ends; at the end,
# per metric, each side's median and interquartile range (IQR), the number
# of pairs the change won, and one verdict against the metric's relative
# bound in BENCHMARK.json (0.25 = 25%), the first that holds of:
#   gain              the change won >= 9 in 10 pairs, and its median beats
#                     the parent's by more than the parent's IQR
#   unresolved        the parent's IQR / median is wider than the bound
#   worse than bound  the change's median is worse by more than the bound
#   within bound      otherwise
# Then, per op, each side's median of that op's per-run medians (the
# `<op> median <s>s` lines run.py prints to stderr) with its IQR and the
# pairs the change won, so an A/B names the op that moved.
# If a timed run fails, the pairs loop stops, the summary covers the pairs
# completed before it, and the script names the failed side and seed and
# exits 1. Nothing under perfbench/ is changed. The temporary directories
# are removed on exit.
set -euo pipefail

if [[ $# -lt 4 || $# -gt 5 ]]; then
  echo "usage: $0 <parent-rev> <change-rev> <workload> <pairs> [seed0]" >&2
  exit 2
fi
parent=$1 change=$2 workload=$3 pairs=$4 seed0=${5:-1}
repo=$(git -C "$(dirname "$0")/.." rev-parse --show-toplevel)

work=$(mktemp -d "${TMPDIR:-/tmp}/ab_bench.XXXXXX")
trap 'rm -rf "$work"' EXIT
declare -A dir=([parent]="$work/parent" [change]="$work/change")
declare -A rev=([parent]="$parent" [change]="$change")
for side in parent change; do
  mkdir -p "${dir[$side]}"
  git -C "$repo" archive "${rev[$side]}" | tar -x -C "${dir[$side]}"
done
echo "ab_bench: nproc=$(nproc) workload=$workload pairs=$pairs seed0=$seed0" \
  "parent=$(git -C "$repo" rev-parse --short "$parent")" \
  "change=$(git -C "$repo" rev-parse --short "$change")"

# run <side> <seed>: one timed run; its result line goes to results.jsonl.
# Returns 1 if the run fails, so that the summary still covers the pairs
# that completed before it.
run() {
  local out
  if ! out=$(cd "${dir[$1]}" && env -u CARGO_TARGET_DIR python3 perfbench/run.py \
      --workload "$workload" --seed "$2" --seconds 25 --trace 0 2>"$work/stderr" | tail -n 1) ||
      [[ -z $out ]]; then
    echo "ab_bench: $1 seed=$2 failed" >&2
    tail -n 20 "$work/stderr" >&2
    return 1
  fi
  python3 - "$1" "$2" "$out" "$work/stderr" "$work/results.jsonl" <<'EOF'
import json, re, sys
side, seed, line, stderr, results = sys.argv[1:]
r = json.loads(line)
# per-op medians, from run.py's "  <op> median <s>s n=<n>" report lines
ops = {m[1]: float(m[2]) for m in
       re.finditer(r"^\s+(\S+)\s+median (\d+(?:\.\d+)?)s n=", open(stderr).read(), re.M)}
with open(results, "a") as f:
    f.write(f"{side}\t{seed}\t{line}\t{json.dumps(ops)}\n")
m = " ".join(f"{k}={v['value']:.3f}" for k, v in r["metrics"].items())
o = " ".join(f"{k}={v:.3f}" for k, v in ops.items())
print(f"  {side:6s} seed={seed} correct={r['correct']} failed={r['failed']} {m} | {o}", flush=True)
EOF
}

for side in parent change; do
  echo "warm-up $side (build + input caches, untimed)"
  (cd "${dir[$side]}" && env -u CARGO_TARGET_DIR python3 perfbench/run.py \
    --workload "$workload" --seed "$((seed0 - 1))" --seconds 5 --trace 0 >/dev/null 2>"$work/stderr") ||
    { echo "ab_bench: warm-up $side failed" >&2; tail -n 20 "$work/stderr" >&2; exit 1; }
done
: >"$work/results.jsonl"

failed=
for ((i = 0; i < pairs; i++)); do
  seed=$((seed0 + i))
  echo "pair $((i + 1))/$pairs seed=$seed"
  if ((i % 2 == 0)); then order="parent change"; else order="change parent"; fi
  for side in $order; do
    if ! run "$side" "$seed"; then failed="$side seed=$seed"; break 2; fi
  done
done

python3 - "$work/results.jsonl" "${dir[change]}/BENCHMARK.json" <<'EOF'
import json, statistics, sys
runs, bench = sys.argv[1:]
metrics = {m["name"]: m for m in json.load(open(bench))["end_to_end"]}
by, ops = {}, {}
for line in open(runs):
    side, seed, out, op_medians = line.rstrip("\n").split("\t", 3)
    r = json.loads(out)
    if not r["correct"] or r["failed"]:
        print(f"NOTE: {side} seed={seed} correct={r['correct']} failed={r['failed']}")
    by.setdefault(side, {})[seed] = {k: v["value"] for k, v in r["metrics"].items()}
    ops.setdefault(side, {})[seed] = json.loads(op_medians)
seeds = sorted(set(by.get("parent", {})) & set(by.get("change", {})), key=int)

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]

def verdict(wins, gain, iqr, median, bound):
    if wins >= 0.9 * len(seeds) and gain > iqr:
        return "gain"
    if median and iqr / median > bound:
        return "unresolved"
    if median and -gain / median > bound:
        return "worse than bound"
    return "within bound"

print(f"summary over {len(seeds)} pairs (median [IQR]; wins = pairs the change was better)")
if not seeds:
    sys.exit(0)
for k, m in metrics.items():
    lower = m["better"] == "lower"
    p = [by["parent"][s][k] for s in seeds]
    c = [by["change"][s][k] for s in seeds]
    wins = sum((y < x) if lower else (y > x) for x, y in zip(p, c))
    (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
    rel = (cm - pm) / pm * 100 if pm else float("nan")
    v = verdict(wins, pm - cm if lower else cm - pm, p3 - p1, pm, m["bound"])
    print(f"  {k:16s} parent {pm:9.3f} [{p3 - p1:7.3f}]  change {cm:9.3f} [{c3 - c1:7.3f}]"
          f"  {rel:+6.1f}%  wins {wins}/{len(seeds)}  {v}")

print("per op (median of the runs' op medians, s [IQR]; wins = pairs the change was faster)")
for op in sorted({op for side in ops.values() for s in seeds for op in side[s]}):
    both = [s for s in seeds if op in ops["parent"][s] and op in ops["change"][s]]
    if not both:
        print(f"  {op:34s} timed on one side only")
        continue
    p = [ops["parent"][s][op] for s in both]
    c = [ops["change"][s][op] for s in both]
    (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
    wins = sum(y < x for x, y in zip(p, c))
    rel = (cm - pm) / pm * 100 if pm else float("nan")
    print(f"  {op:34s} parent {pm:7.3f} [{p3 - p1:6.3f}]  change {cm:7.3f} [{c3 - c1:6.3f}]"
          f"  {rel:+6.1f}%  wins {wins}/{len(both)}")
EOF

if [[ -n $failed ]]; then
  echo "ab_bench: stopped at the failed $failed run; the summary above covers only the pairs completed before it" >&2
  exit 1
fi
