#!/usr/bin/env python3
"""The benchmark's own test, on the small configuration (``--smoke``:
tiny corpus, sf0.001, two queries per workload).

For every workload in BENCHMARK.json it checks that an untraced and a
traced run each end with a correct result line naming every metric of
that section with its unit, and that a run with one corrupted expected
result reports ``correct: false`` with the failure counted.

    python3 perfbench/smoke_test.py [workload ...]
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload, trace, *extra):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-2000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    for w in names:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            r = run(w, trace)
            assert set(r) == {"correct", "attempted", "failed", "metrics"}, r
            assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, r
            want = {m["name"]: m["unit"] for m in bench[section]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metrics {got} != {want}"
            for k, v in r["metrics"].items():
                assert isinstance(v["value"], (int, float)), (w, k, v)
            if section == "end_to_end":
                zero = [k for k, v in r["metrics"].items() if v["value"] <= 0]
                assert not zero, f"{w}: end-to-end metrics not positive: {zero}"
        r = run(w, 0, "--corrupt-expected")
        assert not r["correct"] and r["failed"] >= 1, f"{w}: corrupted expectation passed: {r}"
        print(f"ok {w}")


if __name__ == "__main__":
    main()
