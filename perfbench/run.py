#!/usr/bin/env python3
"""The repo's benchmark: one closed-loop client driving the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (``perfbench/build.py``), generates the
workload's inputs from the seed (``perfbench/inputs.py``), runs one JVM
(``perfbench.Driver``) at ``local[nproc]`` that sets up, warms up and then
times passes over the workload's operations, checks every result, and
prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (from a separate, traced half of the window). A readable summary,
the host stamp and the reason for every failed operation go to stderr and
to ``<build dir>/results/``; traced runs also leave their spans there.

``--smoke`` runs the small configuration the benchmark's own test uses
(tiny corpus, sf0.001, two queries per workload); ``--corrupt-expected``
corrupts one expected result so the correctness check must fire.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import inputs  # noqa: E402

ROOT = HERE.parent
TABLE_SEED = 42  # tables are fixed so the golden hashes hold; --seed orders the ops
SMOKE_SCALE = 0.001
XMX = "4g"
DEADLINE_S = 170

# Why each workload exists is in BENCHMARK.json; sizes are chosen so a run
# fits in well under a minute on a 4-core host.
WORKLOADS = {
    "wordcount": {"ops": "wordcount", "mb": 16, "smoke_mb": 1},
    "registry_sf001": {"ops": "queries", "scale": 0.01},
}


def golden():
    with open(HERE / "golden.json") as f:
        return json.load(f)


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def java(built, tmp, args, timeout):
    opts, classpath, _ = built
    cmd = (["java", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}"] + opts +
           ["-cp", os.pathsep.join(classpath), "perfbench.Driver"] + args)
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                            text=True, errors="replace")
    try:
        _, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        _, err = proc.communicate()
        raise SystemExit(f"perfbench: driver exceeded {timeout:.0f}s\n{tail(err)}")
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: driver exited {proc.returncode}\n{tail(err)}")
    return err


def tail(log):
    """The driver's own progress lines plus the last non-WARN lines."""
    lines = log.splitlines()
    own = [l for l in lines if l.startswith("[perfbench]")]
    rest = [l for l in lines if " WARN " not in l and not l.startswith("[perfbench]")]
    return "\n".join(own[-40:] + rest[-30:])


def prepare(workload, spec, smoke, seed, bdir, run_dir, corrupt):
    """Generate and check the workload's inputs; return (driver args,
    input description for the host stamp)."""
    data_root = bdir / "inputs"
    if spec["ops"] == "wordcount":
        mb = spec["smoke_mb"] if smoke else spec["mb"]
        d = Path(inputs.corpus(str(data_root), seed, mb))
        expected = d / "expected.tsv"
        if corrupt:
            lines = expected.read_text(encoding="utf-8").splitlines()
            w, n = lines[0].split("\t")
            lines[0] = f"{w}\t{int(n) + 1}"
            expected = run_dir / "expected.tsv"
            expected.write_text("\n".join(lines) + "\n", encoding="utf-8")
        args = ["--ops", "wordcount", "--corpus", str(d), "--expected", str(expected)]
        return args, {"corpus_mb": (d / "corpus.txt").stat().st_size / 1e6,
                      "vocabulary": sum(1 for _ in open(d / "expected.tsv", encoding="utf-8"))}
    scale = SMOKE_SCALE if smoke else spec["scale"]
    gold = golden()[workload]
    names = list(gold["smoke" if smoke else "queries"])
    expect = gold["expected"][str(scale)]
    d = Path(inputs.tables(str(data_root), scale, TABLE_SEED))
    rows = []
    for i, q in enumerate(names):
        n, h = expect[q]
        if corrupt and i == 0:
            h = ("0" if h[0] != "0" else "1") + h[1:]
        rows.append(f"{q}\t{n}\t{h}")
    gfile = run_dir / "golden.tsv"
    gfile.write_text("\n".join(rows) + "\n")
    args = ["--ops", "queries", "--data", str(d), "--queries", ",".join(names),
            "--golden", str(gfile)]
    return args, {"scale": scale, "table_seed": TABLE_SEED, "queries": len(names),
                  "table_mb": sum(p.stat().st_size for p in d.glob("*.parquet")) / 1e6}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt-expected", action="store_true")
    a = ap.parse_args()
    spec = WORKLOADS[a.workload]

    built = build.build()
    started = time.monotonic()  # the run's deadline starts after the (first-run) build
    bdir = build.build_dir()
    run_dir = bdir / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    results = bdir / "results"
    results.mkdir(exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}" + ("-smoke" if a.smoke else "")
    try:
        t0 = time.monotonic()
        args, sizes = prepare(a.workload, spec, a.smoke, a.seed, bdir, run_dir, a.corrupt_expected)
        if a.trace:
            sample = Path(inputs.corpus(str(bdir / "inputs"), a.seed, 1)) / "corpus.txt"
            args += ["--sample", str(sample), "--spans", str(results / f"spans-{tag}.jsonl")]
        gen_s = time.monotonic() - t0
        out = run_dir / "out.json"
        args += ["--mode", "bench", "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--out", str(out)]
        if a.smoke:
            args += ["--min-passes", "1"]
        log = java(built, run_dir / "tmp", args, DEADLINE_S - (time.monotonic() - started))
        r = json.loads(out.read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    (results / f"{tag}.log").write_text(
        "".join(l + "\n" for l in log.splitlines() if l.startswith("[perfbench]")))
    r["setup"]["inputs_gen_s"] = gen_s
    e2e = r["end_to_end"]
    e2e["setup_s"] += gen_s
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    section = "per_layer" if a.trace else "end_to_end"
    values = r["per_layer"] if a.trace else e2e
    # a counter that never fired in the traced passes is absent: it is 0
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in bench[section]}
    bad = [k for k, m in metrics.items() if m["value"] is None]
    r["host"].update({"commit": commit() or f"source-{built[2]}", "seed": a.seed,
                      "workload": a.workload, "inputs": sizes, "trace": a.trace})
    (results / f"{tag}.json").write_text(json.dumps(r, indent=1))
    report(a, r, metrics)
    print(json.dumps({"correct": r["failed"] == 0 and not bad,
                      "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


def report(a, r, metrics):
    h = r["host"]
    say = lambda s: print(s, file=sys.stderr)  # noqa: E731
    say(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: nproc={h['nproc']} "
        f"xmx={h['xmx_mb']}MB spark={h['spark']} jdk={h['jdk']} commit={h['commit']} "
        f"inputs={h['inputs']}")
    for f in r["failures"]:
        say(f"  FAILED {f['op']} pass {f['pass']}: {f['error']}")
    say(f"  passes={r['passes']} pass_s={[round(x, 3) for x in r['pass_s_all']]} "
        f"setup={ {k: round(v, 3) for k, v in r['setup'].items()} }")
    for op, s in sorted(r["ops"].items()):
        extra = f" {s['mb_per_s']:.2f} MB/s" if s.get("mb_per_s") else ""
        say(f"  {op:34s} median {s['median_s']:.3f}s n={s['n']}{extra}")
    if a.trace:
        self_t = {k[5:]: v for k, v in r["per_layer"].items() if k.startswith("self.")}
        total = sum(self_t.values()) or 1.0
        say("  self time per pass by layer:")
        for layer, v in sorted(self_t.items(), key=lambda kv: -kv[1]):
            say(f"    {layer:10s} {v:8.3f}s {100 * v / total:5.1f}%")
        say(f"  tracing overhead per pass: {r['per_layer'].get('trace.overhead_s', 0):.3f}s")
    for k, m in metrics.items():
        say(f"  {k:28s} {m['value']} {m['unit']}")


if __name__ == "__main__":
    main()
