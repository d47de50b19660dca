#!/usr/bin/env python3
"""Record the expected results of a query workload into golden.json.

    python3 perfbench/record_golden.py <workload> <scale>

Runs every query of the workload (its timed population and its smoke pair)
twice on the generated tables at ``scale`` in one JVM, and stores
``[row count, result hash]`` under ``expected[scale]``. A query whose hash
does not repeat keeps its row count with hash ``"-"`` (only the row count
is checked then) and is listed under ``unstable`` as a defect; a query that
fails or changes its row count aborts the recording.
"""
import json
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


def main():
    workload, scale = sys.argv[1], float(sys.argv[2])
    path = HERE / "golden.json"
    gold = json.loads(path.read_text())
    g = gold[workload]
    names = sorted(set(g["queries"]) | set(g["smoke"]))
    built = build.build()
    bdir = build.build_dir()
    data = inputs.tables(str(bdir / "inputs"), scale, run.TABLE_SEED)
    tmp = bdir / "record"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    out = tmp / "record.tsv"
    try:
        run.java(built, tmp, ["--mode", "record", "--data", data, "--queries", ",".join(names),
                                  "--out", str(out)], timeout=3600)
        lines = out.read_text().splitlines()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    expected, unstable = {}, set(g.get("unstable", []))
    for line in lines:
        name, pack, rows1, hash1, s1, rows2, hash2, s2 = line.split("\t")
        print(f"{name:40s} {pack:16s} {rows1:>8s} rows  {s1:>8s}s {s2:>8s}s")
        if rows1 == "-1" or rows1 != rows2:
            raise SystemExit(f"{name}: {rows1} then {rows2} rows: {hash1} | {hash2}")
        if hash1 != hash2:
            unstable.add(name)
            print(f"DEFECT {name}: result hash does not repeat ({hash1} vs {hash2})")
        expected[name] = [int(rows1), hash1 if hash1 == hash2 else "-"]
    g.setdefault("expected", {})[str(scale)] = expected
    g["unstable"] = sorted(unstable)
    path.write_text(json.dumps(gold, indent=1) + "\n")
    print(f"recorded {len(expected)} queries of {workload} at sf{scale}")


if __name__ == "__main__":
    main()
