#!/usr/bin/env python3
"""Fail when a block of 7 code lines is repeated under src/main.

Each .scala file is reduced to its code lines: triple-quoted strings (the
oracle SQL, which is the gated reference) are cut out with their
interpolator and a trailing .stripMargin, then blank lines,
comment lines (starting with //, /* or *) and import/package lines are
dropped, and every remaining line is trimmed. Any run of WINDOW consecutive
code lines that appears at two or more places is reported as file:line
ranges, one group per repeated block, and the script exits 1.

A copy kept apart on purpose carries the comment line
    // dup_check: allow <n> <reason>
directly above it: windows that lie wholly within the next <n> code lines
are not counted there. Every copy needs its own marker, and an edit that
grows the copy past <n> lines makes the gate fire again.

Usage: scripts/dup_check.py [root ...]   (default: src/main)
"""
import os
import re
import sys
from collections import defaultdict

WINDOW = 7
# A triple-quoted literal with its interpolator and a trailing .stripMargin.
TRIPLE = re.compile(r'\w*"""(?:.|\n)*?"""(?:\s*\.stripMargin)?')
ALLOW = re.compile(r"//\s*dup_check:\s*allow\s+(\d+)\s+\S")


def code_lines(path):
    """(line number, trimmed text, allow marker or None) of every code line
    in a file."""
    with open(path, encoding="utf-8") as f:
        text = f.read()
    # Cut each triple-quoted literal out but keep its newlines, so that
    # line numbers still match the file.
    text = TRIPLE.sub(lambda m: "\n" * m.group(0).count("\n"), text)
    out = []
    marker, left = None, 0
    for no, raw in enumerate(text.split("\n"), 1):
        line = raw.strip()
        m = ALLOW.match(line)
        if m:
            marker, left = no, int(m.group(1))
            continue
        if not line or line.startswith(("//", "/*", "*")):
            continue
        if line.startswith(("import ", "package ")):
            continue
        out.append((no, line, marker if left > 0 else None))
        left -= 1
    return out


def scala_files(roots):
    for root in roots:
        for d, _, names in os.walk(root):
            for n in sorted(names):
                if n.endswith(".scala"):
                    yield os.path.join(d, n)


def main(argv):
    roots = argv[1:] or ["src/main"]
    files = {p: code_lines(p) for p in sorted(scala_files(roots))}
    sites = defaultdict(list)  # window text -> [(file, index)]
    allowed = 0
    for p, lines in files.items():
        for i in range(len(lines) - WINDOW + 1):
            window = lines[i:i + WINDOW]
            if window[0][2] is not None and all(a == window[0][2] for *_, a in window):
                allowed += 1
                continue
            key = "\n".join(t for _, t, _ in window)
            sites[key].append((p, i))
    repeated = {k: v for k, v in sites.items() if len(v) > 1}

    # Merge overlapping repeated windows of one file into maximal runs,
    # then join runs that share a window into one repeated block.
    dup = defaultdict(set)
    for v in repeated.values():
        for p, i in v:
            dup[p].add(i)
    runs = []  # (file, first window, last window)
    run_of = {}
    for p in sorted(dup):
        idx = sorted(dup[p])
        start = prev = idx[0]
        for i in idx[1:] + [None]:
            if i is not None and i <= prev + WINDOW - 1:
                prev = i
                continue
            for j in range(start, prev + 1):
                run_of[(p, j)] = len(runs)
            runs.append((p, start, prev))
            if i is not None:
                start = prev = i
    parent = list(range(len(runs)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for v in repeated.values():
        first = run_of[v[0]]
        for s in v[1:]:
            parent[find(run_of[s])] = find(first)
    groups = defaultdict(list)
    for r in range(len(runs)):
        groups[find(r)].append(runs[r])

    extra = 0
    for members in sorted(groups.values(), key=lambda m: (m[0][0], m[0][1])):
        spans = []
        for p, a, b in members:
            lines = files[p]
            spans.append((p, lines[a][0], lines[b + WINDOW - 1][0], b - a + WINDOW))
        extra += sum(n for *_, n in spans) - max(n for *_, n in spans)
        print("repeated block (%d code lines):" % max(n for *_, n in spans))
        for p, lo, hi, n in spans:
            print("  %s:%d-%d (%d code lines)" % (p, lo, hi, n))
    total = sum(len(v) for v in files.values())
    print("dup_check: %d repeated %d-line blocks, %d extra-copy code lines, "
          "%d code lines in %d files, %d windows under allow markers"
          % (len(groups), WINDOW, extra, total, len(files), allowed))
    return 1 if groups else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
