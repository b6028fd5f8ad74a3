#!/usr/bin/env python
"""Round-over-round bench trends: reads every BENCH_r*.json in the repo
root and prints a per-query markdown table with deltas vs the previous
round (regressions self-report; >25% slowdowns flagged). A delta is
only taken between two rounds that record the same ``cpus``: a ratio
across core counts measures the machine, not the code, and a round
with no ``cpus`` field is labelled not comparable."""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_rounds():
    rounds = []
    for path in sorted(glob.glob(os.path.join(ROOT, "BENCH_r*.json"))):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as f:
            d = json.load(f)
        parsed = d.get("parsed", d) or {}
        rounds.append((int(m.group(1)), parsed))
    return rounds


def main() -> None:
    rounds = load_rounds()
    if not rounds:
        print("no BENCH_r*.json found", file=sys.stderr)
        return
    names = sorted({q for _, d in rounds for q in d.get("queries", {})})
    cpus = [d.get("cpus") for _, d in rounds]
    comparable = len(rounds) >= 2 and cpus[-1] is not None and cpus[-1] == cpus[-2]
    header = "| query | " + " | ".join(f"r{n}" for n, _ in rounds) + " | Δ last |"
    print(header)
    print("|" + "---|" * (len(rounds) + 2))
    for q in names:
        cells, vals = [], []
        for _, d in rounds:
            v = d.get("queries", {}).get(q)
            vals.append(v)
            cells.append(f"{v:.2f}" if v is not None else "—")
        flag = ""
        # only a true latest-vs-previous delta: if either of the final
        # two rounds is missing this query, print no ratio (a fallback
        # to older rounds would mislabel the column) [ADVICE r2]
        if not comparable:
            flag = "not comparable"
        elif vals[-1] is not None and vals[-2] is not None and vals[-2] > 0:
            ratio = vals[-1] / vals[-2]
            flag = f"{ratio:.2f}x" + (" ⚠" if ratio > 1.25 else "")
        print(f"| {q} | " + " | ".join(cells) + f" | {flag} |")
    print()
    print("cpus: " + " → ".join(
        f"r{n} {c}" if c is not None else f"r{n} not comparable (no cpus)"
        for (n, _), c in zip(rounds, cpus)
    ))
    for key in ("value", "value_warm", "images_per_sec", "images_per_sec_warm"):
        row = [d.get(key) for _, d in rounds]
        if any(v is not None for v in row):
            print(f"{key}: " + " → ".join(str(v) for v in row))


if __name__ == "__main__":
    main()
