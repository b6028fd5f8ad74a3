#!/usr/bin/env python3
"""Compare two benchmark reports written by ``run.py --report``.

    python3 perfbench/compare.py base.json new.json

Prints each shared metric as base, new and new/base. Refuses (exit 2)
when the two runs saw a different core count or ran different
workloads: a ratio across them measures the machine, not the change.
"""

from __future__ import annotations

import json
import sys


def compare(base: dict, new: dict) -> list[tuple[str, float, float, float]]:
    for key in ("nproc", "workload", "trace"):
        if base.get(key) != new.get(key):
            raise ValueError(f"refusing to compare: {key} differs ({base.get(key)} vs {new.get(key)})")
    rows = []
    for name in sorted(set(base["metrics"]) & set(new["metrics"])):
        a, b = base["metrics"][name], new["metrics"][name]
        rows.append((name, a, b, b / a if a else float("nan")))
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        base = json.load(f)
    with open(argv[1]) as f:
        new = json.load(f)
    try:
        rows = compare(base, new)
    except ValueError as e:
        print(e, file=sys.stderr)
        return 2
    print(f"{'metric':36s} {'base':>14s} {'new':>14s} {'new/base':>9s}")
    for name, a, b, r in rows:
        print(f"{name:36s} {a:14.6g} {b:14.6g} {r:9.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
