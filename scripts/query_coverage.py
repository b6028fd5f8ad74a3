"""Per-query driver-side line coverage of the engine package, and the
registry rules it decides.

Every registered query is built and collected under a stdlib line
tracer (``sys.settrace`` + ``threading.settrace``; ``coverage`` is not
a dependency). A query's trace is the set of ``(file, line)`` pairs it
runs under ``mapshaper_spark/``, with ``queries.py`` itself excluded.
UDF bodies run in Python worker processes and are invisible here;
their kernels are covered by the no-Spark unit tests.

Printed per query: lines traced, lines no other query reaches, the
driver-window slot, whether it has an oracle, seconds, and a verdict:

- ``rule (a)``: no oracle and no test calls it by name
  (``QUERIES["..."]`` under ``tests/``) -- nothing checks its rows;
- ``rule (b)``: an oracle query outside the window and the protected
  set whose traced lines are all reached by kept queries (greedy, one
  pass in reverse registration order, which is a fixed point: a dropped
  query stays covered by transitivity). ``covered by`` names a greedy
  cover from kept queries;
- ``stays``: the trace alone would drop it, but its oracle checks an
  expression no kept oracle checks (``STAYS``), or its logic is inline
  in ``queries.py`` so the trace cannot judge it.

Run: ``python scripts/query_coverage.py [--sf DIR]`` (about a minute at sf0.01 on 4 cores).
"""

from __future__ import annotations

import argparse
import pathlib
import re
import sys
import threading
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from mapshaper_spark import queries as Q  # noqa: E402
from mapshaper_spark.session import get_spark  # noqa: E402
from tests.oracle_harness import SF_DIR  # noqa: E402

PKG = ROOT / "mapshaper_spark"
# the data loaders every query reads through; a query that reaches no
# other package line has its logic inline in queries.py
LOADERS = ("fixtures.py", "sources/testdata.py")
FLAGSHIP = {"images_tile_stats"}
# oracle queries the trace would drop, and the expression only they check
STAYS = {
    "pip_attribute_rows": "only row-level (point_id, poly_id) check of convex PIP",
    "clip_general_area_windows": "only per-(poly_id, window_id) check of clip_general_area",
    "topojson_tiled_counts": "only per-tile feature and arc count check of the tiled export",
}


def _tracer(hits: set):
    files: dict[str, str | None] = {}

    def on_line(frame, event, arg):
        if event == "line":
            hits.add((files[frame.f_code.co_filename], frame.f_lineno))
        return on_line

    def on_call(frame, event, arg):
        fn = frame.f_code.co_filename
        if fn not in files:
            p = pathlib.Path(fn).resolve()
            rel = p.relative_to(PKG).as_posix() if p.is_relative_to(PKG) else None
            files[fn] = None if rel == "queries.py" else rel
        return on_line if files[fn] else None

    return on_call


def trace(spark, sf: str, names: list[str]) -> tuple[dict, dict]:
    lines, secs = {}, {}
    for name in names:
        hits: set = set()
        t0 = time.perf_counter()
        tr = _tracer(hits)
        threading.settrace(tr)
        sys.settrace(tr)
        try:
            Q.QUERIES[name](spark, sf).collect()
        finally:
            sys.settrace(None)
            threading.settrace(None)
        secs[name], lines[name] = time.perf_counter() - t0, hits
        print(f"traced {name}: {len(hits)} lines", file=sys.stderr)
    return lines, secs


def tested_by_name() -> set[str]:
    pat = re.compile(r"""QUERIES\[["']([^"']+)["']\]""")
    return {m for f in (ROOT / "tests").rglob("*.py") for m in pat.findall(f.read_text())}


def _cover(want: set, kept: list[str], lines: dict) -> list[str]:
    out, left = [], set(want)
    while left:
        best = max(kept, key=lambda k: len(left & lines[k]), default=None)
        if best is None or not left & lines[best]:
            break
        out.append(best)
        left -= lines[best]
    return out + ([f"{len(left)} lines uncovered"] if left else [])


def verdicts(lines: dict) -> dict[str, str]:
    window = set(Q._DRIVER_WINDOW)
    tested = tested_by_name()
    out: dict[str, str] = {}
    for n in lines:
        if n in window:
            out[n] = "window"
        elif n not in Q.ORACLES:
            out[n] = (
                "tests call it" if n in tested
                else "rule (a): no oracle, no test caller; kept queries reach"
            )
        elif n in tested or n in FLAGSHIP:
            out[n] = "protected"
    kept = [n for n in lines if not out.get(n, "").startswith("rule (a)")]
    # latest-registered first: a family's first entry is its base form
    # (rows before counts, clip before erase), so that is the one kept
    for n in [n for n in reversed(lines) if n not in out]:
        others = set().union(*(lines[k] for k in kept if k != n))
        if lines[n] - others:
            out[n] = "kept: unique lines"
        elif n in STAYS:
            out[n] = f"stays: {STAYS[n]}"
        elif all(f.startswith(LOADERS) for f, _ in lines[n]):
            out[n] = "stays: logic inline in queries.py, its oracle is its own expression"
        else:
            kept.remove(n)
            out[n] = "rule (b): covered by"
    for n, v in out.items():
        if v.startswith("rule"):
            out[n] = f"{v} {', '.join(_cover(lines[n], kept, lines)) or 'no lines'}"
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default=SF_DIR, help="parquet dir (default: the parity suite's)")
    sf = ap.parse_args().sf
    names = list(Q.QUERIES)
    spark = get_spark("query_coverage", shuffle_partitions=8)
    lines, secs = trace(spark, sf, names)
    spark.stop()
    slot = {n: i for i, n in enumerate(Q._DRIVER_WINDOW, 1)}
    verdict = verdicts(lines)
    print(f"{'query':40} {'slot':>4} {'oracle':>6} {'lines':>5} {'unique':>6} {'sec':>6}  verdict")
    for n in names:
        others = set().union(*(v for k, v in lines.items() if k != n))
        print(
            f"{n:40} {slot.get(n, '-'):>4} {'yes' if n in Q.ORACLES else 'no':>6} "
            f"{len(lines[n]):>5} {len(lines[n] - others):>6} {secs[n]:>6.2f}  {verdict[n]}"
        )
    drops = [n for n, v in verdict.items() if v.startswith("rule")]
    print(f"\n{len(names)} queries, {len(Q.ORACLES)} oracles, {sum(secs.values()):.1f} s; "
          f"{len(drops)} meet rule (a) or (b): {', '.join(drops) or 'none'}")


if __name__ == "__main__":
    main()
