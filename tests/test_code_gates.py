"""Source-level gates over the engine package."""

from __future__ import annotations

import importlib
import inspect
import pathlib
import re

_PKG = pathlib.Path(__file__).resolve().parent.parent / "mapshaper_spark"


def test_no_cache_or_persist_in_package():
    """CacheManager entries accumulate across re-invocations and degrade
    the session (measured 3.6 s -> 30 s over three kNN runs): package
    code uses an eager ``localCheckpoint()`` for multi-consumer frames."""
    bad = [
        f"{path.relative_to(_PKG.parent)}:{n}: {line.strip()}"
        for path in sorted(_PKG.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\.cache\(\)|\.persist\(", line)
    ]
    assert not bad, "\n".join(bad)


def test_no_join_takes_levels_beside_an_index():
    """A join reads its levels off the cell index it is handed (the
    ``cell_id`` column's metadata); a ``res``/``min_res`` argument next
    to ``cell_index`` could disagree with the index and silently miss
    matches."""
    bad, joins = [], 0
    for name in (
        "mapshaper_spark.operators.spatial_join",
        "mapshaper_spark.operators.skew",
        "mapshaper_spark.streaming.windows",
    ):
        for fname, fn in inspect.getmembers(importlib.import_module(name), inspect.isfunction):
            params = inspect.signature(fn).parameters
            if fname.startswith("_") or fn.__module__ != name or "cell_index" not in params:
                continue
            joins += 1
            if {"res", "min_res"} & set(params):
                bad.append(f"{name}.{fname}")
    assert joins >= 8 and not bad, (joins, bad)


def test_every_query_is_checked():
    """A registered query either has a DuckDB oracle or a test that looks
    it up in ``QUERIES`` by its literal name; an entry nothing checks is
    dead surface and stays deleted."""
    from mapshaper_spark import queries as Q

    pat = re.compile(r"""QUERIES\[["']([^"']+)["']\]""")
    tests = pathlib.Path(__file__).resolve().parent
    called = {m for path in tests.rglob("*.py") for m in pat.findall(path.read_text())}
    unchecked = sorted(set(Q.QUERIES) - set(Q.ORACLES) - called)
    assert not unchecked, unchecked
