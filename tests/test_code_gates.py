"""Source-level gates over the engine package."""

from __future__ import annotations

import ast
import importlib
import inspect
import pathlib
import re
import sys

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


def test_worker_daemon_imports_only_stdlib_first():
    """``python -m mapshaper_spark._worker_daemon`` runs the package
    ``__init__`` and then the module before the module strips the
    archive entries from ``sys.path``: an import of pyspark (or of any
    engine module) there would load it from the zip the strip removes.
    ``__init__`` imports nothing; the daemon module's top-level imports
    are stdlib."""
    init = ast.parse((_PKG / "__init__.py").read_text())
    assert not [n for n in ast.walk(init) if isinstance(n, (ast.Import, ast.ImportFrom))]
    daemon = ast.parse((_PKG / "_worker_daemon.py").read_text())
    top = [
        a.name if isinstance(n, ast.Import) else n.module
        for n in daemon.body
        if isinstance(n, (ast.Import, ast.ImportFrom))
        for a in n.names
    ]
    assert top and all(m.split(".")[0] in sys.stdlib_module_names for m in top), top
