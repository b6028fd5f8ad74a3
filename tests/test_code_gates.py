"""Source-level gates over the engine package."""

from __future__ import annotations

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
