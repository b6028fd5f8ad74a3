"""Python worker daemon that imports pyspark from plain files.

Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar first
on every Python worker's ``PYTHONPATH``, so workers import pyspark
through zipimport. At the start of every task
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and in Python 3.11 that makes every
cached zipimporter re-read its archive's whole central directory
(11 ms per pyspark.zip entry, 45 ms per jar entry). This module drops
the archive entries from ``sys.path`` when a plain ``pyspark`` and
``py4j`` are findable on the rest (the driver's own site-packages
install), empties the importer cache the ``-m`` lookup filled, and then
runs the stock daemon, so forked workers import the same pyspark files
as the driver and ``invalidate_caches`` walks only directory finders.
Per-task ``--py-files`` entries are added after the fork and are
untouched.

Launched by ``session.get_spark`` through ``spark.python.daemon.module``.
Nothing may import pyspark (or anything that does) before the strip:
this module imports only the stdlib at module level, and the package's
``__init__`` imports nothing.
"""

import sys
from importlib.machinery import PathFinder

ARCHIVES = (".zip", ".jar")
NEEDED = ("pyspark", "py4j")


def plain_path(path: list[str]) -> list[str]:
    """``path`` without its ``.zip``/``.jar`` entries when every module
    in :data:`NEEDED` is still findable on the rest; otherwise ``path``
    unchanged (a copy)."""
    kept = [p for p in path if not p.lower().endswith(ARCHIVES)]
    if all(PathFinder.find_spec(m, kept) is not None for m in NEEDED):
        return kept
    return list(path)


def main() -> None:
    sys.path[:] = plain_path(sys.path)
    # the -m lookup cached a zipimporter per archive entry; the per-task
    # invalidate_caches walks this cache, not sys.path
    sys.path_importer_cache.clear()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
