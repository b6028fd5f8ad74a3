"""SparkSession factory tuned for the engine.

Local mode defaults to every core this process may run on
(``SPARK_GRAFT_CPUS`` overrides); on a real cluster the same confs
apply per-executor and the shuffle-partition count should be raised to
~2-3x total cores (AQE coalesces down).

Python workers start from :mod:`mapshaper_spark._worker_daemon`
(``spark.python.daemon.module``). With ``SPARK_HOME`` set, Spark puts
``pyspark.zip``, the py4j zip and the spark-core jar first on every
worker's ``PYTHONPATH``, so the stock daemon imports pyspark through
zipimport. Every task then calls ``importlib.invalidate_caches()``,
which makes each cached zipimporter (one per archive and one per
zip-imported subpackage) re-read its archive's central directory:
11 ms for a pyspark.zip importer, 45 ms for the spark-core jar's, on
every task, worker reuse or not. The engine daemon drops those archive
entries when plain pyspark and py4j are findable and then runs the
stock ``pyspark.daemon``. On verify_salted_tiles, the MapInPandas
"time to run Python workers" went 1.56 → 0.91 s per op (one traced
pair) and ``op_p50_s`` 1.179 → 0.982 s (medians of 10 fresh-process
pairs, the daemon faster in all 10; 4 cores).

The daemon must import from any working directory, so the package's
parent directory goes first on ``spark.executorEnv.PYTHONPATH``,
merged with a value the caller passes in ``extra_conf``. A caller's own
``spark.python.daemon.module`` wins. Neither conf is set when this
package was itself loaded from a zip (the ``--py-files`` deployment):
there the daemon cannot be imported before the first task ships the
zip, and workers keep the stock daemon. They keep it too when the
driver's own pyspark was loaded from a zip, so a worker never swaps the
driver's pyspark for another install it happens to find.
"""

from __future__ import annotations

import os

import pyspark
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def _worker_conf(extra_conf: dict) -> dict:
    """``extra_conf`` plus the worker-daemon confs (module docstring):
    none when the package was loaded from a zip, and no daemon module
    when the driver's pyspark was."""
    conf = dict(extra_conf)
    if not os.path.isdir(_PKG_DIR):
        return conf
    if os.path.isfile(pyspark.__file__):
        conf.setdefault("spark.python.daemon.module", f"{__package__}._worker_daemon")
    paths = [os.path.dirname(_PKG_DIR)]
    paths += [p for p in conf.get(_PYTHONPATH, "").split(os.pathsep) if p and p not in paths]
    conf[_PYTHONPATH] = os.pathsep.join(paths)
    return conf


def get_spark(
    app_name: str = "mapshaper_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE on AQE coalescing vs grouped-Arrow geometry folds: AQE
        # coalesces by BYTES, but the per-cell/per-feature folds are
        # compute-bound with KB-sized inputs — the 1 MiB default
        # minPartitionSize collapsed a 32-way per-feature union stage
        # to ONE task (measured 23.9 s -> 2.7 s at 1000 features). A
        # session-wide 1-byte floor fixes those but costs the JVM-side
        # fixture queries ~1.3x in task overhead (interleaved A/B), so
        # the fix is TARGETED instead: the compute-bound fold operators
        # repartition(P, group keys) right before groupBy.applyInPandas
        # (overlay._fold_parallel) — the explicit repartition satisfies
        # the grouping distribution (exchange elided) and AQE never
        # coalesces user-specified repartitions.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # image `bytes` payloads are large; bound Arrow batch size so
        # binary-heavy UDF stages don't blow executor memory at scale
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
    )
    for k, v in _worker_conf(extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
