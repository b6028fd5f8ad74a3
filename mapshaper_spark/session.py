"""SparkSession factory tuned for the engine.

Local mode defaults to every core this process may run on
(``SPARK_GRAFT_CPUS`` overrides); on a real cluster the same confs
apply per-executor and the shuffle-partition count should be raised to
~2-3x total cores (AQE coalesces down).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


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
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
