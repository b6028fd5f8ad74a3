"""Explicit salt-based skew mitigation for dense cells [BASELINE.json
north_rule: "explicit salt-based skew mitigation for dense cells"].

The PIP attribution join shuffles points on ``cell_id``. Real-world point
sets are heavily skewed (cities): the fixture generator collapses 20% of
points into 3 hotspot cells, so one reducer would own ~7% of the whole
table. AQE's skew-join split is a backstop, but it only kicks in for
sort-merge joins after the skewed shuffle files already exist; the engine
mitigates *before* the shuffle:

1. one cheap stats pass counts points per cell (map-side partial agg, a
   few-KB result);
2. cells above ``hot_threshold`` get a salt domain of size
   ``ceil(count / target_rows_per_task)`` capped at ``max_salt``;
3. points in hot cells get ``salt = pmod(xxhash64(point_id), k)``
   (deterministic — resume-safe), cold cells salt 0;
4. the build side (cell index) is replicated per salt value via
   ``explode(sequence(0, k-1))``, so the equi-join key becomes
   ``(cell_id, salt)`` and a hot cell fans out over k tasks.

Result rows are identical to the unsalted join (the salt never reaches
the output), so the same DuckDB oracle grades both paths.

Upstream analog: none — mapshaper is single-threaded, skew is purely a
distributed concern [SURVEY.md §4.2 item 4].
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .spatial_join import _point_cells, keep_inside


def cell_salt_factors(
    points_with_cell: DataFrame,
    target_rows_per_task: int = 250_000,
    hot_threshold: int | None = None,
    max_salt: int = 64,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Per-cell salt domain size from measured counts: (cell_id, salt_k).

    Only hot cells appear (cold cells implicitly salt_k=1), so the result
    is tiny and always broadcastable. ``sample_fraction`` estimates the
    counts from a seeded sample (scaled back up) — at production scale
    the stats pass shouldn't re-scan the full fact table; salting is a
    plan choice, so sampling error never changes results, only balance.
    """
    hot_threshold = hot_threshold or target_rows_per_task
    src = points_with_cell
    scale = 1.0
    if sample_fraction and sample_fraction < 1.0:
        src = src.sample(fraction=sample_fraction, seed=42)
        scale = 1.0 / sample_fraction
    return (
        src.groupBy("cell_id")
        .agg((F.count(F.lit(1)) * F.lit(scale)).alias("_n"))
        .filter(F.col("_n") >= hot_threshold)
        .select(
            "cell_id",
            F.least(
                F.lit(max_salt),
                F.ceil(F.col("_n") / F.lit(target_rows_per_task)).cast("int"),
            ).alias("salt_k"),
        )
    )


def salted_equi_join(
    facts: DataFrame,
    dims: DataFrame,
    key: str,
    salt_factors: DataFrame,
    fact_id: str,
) -> DataFrame:
    """Generic salted equi-join: facts ⋈ dims on ``key`` with hot keys
    spread over ``salt_k`` subtasks. ``salt_factors``: (key, salt_k).

    The dim side is replicated salt_k× for hot keys only — replication
    cost is bounded by (#hot keys × max_salt), never by table size.
    """
    sf = F.broadcast(salt_factors)
    f = (
        facts.join(sf, key, "left")
        .withColumn(
            "_salt",
            F.when(
                F.col("salt_k").isNotNull(),
                F.pmod(F.xxhash64(F.col(fact_id)), F.col("salt_k")).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("salt_k")
    )
    d = (
        dims.join(sf, key, "left")
        .withColumn(
            "_salt",
            F.explode(
                F.sequence(
                    F.lit(0), (F.coalesce(F.col("salt_k"), F.lit(1)) - 1).cast("int")
                )
            ),
        )
        .withColumn("_salt", F.col("_salt").cast("int"))
        .drop("salt_k")
    )
    # hint at the join site (hints attached upstream are lost through
    # the explode/withColumn transforms): keep this a shuffled join so
    # salting is actually exercised; production hits this shape once the
    # dim exceeds the broadcast threshold anyway
    return f.join(d.hint("shuffle_hash"), [key, "_salt"]).drop("_salt")


def pip_attribute_salted(
    points: DataFrame,
    cell_index: DataFrame,
    target_rows_per_task: int = 250_000,
    hot_threshold: int | None = None,
    sample_fraction: float | None = None,
    stats_points: DataFrame | None = None,
) -> DataFrame:
    """PIP attribution via the salted shuffle join — bit-identical output
    to :func:`spatial_join.pip_attribute`, different physical plan.

    ``pip_attribute`` broadcasts the index (right when it fits); this
    path is for the regime where the index itself is shuffle-joined
    (continent-scale polygon layers) and hot cells would straggle. Point
    cells come from the levels ``cell_index`` records, as there.

    ``stats_points``: optional cheaper source for the salt statistics
    (e.g. the raw column-pruned scan when ``points`` sits downstream of
    an expensive map stage — sampling cannot push through a UDF).
    """
    pts = _point_cells(points, cell_index)
    stats_src = _point_cells(stats_points, cell_index) if stats_points is not None else pts
    factors = cell_salt_factors(
        stats_src, target_rows_per_task, hot_threshold, sample_fraction=sample_fraction
    )
    # hint shuffle_hash: keep it a shuffled (not broadcast) join so the
    # salting is actually exercised; at production scale Spark would pick
    # this shape on its own once the index exceeds the broadcast limit.
    cand = salted_equi_join(pts, cell_index.hint("shuffle_hash"), "cell_id", factors, "point_id")
    return keep_inside(cand)
