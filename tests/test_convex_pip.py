"""Convex PIP as a JVM half-plane filter: a polygon the index names but
the rings do not must fail loudly, never drop candidates silently; short
rings are padded by repeating edge 0."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapshaper_spark import fixtures
from mapshaper_spark.operators import hier_cover as hier_op
from mapshaper_spark.operators import skew as skew_op
from mapshaper_spark.operators import spatial_join as sj

_CALLERS = {
    "broadcast": lambda pts, idx, rings: sj.pip_attribute(pts, idx, rings),
    "salted": lambda pts, idx, rings: skew_op.pip_attribute_salted(
        pts, idx, rings, target_rows_per_task=1
    ),
    "hier": lambda pts, idx, rings: hier_op.pip_attribute_hier(
        pts, idx, rings, min_res=sj.DEFAULT_RES, max_res=sj.DEFAULT_RES
    ),
}


def _points(spark):
    return spark.createDataFrame(
        [(0, 1.0, 1.0), (1, 30.0, -20.0)], "point_id long, lon double, lat double"
    )


def _index(pts, poly_id: int, coverage: str):
    return sj.with_cell(pts).select(
        "cell_id",
        F.lit(poly_id).cast("int").alias("poly_id"),
        F.lit(coverage).alias("coverage"),
    )


@pytest.mark.parametrize("caller", sorted(_CALLERS))
def test_partial_row_without_ring_raises(spark, caller):
    pts = _points(spark)
    idx = _index(pts, 99, sj.PARTIAL)
    out = _CALLERS[caller](pts, idx, sj.fixture_rings())
    with pytest.raises(Exception, match="no ring for poly_id 99"):
        out.collect()


def test_full_row_without_ring_passes_untested(spark):
    # FULL rows never read their ring, as with the kernel before
    pts = _points(spark)
    out = sj.pip_attribute(pts, _index(pts, 99, sj.FULL), sj.fixture_rings())
    assert sorted(r["point_id"] for r in out.collect()) == [0, 1]


@pytest.mark.parametrize("caller", sorted(_CALLERS))
def test_empty_rings_raise_on_driver(spark, caller):
    pts = _points(spark)
    with pytest.raises(ValueError, match="non-empty rings"):
        _CALLERS[caller](pts, _index(pts, 0, sj.PARTIAL), {})


def test_short_rings_padded_with_edge_zero(spark):
    # a triangle beside an octagon: K = 8, the triangle repeats edge 0
    tri = next(p for p in fixtures.POLYGONS if len(p["ring"]) == 3)
    one = spark.createDataFrame([(tri["poly_id"],)], "poly_id int")
    edged, k = sj.with_edges(one)
    assert k == max(len(p["ring"]) for p in fixtures.POLYGONS)
    row = edged.first()
    for j in range(3, k):
        for c in ("_hdx", "_hdy", "_hx", "_hy"):
            assert row[f"{c}{j}"] == row[f"{c}0"]
