"""-fuzzy-join semantics: containment wins, radius fallback, drops."""

from __future__ import annotations

from mapshaper_spark.operators import spatial_join as sj


def _layer(spark):
    # two unit-ish squares 10 apart (open rings, CCW)
    polys = spark.createDataFrame(
        [
            (0, "a", [0.0, 4.0, 4.0, 0.0], [0.0, 0.0, 4.0, 4.0]),
            (1, "b", [14.0, 18.0, 18.0, 14.0], [0.0, 0.0, 4.0, 4.0]),
        ],
        "poly_id int, name string, xs array<double>, ys array<double>",
    )
    return polys


def _fuzzy(pts, polys, radius):
    rows = sj.fuzzy_join(pts, polys, radius=radius).collect()
    return {(r["point_id"], r["poly_id"], r["fuzzy"]) for r in rows}


def test_fuzzy_join_kinds_and_drops(spark):
    polys = _layer(spark)
    idx = sj.build_cell_index(spark, polys)
    pts = spark.createDataFrame(
        [
            (0, 2.0, 2.0),  # inside a -> fuzzy=0
            (1, 5.5, 2.0),  # 1.5 right of a -> fuzzy=1 to a
            (2, 12.5, 2.0),  # 1.5 left of b -> fuzzy=1 to b
            (3, 9.0, 50.0),  # far from both -> dropped
        ],
        "point_id long, lon double, lat double",
    )
    hits = sj.pip_attribute(pts, idx)
    assert {(r["point_id"], r["poly_id"]) for r in hits.collect()} == {(0, 0)}

    out = _fuzzy(pts, polys, radius=2.0)
    assert out == {(0, 0, 0), (1, 0, 1), (2, 1, 1)}


def test_fuzzy_join_uses_callers_layer(spark):
    """Containment is tested against the ``polygons`` argument's own
    rings, not the default fixture layer: the point inside square a
    comes back as fuzzy=0."""
    polys = _layer(spark)
    pts = spark.createDataFrame(
        [(0, 2.0, 2.0), (1, 5.5, 2.0), (2, 12.5, 2.0)],
        "point_id long, lon double, lat double",
    )
    out = _fuzzy(pts, polys, radius=2.0)
    assert out == {(0, 0, 0), (1, 0, 1), (2, 1, 1)}


def test_fuzzy_join_tie_breaks_to_smaller_poly_id(spark):
    polys = _layer(spark)
    # exact midpoint between the two facing edges (x=4 and x=14)
    pts = spark.createDataFrame(
        [(0, 9.0, 2.0)], "point_id long, lon double, lat double"
    )
    out = _fuzzy(pts, polys, radius=6.0)
    assert out == {(0, 0, 1)}


def test_fuzzy_radius_boundary_is_inclusive(spark):
    polys = _layer(spark)
    pts = spark.createDataFrame(
        [(0, 6.0, 2.0), (1, 6.5, 2.0)],
        "point_id long, lon double, lat double",
    )
    # d to a's right edge: 2.0 (== radius, kept) and 2.5 (dropped)
    out = _fuzzy(pts, polys, radius=2.0)
    assert out == {(0, 0, 1)}
