"""Level-by-level convex cover (``spatial_join._cover``): partition
property, agreement with the corner test, size advantage of a coarser
``min_res``, and join equivalence across level ranges."""

from __future__ import annotations

import numpy as np

from mapshaper_spark import cells, fixtures, geometry
from mapshaper_spark.operators import spatial_join as sj
from mapshaper_spark.sources import testdata

from .conftest import SF_SMOKE


def _ring(pid):
    return np.asarray(fixtures.POLYGONS[pid]["ring"], dtype=float)


def test_cover_cells_partition_no_overlap():
    """Cover cells of one polygon must be pairwise disjoint regions
    (FULL coarse cells never overlap finer cells)."""
    cid, _full = sj._cover(_ring(5), 3, 6)
    assert len(cid)
    boxes = [cells.cell_bounds(int(c)) for c in cid]
    for i in range(len(boxes)):
        for j in range(i + 1, len(boxes)):
            a, b = boxes[i], boxes[j]
            overlap = (
                a[0] < b[2] and a[2] > b[0] and a[1] < b[3] and a[3] > b[1]
            )
            assert not overlap, (boxes[i], boxes[j])


def test_cover_full_cells_inside_polygon():
    ring = _ring(5)
    cid, full = sj._cover(ring, 3, 6)
    assert full.any()
    for c in cid[full]:
        x0, y0, x1, y1 = cells.cell_bounds(int(c))
        px = np.array([x0, x1, x0, x1, (x0 + x1) / 2])
        py = np.array([y0, y0, y1, y1, (y0 + y1) / 2])
        assert geometry.pip_convex(px, py, ring).all()


def test_one_level_cover_is_corner_test_minus_separated_cells():
    """At ``min_res == res`` the cover is the bbox grid: FULL exactly
    where all four corners pass ``geometry.pip_convex``, and every bbox
    cell left out has an edge with all four corners strictly outside."""
    res = sj.DEFAULT_RES
    for p in fixtures.POLYGONS:
        ring = np.asarray(p["ring"], dtype=float)
        ix, iy = sj._bbox_cells(ring[:, 0], ring[:, 1], res)
        x_lo, y_lo, x_hi, y_hi = sj._cell_bounds(ix, iy, res)
        corners = [(x_lo, y_lo), (x_hi, y_lo), (x_lo, y_hi), (x_hi, y_hi)]
        all_in = np.logical_and.reduce([geometry.pip_convex(x, y, ring) for x, y in corners])
        nxt = np.roll(ring, -1, axis=0)
        separated = np.zeros(len(ix), dtype=bool)
        for (ax, ay), (bx, by) in zip(ring, nxt):
            separated |= np.logical_and.reduce(
                [(bx - ax) * (y - ay) - (by - ay) * (x - ax) < 0.0 for x, y in corners]
            )
        bbox_ids = cells.cell_id_from_xy_np(ix, iy, res)
        cid, full = sj._cover(ring, res, res)
        assert set(cid[full]) == set(bbox_ids[all_in]), p["poly_id"]
        assert set(cid) == set(bbox_ids[~separated]), p["poly_id"]


def test_hier_index_smaller_than_flat_at_same_leaf_res(spark):
    polys = testdata.polygons(spark)
    flat = sj.build_cell_index(spark, polys, res=6).count()
    hier = sj.build_cell_index(spark, polys, res=6, min_res=3).count()
    assert hier < flat, (hier, flat)


def test_hier_join_matches_flat_join(spark):
    pts = testdata.customer_points(spark, SF_SMOKE)
    polys = testdata.polygons(spark)
    flat_idx = sj.build_cell_index(spark, polys, res=6)
    hier_idx = sj.build_cell_index(spark, polys, res=6, min_res=3)
    a = sj.pip_attribute(pts, flat_idx).select("point_id", "poly_id")
    b = sj.pip_attribute(pts, hier_idx).select("point_id", "poly_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_hier_perimeter_scaling():
    """Doubling leaf resolution should grow the cover ~2x (perimeter
    scaling), NOT ~4x (area scaling) — the whole point of the hierarchy."""
    ring = _ring(8)
    n6 = len(sj._cover(ring, 3, 6)[0])
    n8 = len(sj._cover(ring, 3, 8)[0])
    assert n8 < n6 * 5.5  # area scaling would be ~16x
