"""General (non-convex, multi-ring, holed) features through the graded
join core [VERDICT r1 next #3, #6]: winding-aware covers must emit FULL
cells and drop outside ones, hole points must miss, and the even-odd
kernel's closure transport must hold a polygon layer far beyond
dim size."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from mapshaper_spark import fixtures
from mapshaper_spark.operators import spatial_join as sj
from mapshaper_spark.sources import testdata

from .conftest import SF_SMOKE


def _pts(spark):
    return testdata.customer_points(spark, SF_SMOKE)


def _hits_set(df):
    return {(r["point_id"], r["poly_id"]) for r in df.select("point_id", "poly_id").collect()}


def test_general_cover_emits_full_and_drops_outside(spark):
    feats = testdata.holed_features(spark)
    idx = sj.build_cell_index_general(spark, feats).toPandas()
    by_poly = idx.groupby("poly_id")["coverage"].value_counts()
    for pid in (0, 1, 2, 3):
        assert by_poly[(pid, "FULL")] > 0, f"poly {pid}: no FULL cells"
    # donut (poly 0): bbox is 40x40 deg → 8 x 15 res-6 cells = 120; the
    # hole interior must be dropped, so the index is strictly smaller
    donut = idx[idx.poly_id == 0]
    assert len(donut) < 120


def test_hole_points_excluded(spark):
    """A synthetic point in the donut's hole must NOT match; a point in
    the ring body must."""
    pts = spark.createDataFrame(
        [(1, -150.0, -60.0), (2, -165.0, -45.0), (3, 0.0, 0.0)],
        "point_id long, lon double, lat double",
    )  # 1 = hole center, 2 = ring body, 3 = far away
    idx = sj.build_cell_index_general(spark, testdata.holed_features(spark))
    got = _hits_set(sj.pip_attribute_general(pts, idx, fixtures.multiring_rings()))
    assert (2, 0) in got
    assert all(pid != 1 for pid, _ in got if pid == 1) and (1, 0) not in got
    assert not any(p == 3 for p, _ in got)


def test_rect_decomposition_matches_signed_shoelace():
    """The oracle's signed rect decomposition of every holed feature must
    reproduce the rings' signed shoelace areas exactly — pins both the
    fixture and the ring orientations (holes CW, outers CCW)."""
    from mapshaper_spark import geometry

    decomp = {}
    for pid, x0, y0, x1, y1, s in fixtures.HOLED_RECT_DECOMP:
        decomp[pid] = decomp.get(pid, 0.0) + s * (x1 - x0) * (y1 - y0)
    for f in fixtures.HOLED_FEATURES:
        total = 0.0
        for ring in f["rings"]:
            xs = [p[0] for p in ring]
            ys = [p[1] for p in ring]
            a2, _, _ = geometry.shoelace_seq(xs, ys)
            total += a2 / 2.0
        assert total == decomp[f["poly_id"]], f["name"]
        assert total > 0.0


def test_grouped_kernel_scales_past_closure_size(spark):
    """10,000 axis-aligned boxes through the general cover and the
    even-odd kernel, whose ring dict rides the UDF closure — a layer
    far past dim size. Oracle: containment in an axis-aligned box is
    pure column math."""
    n_side = 100  # 100 x 100 boxes over lon [-180,180) x lat [-85,85)
    bw, bh = 360.0 / n_side, 170.0 / n_side
    boxes = (
        spark.range(n_side * n_side)
        .select(
            F.col("id").cast("int").alias("poly_id"),
            F.lit(0).alias("ring_idx"),
            (F.lit(-180.0) + (F.col("id") % n_side) * bw).alias("x0"),
            (F.lit(-85.0) + (F.col("id") / n_side).cast("int") * bh).alias("y0"),
        )
        .select(
            "poly_id",
            "ring_idx",
            F.array("x0", F.col("x0") + bw, F.col("x0") + bw, "x0").alias("xs"),
            F.array("y0", "y0", F.col("y0") + bh, F.col("y0") + bh).alias("ys"),
        )
    )
    pts = _pts(spark).filter(F.col("lat") < 84.9)  # stay inside the box sheet
    idx = sj.build_cell_index_general(spark, boxes, res=6)
    rings = {
        r["poly_id"]: np.column_stack([r["xs"], r["ys"]])
        for r in boxes.select("poly_id", "xs", "ys").collect()
    }
    assert len(rings) == n_side * n_side
    got = sj.pip_attribute_general(pts, idx, rings)

    # analytic truth: box index from floor math (half-open boxes [lo, hi))
    want = pts.select(
        "point_id",
        (
            F.floor((F.col("lat") + 85.0) / bh) * n_side
            + F.floor((F.col("lon") + 180.0) / bw)
        )
        .cast("int")
        .alias("poly_id"),
    )
    got_set = _hits_set(got)
    want_set = _hits_set(want)
    # boundary rule differs only on exact box edges (measure-zero for the
    # derived points: 2-decimal coords vs 3.6/1.7-degree boxes can tie on
    # .0 edges) — compare off-boundary points exactly
    eps = 1e-9
    on_edge = pts.filter(
        (F.abs((F.col("lon") + 180.0) % bw) < eps)
        | (F.abs((F.col("lat") + 85.0) % bh) < eps)
    )
    edge_ids = {r["point_id"] for r in on_edge.collect()}
    got_in = {(p, q) for p, q in got_set if p not in edge_ids}
    want_in = {(p, q) for p, q in want_set if p not in edge_ids}
    assert got_in == want_in and len(got_in) > 100
