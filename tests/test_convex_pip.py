"""Convex PIP as a JVM half-plane filter over edge columns the cell
index carries: every caller answers for the layer and the levels its
index was built with (no fixture default, no level arguments), an index
without edge columns or level metadata fails loudly, and short rings
are padded by repeating edge 0."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mapshaper_spark import cells, fixtures, geometry
from mapshaper_spark.operators import skew as skew_op
from mapshaper_spark.operators import spatial_join as sj
from mapshaper_spark.sources import testdata

_CALLERS = {
    "broadcast": lambda pts, idx: sj.pip_attribute(pts, idx),
    "salted": lambda pts, idx: skew_op.pip_attribute_salted(pts, idx, target_rows_per_task=20),
}

# the fixture rings moved by an offset that is no multiple of the res-6
# cell size (5.625 x 2.8125 degrees), so cover and FULL/PARTIAL split
# differ from the fixture layer's
_OFFSET = (-3.3, 1.7)
_LAYER = [
    {**p, "ring": [(x + _OFFSET[0], y + _OFFSET[1]) for x, y in p["ring"]]}
    for p in fixtures.POLYGONS
]


def _layer_df(spark):
    return spark.createDataFrame(
        fixtures.polygons_pdf(_LAYER),
        schema="poly_id int, name string, xs array<double>, ys array<double>",
    )


def _layer_points(spark):
    """Uniform points over the layer plus every ring vertex and edge
    midpoint (boundary cases), with the brute-force pip_convex pairs."""
    rng = np.random.default_rng(17)
    rings = {p["poly_id"]: np.asarray(p["ring"]) for p in _LAYER}
    xs, ys = [rng.uniform(-180.0, 180.0, 6000)], [rng.uniform(-80.0, 60.0, 6000)]
    for ring in rings.values():
        mid = (ring + np.roll(ring, -1, axis=0)) / 2.0
        xs += [ring[:, 0], mid[:, 0]]
        ys += [ring[:, 1], mid[:, 1]]
    lon, lat = np.concatenate(xs), np.concatenate(ys)
    ids = np.arange(len(lon))
    pdf = pd.DataFrame({"point_id": ids, "lon": lon, "lat": lat, "v": (ids % 7).astype(float)})
    pts = spark.createDataFrame(pdf, "point_id long, lon double, lat double, v double")
    want = {
        (int(i), pid)
        for pid, ring in rings.items()
        for i in ids[geometry.pip_convex(lon, lat, ring)]
    }
    assert len(want) > 500
    return pts, pdf, want


def test_callers_match_pip_convex_on_own_layer(spark):
    """Broadcast, salted, clip/erase and polygon_point_agg over a flat
    and a hierarchical index of a non-fixture layer, with no rings and
    no level arguments, equal the brute-force ``geometry.pip_convex``
    answer: every caller reads the levels off the index."""
    polys = _layer_df(spark)
    pts, pdf, want = _layer_points(spark)
    inside = {i for i, _ in want}
    v = pdf["v"].to_numpy()
    by_poly: dict[int, list[int]] = {}
    for i, pid in want:
        by_poly.setdefault(pid, []).append(i)

    for min_res in (None, 3):
        idx = sj.build_cell_index(spark, polys, min_res=min_res)
        for name, caller in _CALLERS.items():
            got = {(r["point_id"], r["poly_id"]) for r in caller(pts, idx).collect()}
            assert got == want, (name, min_res)

        assert {r["point_id"] for r in sj.clip_points(pts, idx).collect()} == inside
        erased = {r["point_id"] for r in sj.clip_points(pts, idx, invert=True).collect()}
        assert erased == set(pdf["point_id"]) - inside

        agg = {r["poly_id"]: (r["n_points"], r["sum_value"]) for r in
               sj.polygon_point_agg(pts, idx, "v").collect()}
        assert agg == {pid: (len(ix), float(v[ix].sum())) for pid, ix in by_poly.items()}


def test_levels_ride_the_index_and_bare_frames_raise(spark):
    # the levels live in the cell_id column's metadata and survive the
    # transforms callers apply to a built index; a frame without them
    # fails when the join is planned, before any job
    idx = sj.build_cell_index(spark, _layer_df(spark), min_res=3)
    levels = {"min_res": 3, "res": sj.DEFAULT_RES, "kind": "convex"}
    for frame in (
        idx,
        idx.localCheckpoint(),
        idx.select("cell_id", "poly_id", "coverage"),
        idx.hint("shuffle_hash"),
        F.broadcast(idx),
    ):
        assert frame.schema["cell_id"].metadata == levels
    bare = spark.createDataFrame([(0, 0, sj.FULL)], "cell_id long, poly_id int, coverage string")
    pts = spark.createDataFrame([(0, 1.0, 1.0)], "point_id long, lon double, lat double")
    with pytest.raises(ValueError, match="build_cell_index"):
        sj.pip_attribute(pts, bare)


def _index(spark, min_res: int | None):
    # a real built index projected to its key columns: its levels
    # survive, its edge columns do not
    idx = sj.build_cell_index(spark, _layer_df(spark), min_res=min_res)
    return idx.select("cell_id", "poly_id", "coverage")


@pytest.mark.parametrize(
    "caller, min_res", [("broadcast", None), ("salted", None), ("broadcast", 3)],
    ids=["broadcast", "salted", "hier"],
)
def test_partial_row_without_ring_raises(spark, caller, min_res):
    # an index that carries no edge columns fails on the driver instead
    # of dropping PARTIAL rows
    pts = spark.createDataFrame(
        [(0, 1.0, 1.0), (1, 30.0, -20.0)], "point_id long, lon double, lat double"
    )
    with pytest.raises(ValueError, match="no edge columns"):
        _CALLERS[caller](pts, _index(spark, min_res))


def test_duplicate_poly_id_raises(spark):
    two = [dict(p, poly_id=0) for p in _LAYER[:2]]
    polys = spark.createDataFrame(
        fixtures.polygons_pdf(two),
        schema="poly_id int, name string, xs array<double>, ys array<double>",
    )
    with pytest.raises(ValueError, match="one ring per poly_id"):
        sj.build_cell_index(spark, polys)


@pytest.mark.parametrize("ring", [lambda r: r[::-1], lambda r: r[:2] * 2], ids=["cw", "flat"])
def test_cw_or_degenerate_ring_raises(spark, ring):
    # a clockwise ring (mapshaper's outer-ring order) or one with no
    # area fails every half-plane test: reject it instead of matching
    # nothing
    layer = [dict(p, ring=ring(p["ring"])) if p["poly_id"] == 5 else p for p in _LAYER]
    polys = spark.createDataFrame(
        fixtures.polygons_pdf(layer),
        schema="poly_id int, name string, xs array<double>, ys array<double>",
    )
    with pytest.raises(ValueError, match="poly_id 5"):
        sj.build_cell_index(spark, polys)


@pytest.mark.parametrize("res, min_res", [(6, 7), (6, -1), (cells.MAX_RES + 1, 6), (-1, None)])
def test_bad_levels_raise_before_any_job(res, min_res):
    # rejected on the driver: no Spark call is reached (the frames are
    # never touched)
    with pytest.raises(ValueError, match="min_res <= res"):
        sj.build_cell_index(None, None, res=res, min_res=min_res)


def test_empty_layer_matches_nothing(spark):
    polys = spark.createDataFrame([], "poly_id int, xs array<double>, ys array<double>")
    pts = spark.createDataFrame([(0, 1.0, 1.0)], "point_id long, lon double, lat double")
    assert sj.pip_attribute(pts, sj.build_cell_index(spark, polys)).count() == 0
    hier = sj.build_cell_index(spark, polys, min_res=3)
    assert sj.pip_attribute(pts, hier).count() == 0


def test_short_rings_padded_with_edge_zero(spark):
    # a triangle beside an octagon: K = 8, the triangle repeats edge 0,
    # and edge j holds numpy's (dx, dy, x1, y1) bit for bit
    idx = sj.build_cell_index(spark, testdata.polygons(spark))
    k = sum(c.startswith("_hdx") for c in idx.columns)
    assert k == max(len(p["ring"]) for p in fixtures.POLYGONS)
    tri = next(p for p in fixtures.POLYGONS if len(p["ring"]) == 3)
    row = idx.filter(F.col("poly_id") == tri["poly_id"]).first()
    ring = np.asarray(tri["ring"])
    nxt = np.roll(ring, -1, axis=0)
    for j in range(k):
        e = j if j < 3 else 0
        want = (nxt[e, 0] - ring[e, 0], nxt[e, 1] - ring[e, 1], ring[e, 0], ring[e, 1])
        assert tuple(row[f"{c}{j}"] for c in ("_hdx", "_hdy", "_hx", "_hy")) == want


def test_cell_ids_match_cell_sql_at_every_level(spark):
    """``with_cell`` at every res 0..MAX_RES, and the one-row-per-level
    explode over all of them, give ``cells.cell_sql``'s ids in Spark, on
    poles, ±180, cell edges, NaN, ±inf and out-of-range inputs; on
    finite inputs they also equal ``cells.cell_id_np``."""
    import pyarrow as pa

    edge = [0.0, -0.0, 90.0, -90.0, 180.0, -180.0, 179.99999999999997, -179.99999999999997,
            1e-300, 5e-324, 200.0, -1000.0, 1e300, -1e300, np.nan, np.inf, -np.inf]
    lon = np.r_[np.repeat(edge, len(edge)), np.random.default_rng(3).uniform(-181, 181, 200),
                -180.0 + np.arange(40) * 360.0 / (1 << cells.MAX_RES)]
    lat = np.r_[np.tile(edge, len(edge)), np.random.default_rng(4).uniform(-91, 91, 200),
                -90.0 + np.arange(40) * 180.0 / (1 << cells.MAX_RES)]
    df = spark.createDataFrame(pa.table({"i": np.arange(len(lon)), "x": lon, "y": lat}))
    levels = range(cells.MAX_RES + 1)
    for r in levels:
        df = sj.with_cell(df, r, lon="x", lat="y").withColumnRenamed("cell_id", f"c{r}")
    want = [F.expr(cells.cell_sql("x", "y", r)).alias(f"w{r}") for r in levels]
    df = df.select("*", *want).withColumnRenamed("x", "lon").withColumnRenamed("y", "lat")
    got = sj._with_cells(df, levels).toPandas().sort_values(["i", "cell_id"])
    per_point = got.drop_duplicates("i")
    assert len(per_point) == len(lon) and len(got) == len(lon) * len(levels)
    finite = np.isfinite(per_point["lon"]) & np.isfinite(per_point["lat"])
    for r in levels:
        assert (per_point[f"c{r}"] == per_point[f"w{r}"]).all(), r
        np_ids = cells.cell_id_np(per_point["lon"][finite].to_numpy(), per_point["lat"][finite].to_numpy(), r)
        assert (per_point[f"c{r}"][finite].to_numpy() == np_ids).all(), r
    # the explode gives each point its id at every level, once
    res = got["cell_id"].to_numpy() & 31
    want_ids = np.choose(res, [got[f"w{r}"].to_numpy() for r in levels])
    assert (got["cell_id"].to_numpy() == want_ids).all()
    assert (got.groupby("i")["cell_id"].nunique() == len(levels)).all()
