"""Polygon overlay kernels: Sutherland-Hodgman clip goldens, erase area
accounting, largest-overlap join, WebMercator roundtrip."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapshaper_spark import geometry
from mapshaper_spark.functions import proj as proj_fn
from mapshaper_spark.operators import overlay
from mapshaper_spark.sources import testdata

from .conftest import SF_SMOKE


# ------------------------------------------------ kernel goldens (no Spark)


def test_sh_clip_square_by_offset_square():
    """Unit square ∩ unit square shifted by (0.5, 0.5) = 0.5x0.5 square."""
    xs = np.array([0.0, 1.0, 1.0, 0.0])
    ys = np.array([0.0, 0.0, 1.0, 1.0])
    win = np.array([[0.5, 0.5], [1.5, 0.5], [1.5, 1.5], [0.5, 1.5]])
    cx, cy = geometry.clip_ring_convex(xs, ys, win)
    a2, _, _ = geometry.shoelace_seq(cx, cy)
    assert a2 / 2.0 == pytest.approx(0.25)


def test_sh_clip_disjoint_is_empty():
    xs = np.array([0.0, 1.0, 1.0, 0.0])
    ys = np.array([0.0, 0.0, 1.0, 1.0])
    win = np.array([[5.0, 5.0], [6.0, 5.0], [6.0, 6.0], [5.0, 6.0]])
    cx, _cy = geometry.clip_ring_convex(xs, ys, win)
    assert len(cx) == 0


def test_sh_clip_contained_returns_subject():
    xs = np.array([0.4, 0.6, 0.6, 0.4])
    ys = np.array([0.4, 0.4, 0.6, 0.6])
    win = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])
    cx, cy = geometry.clip_ring_convex(xs, ys, win)
    a2, _, _ = geometry.shoelace_seq(cx, cy)
    assert a2 / 2.0 == pytest.approx(0.04)


def test_sh_clip_triangle_by_halfcovering_square():
    """Triangle (0,0)(2,0)(0,2) ∩ square [0,1]² = area 1.5·(1/2)? No —
    hand-computed: pieces (0,0)(1,0)(1,1)(0,1) minus corner above line
    x+y=2 → the full unit square is inside the triangle except nothing:
    x+y<=2 everywhere on the square boundary except corner (1,1) where
    x+y=2 exactly → area 1.0."""
    xs = np.array([0.0, 2.0, 0.0])
    ys = np.array([0.0, 0.0, 2.0])
    win = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])
    cx, cy = geometry.clip_ring_convex(xs, ys, win)
    a2, _, _ = geometry.shoelace_seq(cx, cy)
    assert a2 / 2.0 == pytest.approx(1.0)


# ---------------------------------------------------------- Spark operators


def test_clip_polygons_area_bounds(spark):
    out = overlay.clip_polygons(
        testdata.polygons(spark), testdata.clip_polygons(spark)
    ).collect()
    assert len(out) > 10
    from mapshaper_spark import fixtures

    own = {}
    for p in fixtures.POLYGONS:
        ring = np.asarray(p["ring"])
        a2, _, _ = geometry.shoelace_seq(ring[:, 0], ring[:, 1])
        own[p["poly_id"]] = a2 / 2.0
    for r in out:
        assert r["area"] > -1e-9
        assert r["area"] <= own[r["subject_id"]] + 1e-6  # piece ≤ subject


def test_erase_remaining_area_bounds(spark):
    rem = overlay.erase_polygons_area(
        testdata.polygons(spark), testdata.clip_polygons(spark)
    ).collect()
    assert len(rem) == 16
    for r in rem:
        # clip layer polygons may overlap each other, so remaining can
        # undershoot, but it must never exceed the subject's own area
        assert r["remaining_area"] <= 2000.0


def test_largest_overlap_winner_is_argmax(spark):
    pieces = overlay.clip_polygons(
        testdata.polygons(spark), testdata.clip_polygons(spark)
    ).collect()
    best = {}
    for r in pieces:
        k = r["subject_id"]
        cand = (-r["area"], r["clip_id"])
        if k not in best or cand < best[k]:
            best[k] = cand
    got = overlay.largest_overlap_join(
        testdata.polygons(spark), testdata.clip_polygons(spark)
    ).collect()
    for r in got:
        assert best[r["poly_id"]][1] == r["src_id"]
        assert -best[r["poly_id"]][0] == pytest.approx(r["overlap_area"])


# ------------------------------------------------------- polyline clip


def test_clip_polyline_horizontal_through_square():
    ring = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])
    xs = np.arange(-2.0, 7.0, 1.0)
    ys = np.full_like(xs, 2.0)
    pieces = geometry.clip_polyline_convex(xs, ys, ring)
    assert len(pieces) == 1
    px, py = pieces[0]
    assert px[0] == pytest.approx(0.0) and px[-1] == pytest.approx(4.0)
    assert geometry.path_length(px, py) == pytest.approx(4.0)


def test_clip_polyline_zigzag_two_pieces():
    """A V-shape dipping below the window exits and re-enters → 2 pieces."""
    ring = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    xs = np.array([1.0, 4.0, 6.0, 9.0])
    ys = np.array([5.0, -5.0, -5.0, 5.0])
    pieces = geometry.clip_polyline_convex(xs, ys, ring)
    assert len(pieces) == 2


def test_clip_polyline_fully_inside_kept_whole():
    ring = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    xs = np.array([1.0, 3.0, 5.0])
    ys = np.array([1.0, 2.0, 1.0])
    pieces = geometry.clip_polyline_convex(xs, ys, ring)
    assert len(pieces) == 1
    assert len(pieces[0][0]) == 3


def test_clip_polylines_matches_chord_length(spark):
    """Engine clipped length for each horizontal cross-line == the
    analytic chord interval of the convex polygon at that latitude."""
    from mapshaper_spark import fixtures
    from mapshaper_spark.operators import topology

    lines = topology.arcs_df(spark, fixtures.CROSS_LINES)
    got = {
        (r["arc_id"], r["clip_id"]): r["total_len"]
        for r in overlay.clip_polylines(lines, testdata.polygons(spark)).collect()
    }
    assert len(got) >= 8
    for line in fixtures.CROSS_LINES:
        y = line["ys"][0]
        for p in fixtures.POLYGONS:
            ring = np.asarray(p["ring"])
            x1, yy1 = ring[:, 0], ring[:, 1]
            x2, yy2 = np.roll(x1, -1), np.roll(yy1, -1)
            crosses = (yy1 > y) != (yy2 > y)
            key = (line["arc_id"], p["poly_id"])
            if crosses.sum() < 2:
                assert key not in got
                continue
            xint = x1[crosses] + (y - yy1[crosses]) * (x2[crosses] - x1[crosses]) / (
                yy2[crosses] - yy1[crosses]
            )
            # clamp the chord to the line's own extent (some fixture
            # polygons overhang the lon domain)
            lo = max(float(xint.min()), -180.0)
            hi = min(float(xint.max()), 180.0)
            want = max(0.0, hi - lo)
            if want == 0.0:
                assert key not in got
                continue
            assert got[key] == pytest.approx(want, abs=1e-6), key


def test_export_geojson_parses(spark):
    import json

    from mapshaper_spark import queries as Q

    rows = Q.QUERIES["export_geojson_points"](spark, SF_SMOKE).limit(20).collect()
    assert rows
    for r in rows:
        f = json.loads(r["geojson"])
        assert f["type"] == "Feature"
        assert f["properties"]["id"] == r["point_id"]
        lon, lat = f["geometry"]["coordinates"]
        assert -180.0 <= lon <= 180.0 and -90.0 <= lat <= 90.0


def test_webmercator_roundtrip(spark):
    pts = testdata.customer_points(spark, SF_SMOKE)
    m = proj_fn.from_webmercator(proj_fn.to_webmercator(pts))
    bad = m.filter(
        (F.abs(F.col("lon2") - F.col("lon")) > 1e-9)
        | (F.abs(F.col("lat2") - F.col("lat")) > 1e-9)
    ).count()
    assert bad == 0


def test_webmercator_known_point(spark):
    df = spark.createDataFrame([(0.0, 0.0), (180.0, 0.0)], "lon double, lat double")
    rows = proj_fn.to_webmercator(df).orderBy("lon").collect()
    assert rows[0]["mx"] == pytest.approx(0.0, abs=1e-6)
    assert rows[0]["my"] == pytest.approx(0.0, abs=1e-6)
    assert rows[1]["mx"] == pytest.approx(20037508.342789244)


def test_webmercator_tile_goldens(spark):
    """Hand-computed slippy z/x/y tiles for known cities (the public
    OSM tile formula): NYC (-73.98, 40.75) z4 → (4, 6); Paris
    (2.35, 48.86) z4 → (8, 5); Tokyo (139.69, 35.68) z4 → (14, 6);
    Sydney (151.21, -33.87) z4 → (14, 9); null island → (8, 8)."""
    df = spark.createDataFrame(
        [
            ("nyc", -73.98, 40.75),
            ("paris", 2.35, 48.86),
            ("tokyo", 139.69, 35.68),
            ("sydney", 151.21, -33.87),
            ("null", 0.0, 0.0),
        ],
        "name string, lon double, lat double",
    )
    got = {
        r["name"]: (r["wm_tile_x"], r["wm_tile_y"])
        for r in proj_fn.webmercator_tile(df, z=4).collect()
    }
    assert got == {
        "nyc": (4, 6),
        "paris": (8, 5),
        "tokyo": (14, 6),
        "sydney": (14, 9),
        "null": (8, 8),
    }


def test_webmercator_tile_poles_clamped(spark):
    df = spark.createDataFrame(
        [(0.0, 89.9), (0.0, -89.9)], "lon double, lat double"
    )
    rows = proj_fn.webmercator_tile(df, z=4).collect()
    ys = sorted(r["wm_tile_y"] for r in rows)
    assert ys == [0, 15]  # clamped to the MAX_LAT band, never out of range


def test_albers_roundtrip_and_equal_area(spark):
    """Spherical Albers conic (r3): forward→inverse is identity, a
    numpy twin agrees, and the projection is equal-area — a small
    geodesic quad's projected planar area matches its spherical area
    to first order."""
    import math as m

    pts = [(-120.0, 34.0), (-96.0, 23.0), (-75.0, 45.0), (-96.0, 49.0)]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    out = proj_fn.albers_inverse(proj_fn.albers(df)).orderBy("lon").collect()
    for r in out:
        assert abs(r["lon2"] - r["lon"]) < 1e-9
        assert abs(r["lat2"] - r["lat"]) < 1e-9

    # numpy twin for the forward map
    f1, f2 = m.radians(29.5), m.radians(45.5)
    n = (m.sin(f1) + m.sin(f2)) / 2.0
    c = m.cos(f1) ** 2 + 2.0 * n * m.sin(f1)
    R = proj_fn.R
    rho0 = R * m.sqrt(c - 2.0 * n * m.sin(m.radians(23.0))) / n
    fwd = {
        (r["lon"], r["lat"]): (r["ax"], r["ay"])
        for r in proj_fn.albers(df).collect()
    }
    for lon, lat in pts:
        rho = R * m.sqrt(c - 2.0 * n * m.sin(m.radians(lat))) / n
        th = n * m.radians(lon - (-96.0))
        ax, ay = rho * m.sin(th), rho0 - rho * m.cos(th)
        # cm-level: JVM and CPython associate the R*sqrt(...)/n chain
        # differently, so exact-double equality is not expected at
        # 1e7-m magnitudes
        assert abs(fwd[(lon, lat)][0] - ax) < 0.01
        assert abs(fwd[(lon, lat)][1] - ay) < 0.01

    # equal-area: a 0.1-degree quad at 40N
    d = 0.05
    quad = [(-96.0 - d, 40.0 - d), (-96.0 + d, 40.0 - d),
            (-96.0 + d, 40.0 + d), (-96.0 - d, 40.0 + d)]
    qdf = spark.createDataFrame(quad, schema="lon double, lat double")
    prj = {(r["lon"], r["lat"]): (r["ax"], r["ay"])
           for r in proj_fn.albers(qdf).collect()}
    xs = [prj[p][0] for p in quad]
    ys = [prj[p][1] for p in quad]
    planar = 0.5 * abs(sum(xs[i] * ys[(i + 1) % 4] - xs[(i + 1) % 4] * ys[i]
                           for i in range(4)))
    spherical = (R ** 2) * (2.0 * m.radians(d)) * (
        m.sin(m.radians(40.0 + d)) - m.sin(m.radians(40.0 - d))
    )
    assert abs(planar - spherical) < 2e-5 * spherical


def test_lambert_cc_roundtrip_and_conformal(spark):
    """Spherical Lambert conformal conic (r3): forward→inverse
    identity; conformality — an east-step and a north-step of equal
    ground length project to segments of equal length (scale isotropy)
    and stay orthogonal."""
    import math as m

    pts = [(-110.0, 35.0), (-96.0, 39.0), (-80.0, 44.0)]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    out = proj_fn.lambert_cc_inverse(proj_fn.lambert_cc(df)).collect()
    for r in out:
        assert abs(r["lon2"] - r["lon"]) < 1e-9
        assert abs(r["lat2"] - r["lat"]) < 1e-9

    lon, lat = -96.0, 39.0
    h = 1e-4
    de = h / m.cos(m.radians(lat))  # lon step with the same ground length
    probe = [(lon, lat), (lon + de, lat), (lon, lat + h)]
    pdf = spark.createDataFrame(probe, schema="lon double, lat double")
    got = {(r["lon"], r["lat"]): (r["lx"], r["ly"])
           for r in proj_fn.lambert_cc(pdf).collect()}
    ox, oy = got[(lon, lat)]
    ex, ey = got[(lon + de, lat)]
    nx, ny = got[(lon, lat + h)]
    len_e = m.hypot(ex - ox, ey - oy)
    len_n = m.hypot(nx - ox, ny - oy)
    assert abs(len_e / len_n - 1.0) < 1e-4
    dot = (ex - ox) * (nx - ox) + (ey - oy) * (ny - oy)
    assert abs(dot) < 1e-4 * len_e * len_n


def test_transverse_mercator_roundtrip_and_conformal(spark):
    """Spherical TM (r4): forward→inverse identity; conformality at an
    off-meridian probe (equal ground steps project to equal lengths,
    orthogonally)."""
    import math as m

    pts = [(-110.0, 35.0), (-93.0, 0.0), (-88.0, -41.0), (-96.5, 62.0)]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    out = proj_fn.transverse_mercator_inverse(
        proj_fn.transverse_mercator(df)
    ).collect()
    for r in out:
        assert abs(r["lon2"] - r["lon"]) < 1e-9
        assert abs(r["lat2"] - r["lat"]) < 1e-9

    lon, lat = -99.0, 41.0
    h = 1e-4
    de = h / m.cos(m.radians(lat))
    probe = [(lon, lat), (lon + de, lat), (lon, lat + h)]
    pdf = spark.createDataFrame(probe, schema="lon double, lat double")
    got = {(r["lon"], r["lat"]): (r["tx"], r["ty"])
           for r in proj_fn.transverse_mercator(pdf).collect()}
    ox, oy = got[(lon, lat)]
    ex, ey = got[(lon + de, lat)]
    nx, ny = got[(lon, lat + h)]
    len_e = m.hypot(ex - ox, ey - oy)
    len_n = m.hypot(nx - ox, ny - oy)
    assert abs(len_e / len_n - 1.0) < 1e-4
    dot = (ex - ox) * (nx - ox) + (ey - oy) * (ny - oy)
    assert abs(dot) < 1e-4 * len_e * len_n


def test_utm_zones_and_roundtrip(spark):
    """UTM (r4): per-row zone selection is pure column math; zone
    goldens, hemisphere false northing, numpy twin, and roundtrip
    through (zone, hemisphere, easting, northing)."""
    import math as m

    pts = [(-96.0, 39.0), (151.2, -33.9), (2.35, 48.86), (-0.1, 51.5)]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    fwd = proj_fn.utm(df)
    rows = {(r["lon"], r["lat"]): r for r in fwd.collect()}
    assert rows[(-96.0, 39.0)]["utm_zone"] == 15
    assert rows[(151.2, -33.9)]["utm_zone"] == 56
    assert rows[(2.35, 48.86)]["utm_zone"] == 31
    assert rows[(-0.1, 51.5)]["utm_zone"] == 30
    assert rows[(-96.0, 39.0)]["utm_north"] is True
    assert rows[(151.2, -33.9)]["utm_north"] is False
    # southern-hemisphere northing carries the 10,000 km false northing
    assert rows[(151.2, -33.9)]["utm_n"] > 6e6

    # numpy twin (spherical TM with k0=0.9996, zone 15 -> lon0=-93)
    lon, lat = -96.0, 39.0
    b = m.cos(m.radians(lat)) * m.sin(m.radians(lon - (-93.0)))
    tx = 0.9996 * proj_fn.R * 0.5 * m.log((1 + b) / (1 - b))
    ty = 0.9996 * proj_fn.R * m.atan2(
        m.tan(m.radians(lat)), m.cos(m.radians(lon - (-93.0)))
    )
    assert abs(rows[(lon, lat)]["utm_e"] - (tx + 500000.0)) < 0.01
    assert abs(rows[(lon, lat)]["utm_n"] - ty) < 0.01

    inv = proj_fn.utm_inverse(fwd).collect()
    for r in inv:
        assert abs(r["lon2"] - r["lon"]) < 1e-9
        assert abs(r["lat2"] - r["lat"]) < 1e-9


def test_robinson_nodes_symmetry_roundtrip(spark):
    """Robinson (r4): exact published-table values at the 5-degree
    nodes, equator scaling exact, hemispheric symmetry, and the exact
    piecewise-linear inverse."""
    import math as m

    R = proj_fn.R
    nodes = [(30.0, float(5 * i)) for i in range(19)]
    df = spark.createDataFrame(nodes, schema="lon double, lat double")
    got = {r["lat"]: (r["rx"], r["ry"]) for r in proj_fn.robinson(df).collect()}
    for i in range(19):
        lat = float(5 * i)
        want_x = 0.8487 * R * proj_fn.ROBINSON_X[i] * m.radians(30.0)
        want_y = 1.3523 * R * proj_fn.ROBINSON_Y[i] * (1.0 if lat > 0 else 0.0)
        assert abs(got[lat][0] - want_x) < 1e-6 * max(1.0, abs(want_x)), lat
        assert abs(got[lat][1] - want_y) < 1e-6 * max(1.0, abs(want_y)), lat

    pts = [(-150.0, -67.3), (-30.0, -12.5), (0.0, 0.0), (45.0, 33.33), (170.0, 88.8)]
    pdf = spark.createDataFrame(pts, schema="lon double, lat double")
    fwd = proj_fn.robinson(pdf)
    sym = {(r["lon"], r["lat"]): (r["rx"], r["ry"]) for r in proj_fn.robinson(
        spark.createDataFrame(
            [(lo, -la) for lo, la in pts], schema="lon double, lat double"
        )
    ).collect()}
    for r in fwd.collect():
        mx, my = sym[(r["lon"], -r["lat"])]
        assert abs(r["rx"] - mx) < 1e-9 * max(1.0, abs(mx))
        assert abs(r["ry"] + my) < 1e-9 * max(1.0, abs(my))
    inv = proj_fn.robinson_inverse(fwd).collect()
    for r in inv:
        assert abs(r["lon2"] - r["lon"]) < 1e-8, r
        assert abs(r["lat2"] - r["lat"]) < 1e-8, r


def test_lambert_azimuthal_roundtrip_and_equal_area(spark):
    """Spherical LAEA (r5): forward→inverse identity (including the
    rho=0 center), and equal-area — a small quad's projected planar
    area matches its spherical area to first order at an off-center
    probe."""
    import math as m

    pts = [(0.0, 52.0), (10.0, 48.0), (-15.0, 35.0), (25.0, 66.0)]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    out = proj_fn.lambert_azimuthal_inverse(
        proj_fn.lambert_azimuthal(df)
    ).collect()
    for r in out:
        assert abs(r["lon2"] - r["lon"]) < 1e-9, r
        assert abs(r["lat2"] - r["lat"]) < 1e-9, r

    R = proj_fn.R
    d = 0.05
    lon_c, lat_c = 18.0, 41.0
    quad = [(lon_c - d, lat_c - d), (lon_c + d, lat_c - d),
            (lon_c + d, lat_c + d), (lon_c - d, lat_c + d)]
    qdf = spark.createDataFrame(quad, schema="lon double, lat double")
    prj = {(r["lon"], r["lat"]): (r["zx"], r["zy"])
           for r in proj_fn.lambert_azimuthal(qdf).collect()}
    xs = [prj[p][0] for p in quad]
    ys = [prj[p][1] for p in quad]
    planar = 0.5 * abs(sum(xs[i] * ys[(i + 1) % 4] - xs[(i + 1) % 4] * ys[i]
                           for i in range(4)))
    spherical = (R ** 2) * (2.0 * m.radians(d)) * (
        m.sin(m.radians(lat_c + d)) - m.sin(m.radians(lat_c - d))
    )
    assert abs(planar - spherical) < 2e-5 * spherical


def test_azimuthal_equidistant_roundtrip_and_distance(spark):
    """Azimuthal equidistant (r5): forward→inverse identity (incl. the
    rho=0 center), and the DEFINING property — the projected radial
    distance from the center equals R times the great-circle angular
    distance, exactly (to float rounding), for near and far points."""
    import math as m

    lon0, lat0 = 0.0, 52.0
    pts = [(0.0, 52.0), (10.0, 48.0), (-150.0, -35.0), (25.0, 66.0),
           (179.0, -52.0)]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    fwd = proj_fn.azimuthal_equidistant(df, lon0=lon0, lat0=lat0)
    out = proj_fn.azimuthal_equidistant_inverse(
        fwd, lon0=lon0, lat0=lat0
    ).collect()
    for r in out:
        assert abs(r["lon2"] - r["lon"]) < 1e-8, r
        assert abs(r["lat2"] - r["lat"]) < 1e-8, r

    R = proj_fn.R
    f0 = m.radians(lat0)
    got = {(r["lon"], r["lat"]): (r["ax"], r["ay"]) for r in fwd.collect()}
    for (lo, la), (ax, ay) in got.items():
        f = m.radians(la)
        cosc = m.sin(f0) * m.sin(f) + m.cos(f0) * m.cos(f) * m.cos(
            m.radians(lo - lon0)
        )
        c = m.acos(max(-1.0, min(1.0, cosc)))
        assert abs(m.hypot(ax, ay) - R * c) < 1e-6 * max(R * c, 1.0), (lo, la)


def test_mollweide_roundtrip_equal_area_and_nodes(spark):
    """Mollweide (r5): forward→inverse identity across latitudes up to
    89.99° plus both poles (the fixed 30-step Newton's measured
    convergence envelope), the closed-form nodes (equator θ=0;
    poles y = ±√2·R; the boundary ellipse's 2:1 axes), and the
    equal-area quad check shared by the other equal-area projections."""
    import math as m

    pts = [(0.0, 0.0), (45.0, 30.0), (-120.0, -55.0), (179.0, 80.0),
           (13.0, 89.99), (-13.0, -89.99), (60.0, 90.0), (60.0, -90.0)]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    out = proj_fn.mollweide_inverse(proj_fn.mollweide(df)).collect()
    R = proj_fn.R
    for r in out:
        assert abs(r["lat2"] - r["lat"]) < 1e-8, r
        if abs(r["lat"]) < 90.0 - 1e-9:
            assert abs(r["lon2"] - r["lon"]) < 1e-8, r
        else:  # every meridian meets at the pole
            assert r["lon2"] == 0.0, r

    got = {(r["lon"], r["lat"]): (r["wx"], r["wy"])
           for r in proj_fn.mollweide(df).collect()}
    assert got[(0.0, 0.0)] == (0.0, 0.0)
    assert abs(got[(60.0, 90.0)][1] - R * m.sqrt(2.0)) < 1e-6
    assert abs(got[(60.0, -90.0)][1] + R * m.sqrt(2.0)) < 1e-6
    # boundary ellipse: x(±180°, 0°) = ±2√2·R — the 2:1 homolographic
    # frame whose area πab = 4πR² equals the sphere's
    edge = spark.createDataFrame(
        [(180.0, 0.0), (-180.0, 0.0)], schema="lon double, lat double"
    )
    ex = {r["lon"]: r["wx"] for r in proj_fn.mollweide(edge).collect()}
    assert abs(ex[180.0] - 2.0 * m.sqrt(2.0) * R) < 1e-6
    assert abs(ex[-180.0] + 2.0 * m.sqrt(2.0) * R) < 1e-6

    d = 0.05
    lon_c, lat_c = 33.0, -48.0
    quad = [(lon_c - d, lat_c - d), (lon_c + d, lat_c - d),
            (lon_c + d, lat_c + d), (lon_c - d, lat_c + d)]
    qdf = spark.createDataFrame(quad, schema="lon double, lat double")
    prj = {(r["lon"], r["lat"]): (r["wx"], r["wy"])
           for r in proj_fn.mollweide(qdf).collect()}
    xs = [prj[p][0] for p in quad]
    ys = [prj[p][1] for p in quad]
    planar = 0.5 * abs(sum(xs[i] * ys[(i + 1) % 4] - xs[(i + 1) % 4] * ys[i]
                           for i in range(4)))
    spherical = (R ** 2) * (2.0 * m.radians(d)) * (
        m.sin(m.radians(lat_c + d)) - m.sin(m.radians(lat_c - d))
    )
    assert abs(planar - spherical) < 2e-5 * spherical


def test_sinusoidal_roundtrip_equal_area_and_parallels(spark):
    """Sinusoidal (r5): forward→inverse identity; equal-area quad
    check; equally-spaced parallels (y is linear in latitude) and the
    central meridian is undistorted (x = 0, y = R·f along lon0)."""
    import math as m

    pts = [(0.0, 0.0), (45.0, 30.0), (-120.0, -55.0), (179.0, 80.0)]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    out = proj_fn.sinusoidal_inverse(proj_fn.sinusoidal(df)).collect()
    for r in out:
        assert abs(r["lon2"] - r["lon"]) < 1e-9, r
        assert abs(r["lat2"] - r["lat"]) < 1e-9, r

    R = proj_fn.R
    got = {(r["lon"], r["lat"]): (r["sx"], r["sy"])
           for r in proj_fn.sinusoidal(df).collect()}
    # equally-spaced parallels + undistorted central meridian
    assert got[(0.0, 0.0)] == (0.0, 0.0)
    assert abs(got[(45.0, 30.0)][1] - R * m.radians(30.0)) < 1e-6
    assert abs(got[(-120.0, -55.0)][1] - R * m.radians(-55.0)) < 1e-6

    d = 0.05
    lon_c, lat_c = -60.0, 23.0
    quad = [(lon_c - d, lat_c - d), (lon_c + d, lat_c - d),
            (lon_c + d, lat_c + d), (lon_c - d, lat_c + d)]
    qdf = spark.createDataFrame(quad, schema="lon double, lat double")
    prj = {(r["lon"], r["lat"]): (r["sx"], r["sy"])
           for r in proj_fn.sinusoidal(qdf).collect()}
    xs = [prj[p][0] for p in quad]
    ys = [prj[p][1] for p in quad]
    planar = 0.5 * abs(sum(xs[i] * ys[(i + 1) % 4] - xs[(i + 1) % 4] * ys[i]
                           for i in range(4)))
    spherical = (R ** 2) * (2.0 * m.radians(d)) * (
        m.sin(m.radians(lat_c + d)) - m.sin(m.radians(lat_c - d))
    )
    assert abs(planar - spherical) < 2e-5 * spherical


def test_eckert4_roundtrip_nodes_and_equal_area(spark):
    """Eckert IV (r5): forward→inverse identity up to 89.99° plus both
    poles (the fixed 30-step Newton's measured envelope — g' has a
    SIMPLE zero at the pole, so it converges to machine precision),
    closed-form nodes (equator θ=0; pole y = 2√(π/(4+π))·R; the pole
    line is exactly HALF the equator — Eckert's defining ratio), and
    the shared equal-area quad check."""
    import math as m

    pts = [(0.0, 0.0), (45.0, 30.0), (-120.0, -55.0), (179.0, 80.0),
           (13.0, 89.99), (-13.0, -89.99), (60.0, 90.0), (60.0, -90.0)]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    out = proj_fn.eckert4_inverse(proj_fn.eckert4(df)).collect()
    R = proj_fn.R
    for r in out:
        assert abs(r["lat2"] - r["lat"]) < 1e-8, r
        # poles keep distinct meridians (x carries 1 + cos θ = 1)
        assert abs(r["lon2"] - r["lon"]) < 1e-8, r

    got = {(r["lon"], r["lat"]): (r["ekx"], r["eky"])
           for r in proj_fn.eckert4(df).collect()}
    assert got[(0.0, 0.0)] == (0.0, 0.0)
    want_pole_y = 2.0 * m.sqrt(m.pi / (4.0 + m.pi)) * R
    assert abs(got[(60.0, 90.0)][1] - want_pole_y) < 1e-6
    assert abs(got[(60.0, -90.0)][1] + want_pole_y) < 1e-6
    edge = spark.createDataFrame(
        [(180.0, 0.0), (180.0, 90.0)], schema="lon double, lat double"
    )
    ex = {r["lat"]: r["ekx"] for r in proj_fn.eckert4(edge).collect()}
    assert abs(ex[90.0] / ex[0.0] - 0.5) < 1e-12  # pole line = equator/2

    d = 0.05
    lon_c, lat_c = 33.0, -48.0
    quad = [(lon_c - d, lat_c - d), (lon_c + d, lat_c - d),
            (lon_c + d, lat_c + d), (lon_c - d, lat_c + d)]
    qdf = spark.createDataFrame(quad, schema="lon double, lat double")
    prj = {(r["lon"], r["lat"]): (r["ekx"], r["eky"])
           for r in proj_fn.eckert4(qdf).collect()}
    xs = [prj[p][0] for p in quad]
    ys = [prj[p][1] for p in quad]
    planar = 0.5 * abs(sum(xs[i] * ys[(i + 1) % 4] - xs[(i + 1) % 4] * ys[i]
                           for i in range(4)))
    spherical = (R ** 2) * (2.0 * m.radians(d)) * (
        m.sin(m.radians(lat_c + d)) - m.sin(m.radians(lat_c - d))
    )
    assert abs(planar - spherical) < 2e-5 * spherical


def test_natural_earth_roundtrip_and_polynomial_twin(spark):
    """Natural Earth (r5): forward→inverse identity (incl. the poles —
    the y polynomial is strictly increasing, dy/dφ ≥ 0.12, so the fixed
    12-step Newton recovers every latitude), a numpy twin of the
    published polynomial at probe points, hemispheric symmetry, and the
    published frame ratios (pole line ≈ 0.562 of the equator; straight
    equally-scaled parallels: x is exactly linear in lon at fixed
    lat)."""
    import math as m

    pts = [(0.0, 0.0), (45.0, 30.0), (-120.0, -55.0), (179.0, 80.0),
           (13.0, 89.0), (60.0, 90.0), (60.0, -90.0)]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    out = proj_fn.natural_earth_inverse(proj_fn.natural_earth(df)).collect()
    for r in out:
        assert abs(r["lon2"] - r["lon"]) < 1e-8, r
        assert abs(r["lat2"] - r["lat"]) < 1e-8, r

    R = proj_fn.R
    A, B = proj_fn._NE_A, proj_fn._NE_B
    got = {(r["lon"], r["lat"]): (r["nex"], r["ney"])
           for r in proj_fn.natural_earth(df).collect()}
    for (lo, la), (x, y) in got.items():
        f = m.radians(la)
        f2, f4 = f * f, f ** 4
        ax = A[0] + A[1] * f2 + A[2] * f4 + A[3] * f4 * f4 * f2 + A[4] * f4 * f4 * f4
        by = f * (B[0] + B[1] * f2 + B[2] * f4 * f2 + B[3] * f4 * f4 + B[4] * f4 * f4 * f2)
        assert abs(x - R * m.radians(lo) * ax) < 1e-6 * max(1.0, abs(x)), (lo, la)
        assert abs(y - R * by) < 1e-6 * max(1.0, abs(y)), (lo, la)

    # hemispheric symmetry + pole-line ratio (the A-polynomial at ±π/2
    # over A0) — the published compromise frame
    assert abs(got[(60.0, 90.0)][1] + got[(60.0, -90.0)][1]) < 1e-9
    f = m.pi / 2.0
    f2, f4 = f * f, f ** 4
    want_ratio = (A[0] + A[1] * f2 + A[2] * f4 + A[3] * f4 * f4 * f2
                  + A[4] * f4 * f4 * f4) / A[0]
    eq = spark.createDataFrame(
        [(60.0, 90.0), (60.0, 0.0)], schema="lon double, lat double"
    )
    ex = {r["lat"]: r["nex"] for r in proj_fn.natural_earth(eq).collect()}
    assert abs(ex[90.0] / ex[0.0] - want_ratio) < 1e-12


def test_equal_earth_roundtrip_nodes_and_equal_area(spark):
    """Equal Earth (r5): forward→inverse identity (incl. poles —
    dY/dt ≥ 1.08 on the bounded |t| ≤ π/3, so the fixed 12-step Newton
    recovers every latitude), the closed-form pole node y = R·Y(π/3),
    and the shared equal-area quad check — the projection's defining
    property (the Jacobian is R²cos φ by construction)."""
    import math as m

    pts = [(0.0, 0.0), (45.0, 30.0), (-120.0, -55.0), (179.0, 80.0),
           (13.0, 89.99), (60.0, 90.0), (60.0, -90.0)]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    out = proj_fn.equal_earth_inverse(proj_fn.equal_earth(df)).collect()
    for r in out:
        assert abs(r["lon2"] - r["lon"]) < 1e-8, r
        assert abs(r["lat2"] - r["lat"]) < 1e-8, r

    R = proj_fn.R
    A = proj_fn._EE_A
    got = {(r["lon"], r["lat"]): (r["eqx"], r["eqy"])
           for r in proj_fn.equal_earth(df).collect()}
    assert got[(0.0, 0.0)] == (0.0, 0.0)
    # at the pole t = asin(√3/2) = π/3 exactly
    t = m.pi / 3.0
    want_pole_y = R * t * (A[0] + A[1] * t * t
                           + t ** 6 * (A[2] + A[3] * t * t))
    assert abs(got[(60.0, 90.0)][1] - want_pole_y) < 1e-6
    assert abs(got[(60.0, -90.0)][1] + want_pole_y) < 1e-6

    d = 0.05
    lon_c, lat_c = -75.0, 37.0
    quad = [(lon_c - d, lat_c - d), (lon_c + d, lat_c - d),
            (lon_c + d, lat_c + d), (lon_c - d, lat_c + d)]
    qdf = spark.createDataFrame(quad, schema="lon double, lat double")
    prj = {(r["lon"], r["lat"]): (r["eqx"], r["eqy"])
           for r in proj_fn.equal_earth(qdf).collect()}
    xs = [prj[p][0] for p in quad]
    ys = [prj[p][1] for p in quad]
    planar = 0.5 * abs(sum(xs[i] * ys[(i + 1) % 4] - xs[(i + 1) % 4] * ys[i]
                           for i in range(4)))
    spherical = (R ** 2) * (2.0 * m.radians(d)) * (
        m.sin(m.radians(lat_c + d)) - m.sin(m.radians(lat_c - d))
    )
    assert abs(planar - spherical) < 2e-5 * spherical


def test_stereographic_roundtrip_and_conformal(spark):
    """Spherical oblique stereographic (r5): forward→inverse identity
    (incl. the rho=0 center), and conformality at an off-center probe —
    equal ground steps project to equal lengths, orthogonally (the TM
    test's check at this projection)."""
    import math as m

    lon0, lat0 = 0.0, 52.0
    pts = [(0.0, 52.0), (10.0, 48.0), (-150.0, -35.0), (25.0, 66.0)]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    fwd = proj_fn.stereographic(df, lon0=lon0, lat0=lat0)
    out = proj_fn.stereographic_inverse(fwd, lon0=lon0, lat0=lat0).collect()
    for r in out:
        assert abs(r["lon2"] - r["lon"]) < 1e-8, r
        assert abs(r["lat2"] - r["lat"]) < 1e-8, r

    lon, lat = 18.0, 41.0
    h = 1e-4
    de = h / m.cos(m.radians(lat))
    probe = [(lon, lat), (lon + de, lat), (lon, lat + h)]
    pdf = spark.createDataFrame(probe, schema="lon double, lat double")
    got = {(r["lon"], r["lat"]): (r["stx"], r["sty"])
           for r in proj_fn.stereographic(pdf, lon0=lon0, lat0=lat0).collect()}
    ox, oy = got[(lon, lat)]
    ex, ey = got[(lon + de, lat)]
    nx, ny = got[(lon, lat + h)]
    len_e = m.hypot(ex - ox, ey - oy)
    len_n = m.hypot(nx - ox, ny - oy)
    assert abs(len_e / len_n - 1.0) < 1e-4
    dot = (ex - ox) * (nx - ox) + (ey - oy) * (ny - oy)
    assert abs(dot) < 1e-4 * len_e * len_n


def test_orthographic_roundtrip_and_radial_property(spark):
    """Spherical orthographic (r5): forward→inverse identity for
    front-hemisphere points (incl. the rho=0 center), the DEFINING
    property hypot(x, y) = R·sin c, and the back-hemisphere flag
    (cos c < 0 rows marked ort_front = false)."""
    import math as m

    lon0, lat0 = 0.0, 52.0
    pts = [(0.0, 52.0), (10.0, 48.0), (-15.0, 35.0), (25.0, 66.0),
           (179.0, -52.0)]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    fwd = proj_fn.orthographic(df, lon0=lon0, lat0=lat0)
    flags = {(r["lon"], r["lat"]): r["ort_front"] for r in fwd.collect()}
    assert flags[(179.0, -52.0)] is False  # the antipode's neighborhood
    assert all(v for k, v in flags.items() if k != (179.0, -52.0))

    front = fwd.filter("ort_front")
    out = proj_fn.orthographic_inverse(front, lon0=lon0, lat0=lat0).collect()
    for r in out:
        assert abs(r["lon2"] - r["lon"]) < 1e-8, r
        assert abs(r["lat2"] - r["lat"]) < 1e-8, r

    R = proj_fn.R
    f0 = m.radians(lat0)
    got = {(r["lon"], r["lat"]): (r["orx"], r["ory"]) for r in fwd.collect()}
    for (lo, la), (x, y) in got.items():
        f = m.radians(la)
        cosc = m.sin(f0) * m.sin(f) + m.cos(f0) * m.cos(f) * m.cos(
            m.radians(lo - lon0)
        )
        sinc = m.sqrt(max(0.0, 1.0 - cosc * cosc))
        assert abs(m.hypot(x, y) - R * sinc) < 1e-6 * max(R * sinc, 1.0), (lo, la)


def test_gnomonic_roundtrip_and_great_circle_lines(spark):
    """Spherical gnomonic (r5): forward→inverse identity for
    front-hemisphere points (incl. the rho=0 center), the far
    hemisphere flagged, and the DEFINING property — points of a great
    circle project COLLINEAR (slerp samples between two arbitrary
    endpoints land on one straight line)."""
    import math as m

    import numpy as np

    lon0, lat0 = 10.0, 45.0
    pts = [(10.0, 45.0), (20.0, 40.0), (-15.0, 60.0), (5.0, 12.0),
           (-170.0, -45.0)]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    fwd = proj_fn.gnomonic(df, lon0=lon0, lat0=lat0)
    flags = {(r["lon"], r["lat"]): r["gno_front"] for r in fwd.collect()}
    assert flags[(-170.0, -45.0)] is False  # antipodal neighborhood
    assert all(v for k, v in flags.items() if k != (-170.0, -45.0))
    out = proj_fn.gnomonic_inverse(
        fwd.filter("gno_front"), lon0=lon0, lat0=lat0
    ).collect()
    for r in out:
        assert abs(r["lon2"] - r["lon"]) < 1e-8, r
        assert abs(r["lat2"] - r["lat"]) < 1e-8, r

    def unit(lo, la):
        lo, la = m.radians(lo), m.radians(la)
        return np.array(
            [m.cos(la) * m.cos(lo), m.cos(la) * m.sin(lo), m.sin(la)]
        )

    a, b = unit(-5.0, 30.0), unit(40.0, 55.0)
    omega = m.acos(float(a @ b))
    samples = []
    for t in (0.0, 0.3, 0.55, 0.8, 1.0):
        v = (m.sin((1 - t) * omega) * a + m.sin(t * omega) * b) / m.sin(omega)
        samples.append(
            (m.degrees(m.atan2(v[1], v[0])), m.degrees(m.asin(v[2])))
        )
    sdf = spark.createDataFrame(samples, schema="lon double, lat double")
    got = [
        (r["gnx"], r["gny"])
        for r in proj_fn.gnomonic(sdf, lon0=lon0, lat0=lat0)
        .orderBy("lon")
        .collect()
    ]
    (x0, y0), (xn, yn) = got[0], got[-1]
    span = m.hypot(xn - x0, yn - y0)
    for x, y in got[1:-1]:
        cross = (xn - x0) * (y - y0) - (yn - y0) * (x - x0)
        assert abs(cross) < 1e-9 * span * span, (x, y)


def test_cassini_roundtrip_and_transverse_equidistance(spark):
    """Spherical Cassini (r5): forward→inverse identity, exact scale
    along the central meridian (x = 0 EXACTLY, y = R·(lat-lat0)), and
    the DEFINING transverse property — x equals the true great-circle
    distance R·asin(cos f sin dl) to the central meridian (numpy
    twin)."""
    import math as m

    lon0, lat0 = 15.0, 40.0
    pts = [(15.0, 40.0), (15.0, -35.0), (15.0, 89.0), (22.0, 47.0),
           (-40.0, -10.0), (100.0, 65.0)]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    fwd = proj_fn.cassini(df, lon0=lon0, lat0=lat0)
    out = proj_fn.cassini_inverse(fwd, lon0=lon0, lat0=lat0).collect()
    R = proj_fn.R
    for r in out:
        assert abs(r["lon2"] - r["lon"]) < 1e-8, r
        assert abs(r["lat2"] - r["lat"]) < 1e-8, r
        if r["lon"] == lon0:  # central meridian: transverse exactness
            assert r["csx"] == 0.0, r
            want_y = R * m.radians(r["lat"] - lat0)
            assert abs(r["csy"] - want_y) < 1e-6, r
        want_x = R * m.asin(
            m.cos(m.radians(r["lat"])) * m.sin(m.radians(r["lon"] - lon0))
        )
        assert abs(r["csx"] - want_x) < 1e-6, r


def test_buffer_points_kgon(spark):
    """-buffer point rings: k=4 vertices are EXACT axis offsets (the
    cos(pi/2) ~ 6e-17 literal snaps to 0.0 — dyadic oracle exactness
    depends on it), k=8 is a regular octagon with the right area
    (2·sqrt(2)·r² = 8·(r²/2)·sin(45°)), rings come out CCW, and non-xy
    columns pass through."""
    import math as m

    from mapshaper_spark import geometry
    from mapshaper_spark.operators import points as points_op

    import numpy as np

    pts = spark.createDataFrame(
        [(7, "k", 3.5, -2.25)], schema="feature_id int, key string, x double, y double"
    )
    r4 = points_op.buffer_points(pts, 1.25, k=4).collect()[0]
    assert r4["feature_id"] == 7 and r4["key"] == "k"
    assert list(r4["xs"]) == [4.75, 3.5, 2.25, 3.5]
    assert list(r4["ys"]) == [-2.25, -1.0, -2.25, -3.5]

    r8 = points_op.buffer_points(pts, 2.0, k=8).collect()[0]
    xs, ys = np.array(r8["xs"]), np.array(r8["ys"])
    a = geometry.shoelace_area_local(xs, ys)
    want = 8 * (2.0**2 / 2.0) * m.sin(2.0 * m.pi / 8)
    assert a == pytest.approx(want, rel=1e-12)
    assert a > 0  # CCW


def test_buffer_polylines_quads(spark):
    """-buffer polyline segment quads: an axis-aligned segment's quad
    is the EXACT square-cap rectangle (IEEE sqrt of a perfect square is
    exact), rings come out CCW, zero-length segments drop, non-geometry
    columns + sseq pass through, and a diagonal segment's quad area is
    (len + 2·ext)·2r to float precision."""
    import math as m

    import numpy as np

    from mapshaper_spark import geometry
    from mapshaper_spark.operators import points as points_op

    lines = spark.createDataFrame(
        [
            (3, "k", [1.0, 5.0, 5.0], [2.0, 2.0, 2.0]),  # middle seg zero-length
            (4, "d", [0.0, 3.0], [0.0, 4.0]),  # 3-4-5 diagonal
        ],
        schema="feature_id int, key string, xs array<double>, ys array<double>",
    )
    out = points_op.buffer_polylines(lines, 0.5).collect()
    by = {(r["feature_id"], r["sseq"]): r for r in out}
    assert set(by) == {(3, 0), (4, 0)}  # (3,1) zero-length dropped

    r = by[(3, 0)]
    assert r["key"] == "k"
    assert list(r["xs"]) == [0.5, 0.5, 5.5, 5.5]
    assert list(r["ys"]) == [2.5, 1.5, 1.5, 2.5]

    d = by[(4, 0)]
    xs, ys = np.array(d["xs"]), np.array(d["ys"])
    a = geometry.shoelace_area_local(xs, ys)
    assert a == pytest.approx((5.0 + 1.0) * 1.0, rel=1e-12)
    assert a > 0  # CCW
    # cap extension override: no extension -> exact len*2r rectangle area
    d0 = points_op.buffer_polylines(lines, 0.5, cap_extension=0.0).collect()
    d0 = {(r["feature_id"], r["sseq"]): r for r in d0}[(4, 0)]
    a0 = geometry.shoelace_area_local(np.array(d0["xs"]), np.array(d0["ys"]))
    assert a0 == pytest.approx(5.0 * 1.0, rel=1e-12)


def test_buffer_polygons_rings(spark):
    """-buffer polygon rings: the original ring passes through with
    sseq = -1, the closed edge sequence yields one quad per vertex
    (last edge wraps), and the FIXTURE's disjoint rectangle
    decomposition measures exactly the ring shoelace area per key —
    the oracle's Minkowski-distributes-over-union argument depends on
    that identity."""
    from collections import defaultdict

    import numpy as np

    from mapshaper_spark import fixtures, geometry
    from mapshaper_spark.operators import points as points_op

    ring_area = defaultdict(float)
    for k, ring in fixtures.BUFFER_POLYS:
        xs = np.array([p[0] for p in ring])
        ys = np.array([p[1] for p in ring])
        a = geometry.shoelace_area_local(xs, ys)
        assert a > 0, f"{k}: fixture ring not CCW"
        ring_area[k] += a
    rect_area = defaultdict(float)
    for k, x0, y0, x1, y1 in fixtures.BUFFER_POLY_RECTS:
        rect_area[k] += (x1 - x0) * (y1 - y0)
    assert ring_area == rect_area

    polys = spark.createDataFrame(
        fixtures.buffer_polys_pdf(),
        schema="feature_id int, key string, xs array<double>, ys array<double>",
    )
    out = points_op.buffer_polygons(polys, 0.5).collect()
    by_fid = defaultdict(list)
    for r in out:
        by_fid[r["feature_id"]].append(r)
    for i, (k, ring) in enumerate(fixtures.BUFFER_POLYS):
        rows = by_fid[i]
        assert {r["key"] for r in rows} == {k}
        assert sorted(r["sseq"] for r in rows) == list(range(-1, len(ring)))
        orig = next(r for r in rows if r["sseq"] == -1)
        assert list(orig["xs"]) == [p[0] for p in ring]
        assert list(orig["ys"]) == [p[1] for p in ring]
        for r in rows:
            if r["sseq"] >= 0:
                a = geometry.shoelace_area_local(
                    np.array(r["xs"]), np.array(r["ys"])
                )
                assert a > 0  # CCW quads


def test_buffer_feeds_tiled_dissolve(spark):
    """The 100-TB buffer path: quads are map-side column math, the
    merge is the TILED dissolve2 (distributed area form), not the
    per-key driver-group fold. The buffer fixtures' coincident cap
    runs are exactly the adjacency contract's domain — AREA is the
    canonical measure — so tiled areas must match the global fold's
    to the ~1e-8 perturbation residue on every key."""
    from mapshaper_spark import fixtures
    from mapshaper_spark.operators import overlay, points as points_op
    from mapshaper_spark.operators import topology

    lines = spark.createDataFrame(
        fixtures.buffer_lines_pdf(),
        schema="feature_id int, key string, xs array<double>, ys array<double>",
    )
    quads = points_op.buffer_polylines(lines, fixtures.BUFFER_LINE_RADIUS).select(
        (F.col("feature_id") * 100 + F.col("sseq")).alias("feature_id"),
        "key",
        "xs",
        "ys",
    )
    got = {r["key"]: r["area"] for r in overlay.dissolve2_tiled(quads, res=3).collect()}
    want = {r["key"]: r["area"] for r in topology.dissolve2(quads).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=5e-7), k

    polys = spark.createDataFrame(
        fixtures.buffer_polys_pdf(),
        schema="feature_id int, key string, xs array<double>, ys array<double>",
    )
    rings = points_op.buffer_polygons(polys, fixtures.BUFFER_POLY_RADIUS).select(
        (F.col("feature_id") * 100 + F.col("sseq") + 1).alias("feature_id"),
        "key",
        "xs",
        "ys",
    )
    got = {r["key"]: r["area"] for r in overlay.dissolve2_tiled(rings, res=3).collect()}
    want = {r["key"]: r["area"] for r in topology.dissolve2(rings).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=5e-7), k


def test_union_premerge_buffer_path(spark):
    """union_premerge is a semantic no-op ahead of the tiled merge
    [late r5, probe-driven: 1.6x on overlap-dense layers]: hole-free
    features collapse to their per-feature union (a: 2 L-path quads →
    1 ring; b: 1 quad passthrough), and a feature whose union rings a
    HOLE (c: the almost-closed square — the tiled machinery's feature
    contract is single hole-free CCW rings) falls back to its ORIGINAL
    quad rows, so per-key dissolve2_tiled areas match the un-premerged
    plan to the fold residue."""
    from mapshaper_spark import fixtures
    from mapshaper_spark.operators import overlay, points as points_op

    lines = spark.createDataFrame(
        fixtures.buffer_lines_pdf(),
        schema="feature_id int, key string, xs array<double>, ys array<double>",
    )
    quads = points_op.buffer_polylines(lines, fixtures.BUFFER_LINE_RADIUS)
    merged = overlay.union_premerge(quads)
    by_key: dict = {}
    for r in merged.collect():
        by_key.setdefault(r["key"], []).append(r)
    assert len(by_key["a"]) == 1  # 2 quads merged to one ring
    assert len(by_key["b"]) == 1  # single quad passthrough
    assert len(by_key["c"]) == 4  # hole detected -> raw quad fallback
    raw = quads.select(
        (F.col("feature_id") * 100 + F.col("sseq")).alias("feature_id"),
        "key",
        "xs",
        "ys",
    )
    got = {
        r["key"]: r["area"]
        for r in overlay.dissolve2_tiled(merged, res=3).collect()
    }
    want = {
        r["key"]: r["area"]
        for r in overlay.dissolve2_tiled(raw, res=3).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=5e-7), k


def test_cylindrical_equal_area_roundtrip_nodes_and_quad(spark):
    """Cylindrical equal-area (final r5): forward→inverse identity at
    the Gall–Peters parallel (45°), closed-form nodes (pole y = R√2 at
    fs=45°, frame x(±180°) = ±πR cos 45°), and the shared equal-area
    quad check."""
    import math as m

    from mapshaper_spark.functions import proj as proj_fn

    R = proj_fn.R
    pts = [(0.0, 0.0), (45.0, 30.0), (-120.0, -55.0), (179.0, 80.0),
           (60.0, 90.0), (60.0, -90.0)]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    out = proj_fn.cylindrical_equal_area_inverse(
        proj_fn.cylindrical_equal_area(df, lat_ts=45.0), lat_ts=45.0
    ).collect()
    for r in out:
        assert abs(r["lon2"] - r["lon"]) < 1e-9, r
        # asin's derivative blows up at the pole (sin f rounds to
        # 1-ulp under the cos-fs scale/unscale), so the exact-pole rows
        # carry ~9e-7 deg (~10 cm); everywhere else stays at 1e-7
        tol = 2e-6 if abs(r["lat"]) == 90.0 else 1e-7
        assert abs(r["lat2"] - r["lat"]) < tol, r

    got = {(r["lon"], r["lat"]): (r["cex"], r["cey"])
           for r in proj_fn.cylindrical_equal_area(df, lat_ts=45.0).collect()}
    assert got[(0.0, 0.0)] == (0.0, 0.0)
    assert abs(got[(60.0, 90.0)][1] - R * m.sqrt(2.0)) < 1e-6
    edge = spark.createDataFrame([(180.0, 0.0)], schema="lon double, lat double")
    ex = proj_fn.cylindrical_equal_area(edge, lat_ts=45.0).collect()[0]["cex"]
    assert abs(ex - m.pi * R * m.cos(m.radians(45.0))) < 1e-6

    d = 0.05
    lon_c, lat_c = -60.0, 23.0
    quad = [(lon_c - d, lat_c - d), (lon_c + d, lat_c - d),
            (lon_c + d, lat_c + d), (lon_c - d, lat_c + d)]
    qdf = spark.createDataFrame(quad, schema="lon double, lat double")
    prj = {(r["lon"], r["lat"]): (r["cex"], r["cey"])
           for r in proj_fn.cylindrical_equal_area(qdf, lat_ts=45.0).collect()}
    xs = [prj[p][0] for p in quad]
    ys = [prj[p][1] for p in quad]
    planar = 0.5 * abs(sum(xs[i] * ys[(i + 1) % 4] - xs[(i + 1) % 4] * ys[i]
                           for i in range(4)))
    spherical = (R ** 2) * (2.0 * m.radians(d)) * (
        m.sin(m.radians(lat_c + d)) - m.sin(m.radians(lat_c - d))
    )
    assert abs(planar - spherical) < 2e-5 * spherical


def test_miller_roundtrip_nodes_and_meridian_truth(spark):
    """Miller cylindrical (final r5): forward→inverse identity incl.
    both poles (FINITE, unlike Mercator — the projection's reason to
    exist), x = R·dl exactly (meridian-true), numpy-twin node at the
    pole, and equatorial symmetry y(-f) = -y(f)."""
    import math as m

    from mapshaper_spark.functions import proj as proj_fn

    R = proj_fn.R
    pts = [(0.0, 0.0), (45.0, 30.0), (-120.0, -55.0), (179.0, 80.0),
           (13.0, 90.0), (-13.0, -90.0), (45.0, -30.0)]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    out = proj_fn.miller_inverse(proj_fn.miller(df)).collect()
    for r in out:
        assert abs(r["lon2"] - r["lon"]) < 1e-9, r
        assert abs(r["lat2"] - r["lat"]) < 1e-7, r

    got = {(r["lon"], r["lat"]): (r["mlx"], r["mly"])
           for r in proj_fn.miller(df).collect()}
    # tan(pi/4) is one ulp off exact 1.0, so y(0) carries ~1e-9 m
    assert got[(0.0, 0.0)][0] == 0.0 and abs(got[(0.0, 0.0)][1]) < 1e-6
    for lon, lat in pts:
        assert abs(got[(lon, lat)][0] - R * m.radians(lon)) < 1e-6
    twin = 1.25 * R * m.log(m.tan(m.pi / 4.0 + 0.4 * m.radians(90.0)))
    assert abs(got[(13.0, 90.0)][1] - twin) < 1e-6
    assert abs(got[(45.0, 30.0)][1] + got[(45.0, -30.0)][1]) < 1e-9


def test_bonne_roundtrip_arc_parallels_and_quad(spark):
    """Bonne (final r5): forward→inverse identity; the DEFINING
    properties — parallels are concentric arcs about (0, R·cot f1)
    (hypot(x, R·cot f1 − y) = rho(f) exactly) with TRUE SCALE along
    each parallel (rho·E = R·dl·cos f); the equal-area quad check; the
    exact poles are single points that invert to lon0."""
    import math as m

    from mapshaper_spark.functions import proj as proj_fn

    R = proj_fn.R
    f1 = m.radians(45.0)
    cot1 = 1.0 / m.tan(f1)
    pts = [(0.0, 0.0), (45.0, 30.0), (-120.0, -55.0), (179.0, 80.0), (0.0, 45.0)]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    out = proj_fn.bonne_inverse(proj_fn.bonne(df)).collect()
    for r in out:
        assert abs(r["lon2"] - r["lon"]) < 1e-9, r
        assert abs(r["lat2"] - r["lat"]) < 1e-7, r

    got = {(r["lon"], r["lat"]): (r["bnx"], r["bny"])
           for r in proj_fn.bonne(df).collect()}
    for lon, lat in pts:
        x, y = got[(lon, lat)]
        f = m.radians(lat)
        rho = R * (cot1 + f1 - f)
        assert abs(m.hypot(x, R * cot1 - y) - rho) < 1e-6, (lon, lat)
        e = m.atan2(x, R * cot1 - y)
        assert abs(rho * e - R * m.radians(lon) * m.cos(f)) < 1e-5, (lon, lat)
    # poles are single points; inverse sends them to lon0
    pole = spark.createDataFrame([(77.0, 90.0)], schema="lon double, lat double")
    pr = proj_fn.bonne_inverse(proj_fn.bonne(pole)).collect()[0]
    assert abs(pr["lat2"] - 90.0) < 1e-7 and abs(pr["lon2"]) < 1e-9

    d = 0.05
    lon_c, lat_c = 33.0, -48.0
    quad = [(lon_c - d, lat_c - d), (lon_c + d, lat_c - d),
            (lon_c + d, lat_c + d), (lon_c - d, lat_c + d)]
    qdf = spark.createDataFrame(quad, schema="lon double, lat double")
    prj = {(r["lon"], r["lat"]): (r["bnx"], r["bny"])
           for r in proj_fn.bonne(qdf).collect()}
    xs = [prj[p][0] for p in quad]
    ys = [prj[p][1] for p in quad]
    planar = 0.5 * abs(sum(xs[i] * ys[(i + 1) % 4] - xs[(i + 1) % 4] * ys[i]
                           for i in range(4)))
    spherical = (R ** 2) * (2.0 * m.radians(d)) * (
        m.sin(m.radians(lat_c + d)) - m.sin(m.radians(lat_c - d))
    )
    assert abs(planar - spherical) < 2e-5 * spherical


def test_winkel_tripel_roundtrip_mean_property_and_nodes(spark):
    """Winkel Tripel (r5 continuation — 24th projection, the NatGeo
    world-map standard): forward→inverse identity over the full
    graticule INCLUDING the poles and the date line (the fixed 16-step
    FD-Jacobian 2D Newton's measured envelope is ~1e-13°); the DEFINING
    property — x,y are the arithmetic mean of equirectangular at
    φ1=acos(2/π) and Aitoff (independent numpy twin); the central
    meridian is exactly equidistant (x=0, y=R·φ); the pole LINE spreads
    meridians as x = R·Δλ·cos(φ1)/2 (Winkel's poles are lines, not
    points — and λ stays recoverable there, which the identity check
    exploits)."""
    import math as m

    R = proj_fn.R
    pts = [
        (float(lo), float(la))
        for lo in (-180.0, -179.999, -120.0, -60.0, 0.0, 0.001, 60.0, 179.999, 180.0)
        for la in (-90.0, -89.999, -60.0, -0.001, 0.0, 30.0, 89.999, 90.0)
    ]
    df = spark.createDataFrame(pts, schema="lon double, lat double")
    out = proj_fn.winkel_tripel_inverse(proj_fn.winkel_tripel(df)).collect()
    for r in out:
        assert abs(r["lat2"] - r["lat"]) < 1e-9, r
        assert abs(r["lon2"] - r["lon"]) < 1e-9, r

    # defining mean-of-two-projections property vs a numpy Aitoff twin
    f1 = m.acos(2.0 / m.pi)
    got = {
        (r["lon"], r["lat"]): (r["wtx"], r["wty"])
        for r in proj_fn.winkel_tripel(df).collect()
    }
    for lon, lat in pts:
        f, dl = m.radians(lat), m.radians(lon)
        a = m.acos(max(-1.0, min(1.0, m.cos(f) * m.cos(dl / 2.0))))
        sinc = m.sin(a) / a if a > 1e-12 else 1.0
        aitoff_x = 2.0 * m.cos(f) * m.sin(dl / 2.0) / sinc
        aitoff_y = m.sin(f) / sinc
        wx = R * 0.5 * (dl * m.cos(f1) + aitoff_x)
        wy = R * 0.5 * (f + aitoff_y)
        assert abs(got[(lon, lat)][0] - wx) < 1e-6 * max(1.0, abs(wx)), (lon, lat)
        assert abs(got[(lon, lat)][1] - wy) < 1e-6 * max(1.0, abs(wy)), (lon, lat)

    # central meridian: exactly equidistant (a degenerates to |φ|,
    # sinφ/sinc a = φ, so y = R·φ and x = 0)
    cm = spark.createDataFrame(
        [(0.0, float(la)) for la in (-75.0, -30.0, 0.0, 30.0, 75.0)],
        schema="lon double, lat double",
    )
    for r in proj_fn.winkel_tripel(cm).collect():
        assert abs(r["wtx"]) < 1e-9
        assert abs(r["wty"] - R * m.radians(r["lat"])) < 1e-6

    # pole LINE: y constant at R·π/2, meridians spread by the
    # equirectangular half only
    pole = spark.createDataFrame(
        [(float(lo), 90.0) for lo in (-180.0, -90.0, 0.0, 90.0, 180.0)],
        schema="lon double, lat double",
    )
    for r in proj_fn.winkel_tripel(pole).collect():
        assert abs(r["wty"] - R * m.pi / 2.0) < 1e-6
        want_x = R * m.radians(r["lon"]) * m.cos(f1) / 2.0
        assert abs(r["wtx"] - want_x) < 1e-6


def test_project_layer_roundtrip_and_orientation(spark):
    """project_layer applies a point projection to ring arrays: the
    WebMercator fwd->inv round trip restores every vertex (1e-9 deg),
    ring lengths and vertex ORDER survive the positional regroup, and
    signed orientation is preserved under the conformal map."""
    import numpy as np

    from mapshaper_spark import geometry
    from mapshaper_spark.sources import testdata

    feats = testdata.holed_features(spark)
    orig = {
        (r.poly_id, r.ring_idx): (list(r.xs), list(r.ys))
        for r in feats.collect()
    }
    merc = proj_fn.project_layer(feats, proj_fn.to_webmercator, out=("mx", "my"))
    back = proj_fn.project_layer(
        merc,
        lambda df: proj_fn.from_webmercator(df, mx="lon", my="lat"),
        out=("lon2", "lat2"),
    )
    got = {
        (r.poly_id, r.ring_idx): (list(r.xs), list(r.ys))
        for r in back.collect()
    }
    assert set(got) == set(orig)
    for k, (oxs, oys) in orig.items():
        gxs, gys = got[k]
        assert len(gxs) == len(oxs)
        assert np.allclose(gxs, oxs, atol=1e-9)
        assert np.allclose(gys, oys, atol=1e-9)
    # orientation survives the projection itself (conformal => sign kept)
    merc_rows = {(r.poly_id, r.ring_idx): (r.xs, r.ys) for r in merc.collect()}
    for k, (oxs, oys) in orig.items():
        s_orig = geometry.shoelace_area(np.asarray(oxs), np.asarray(oys))
        mxs, mys = merc_rows[k]
        s_merc = geometry.shoelace_area(np.asarray(mxs), np.asarray(mys))
        assert (s_orig > 0) == (s_merc > 0)


def test_project_layer_inplace_bitwise_and_shuffle_free(spark):
    """project_layer_inplace (closed-form projections as zip_with
    lambdas over the vertex arrays) matches the explode->regroup path
    BITWISE — the column-pair builders and the point-table functions
    share one expression tree — with NO exchange anywhere in the
    physical plan, and non-vertex columns pass through untouched."""
    from pyspark.sql import functions as F

    from mapshaper_spark.sources import testdata

    feats = testdata.holed_features(spark).withColumn("tag", F.lit("t"))

    # EVERY forward in XY_BUILDERS sweeps against its point-table form
    # (one shared expression tree per pair -> must be bitwise)
    outs = {
        "to_webmercator": ("mx", "my"),
        "sinusoidal": ("sx", "sy"),
        "albers": ("ax", "ay"),
        "lambert_cc": ("lx", "ly"),
        "lambert_azimuthal": ("zx", "zy"),
        "azimuthal_equidistant": ("ax", "ay"),
        "stereographic": ("stx", "sty"),
        "orthographic": ("orx", "ory"),
        "gnomonic": ("gnx", "gny"),
        "cassini": ("csx", "csy"),
        "cylindrical_equal_area": ("cex", "cey"),
        "miller": ("mlx", "mly"),
        "bonne": ("bnx", "bny"),
        "natural_earth": ("nex", "ney"),
        "equal_earth": ("eqx", "eqy"),
        "transverse_mercator": ("tx", "ty"),
        "robinson": ("rx", "ry"),
        "winkel_tripel": ("wtx", "wty"),
        "aitoff": ("atx", "aty"),
        "hammer": ("hmx", "hmy"),
    }
    assert set(outs) == set(proj_fn.XY_BUILDERS) - {
        "from_webmercator",  # inverse — covered by the roundtrip below
        "rotate_sphere",  # takes angles — covered in the cases below
    }
    cases = [
        (proj_fn.XY_BUILDERS[n](), getattr(proj_fn, n), outs[n]) for n in outs
    ] + [
        (
            proj_fn.rotate_sphere_xy((110.0, -35.0, 20.0)),
            lambda d: proj_fn.rotate_sphere(d, (110.0, -35.0, 20.0), out=("rx", "ry")),
            ("rx", "ry"),
        ),
    ]
    for fxy, df_fn, out in cases:
        ip = proj_fn.project_layer_inplace(feats, fxy)
        ex = proj_fn.project_layer(feats.drop("tag"), df_fn, out=out)
        got = {(r.poly_id, r.ring_idx): (list(r.xs), list(r.ys)) for r in ip.collect()}
        want = {(r.poly_id, r.ring_idx): (list(r.xs), list(r.ys)) for r in ex.collect()}
        assert got == want  # exact float equality — same IEEE tree
        plan = ip._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    # column order + passthrough survive; inverse builder restores
    ip = proj_fn.project_layer_inplace(feats, proj_fn.webmercator_xy)
    assert ip.columns == feats.columns
    back = proj_fn.project_layer_inplace(ip, proj_fn.webmercator_inv_xy)
    orig = {(r.poly_id, r.ring_idx): (list(r.xs), list(r.ys)) for r in feats.collect()}
    got = {(r.poly_id, r.ring_idx): (list(r.xs), list(r.ys)) for r in back.collect()}
    import numpy as np

    for k, (oxs, oys) in orig.items():
        assert np.allclose(got[k][0], oxs, atol=1e-9)
        assert np.allclose(got[k][1], oys, atol=1e-9)

    # the 2D-Newton inverses have no builder (they run the explode
    # path): the in-place forward -> project_layer inverse layer
    # roundtrip restores the originals to Newton precision
    for fwd_name, inv_fn, cols in (
        ("winkel_tripel", proj_fn.winkel_tripel_inverse, ("wtx", "wty")),
        ("aitoff", proj_fn.aitoff_inverse, ("atx", "aty")),
    ):
        projd = proj_fn.project_layer_inplace(
            feats.drop("tag"), proj_fn.XY_BUILDERS[fwd_name]()
        )
        back = proj_fn.project_layer(
            projd,
            lambda d: inv_fn(d, **{cols[0]: "lon", cols[1]: "lat"}),
            out=("lon2", "lat2"),
        )
        got = {(r.poly_id, r.ring_idx): (list(r.xs), list(r.ys)) for r in back.collect()}
        assert set(got) == set(orig)
        for k, (oxs, oys) in orig.items():
            assert np.allclose(got[k][0], oxs, atol=1e-9)
            assert np.allclose(got[k][1], oys, atol=1e-9)
