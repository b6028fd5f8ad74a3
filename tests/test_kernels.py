"""Unit tests for the numpy geometry kernels and cell index — the
mapshaper-style per-module unit layer [SURVEY.md §5.1: upstream keeps one
test file per command/module with hand-computed expectations]."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from mapshaper_spark import cells, fixtures, geometry
from mapshaper_spark.operators import raster as raster_op

# ---------------------------------------------------------------- cells ---


def test_cell_parent_child_roundtrip():
    c = int(cells.cell_id_np(np.array([12.34]), np.array([-56.78]), 9)[0])
    assert cells.cell_res(c) == 9
    for ch in cells.children(c):
        assert cells.parent(ch) == c


def test_cell_neighbors_interior_count():
    c = int(cells.cell_id_np(np.array([0.0]), np.array([0.0]), 6)[0])
    assert len(cells.neighbor_cells(c, 1)) == 9


def test_cell_bounds_contains_point():
    lon, lat = 12.34, -56.78
    c = int(cells.cell_id_np(np.array([lon]), np.array([lat]), 10)[0])
    x0, y0, x1, y1 = cells.cell_bounds(c)
    assert x0 <= lon < x1 and y0 <= lat < y1


def test_cell_sql_matches_numpy():
    """The SQL template (run through DuckDB) and the numpy kernel must be
    bit-identical — that's the portability contract with the oracle."""
    rng = np.random.Generator(np.random.PCG64(1))
    lon = np.round(rng.uniform(-180, 180, 500), 6)
    lat = np.round(rng.uniform(-90, 90, 500), 6)
    con = duckdb.connect()
    con.execute("CREATE TABLE p (lon DOUBLE, lat DOUBLE)")
    con.executemany("INSERT INTO p VALUES (?, ?)", list(zip(lon.tolist(), lat.tolist())))
    got = con.sql(f"SELECT {cells.cell_sql('lon', 'lat', 8)} AS c FROM p").df()["c"].to_numpy()
    want = cells.cell_id_np(lon, lat, 8)
    assert (got == want).all()


# ------------------------------------------------------------- simplify ---


def test_visvalingam_triangle():
    thr = geometry.visvalingam_thresholds(
        np.array([0.0, 1.0, 2.0]), np.array([0.0, 1.0, 0.0])
    )
    assert np.isinf(thr[0]) and np.isinf(thr[2])
    assert thr[1] == pytest.approx(1.0)  # triangle area 0.5*2*1


def test_dp_triangle():
    thr = geometry.dp_thresholds(np.array([0.0, 1.0, 2.0]), np.array([0.0, 1.0, 0.0]))
    assert np.isinf(thr[0]) and np.isinf(thr[2])
    assert thr[1] == pytest.approx(1.0)  # perpendicular distance to base


def test_visvalingam_monotone_removal():
    """Thresholds must be monotone along removal order: filtering at any
    level yields a consistent nested vertex set (mapshaper invariant)."""
    a = fixtures.POLYLINES[3]
    xs, ys = np.asarray(a["xs"]), np.asarray(a["ys"])
    thr = geometry.visvalingam_thresholds(xs, ys)
    levels = np.unique(thr[np.isfinite(thr)])
    prev = None
    for t in levels:
        kept = set(np.flatnonzero(thr >= t).tolist())
        if prev is not None:
            assert kept <= prev  # nested
        prev = kept


def test_weighted_visvalingam_despikes():
    """A spike vertex (neighbor vectors nearly parallel, cosθ→1) must get
    a LOWER removal threshold than a gentle-bend vertex of the same raw
    triangle area — the de-spiking bias of upstream's default method."""
    import numpy as np

    from mapshaper_spark import geometry as G

    # spike at index 1: tall thin triangle, area 8
    spike_xs = np.array([0.0, 2.0, 4.0, 8.0, 12.0])
    spike_ys = np.array([0.0, 4.0, 0.0, 0.0, 0.0])
    # gentle bend at index 1 with the SAME raw area 8: wide shallow triangle
    bend_xs = np.array([0.0, 4.0, 8.0, 12.0, 16.0])
    bend_ys = np.array([0.0, 2.0, 0.0, 0.0, 0.0])
    a_spike = 0.5 * abs((2 - 0) * (0 - 0) - (4 - 0) * (4 - 0))
    a_bend = 0.5 * abs((4 - 0) * (0 - 0) - (8 - 0) * (2 - 0))
    assert a_spike == a_bend == 8.0  # identical raw areas
    tw_spike = G.visvalingam_weighted_thresholds(spike_xs, spike_ys)[1]
    tw_bend = G.visvalingam_weighted_thresholds(bend_xs, bend_ys)[1]
    assert tw_spike < tw_bend
    # unweighted kernel sees them as equal
    tu_spike = G.visvalingam_thresholds(spike_xs, spike_ys)[1]
    tu_bend = G.visvalingam_thresholds(bend_xs, bend_ys)[1]
    assert tu_spike == tu_bend


def test_weighted_visvalingam_monotone_and_endpoints():
    import numpy as np

    from mapshaper_spark import fixtures
    from mapshaper_spark import geometry as G

    a = fixtures.POLYLINES[0]
    thr = G.visvalingam_weighted_thresholds(np.asarray(a["xs"]), np.asarray(a["ys"]))
    assert np.isinf(thr[0]) and np.isinf(thr[-1])
    finite = sorted(t for t in thr if np.isfinite(t))
    # nested levels: every threshold cut keeps a consistent vertex set
    assert finite == sorted(finite)
    assert len(finite) == len(thr) - 2


def test_lonlat_visvalingam_compresses_high_latitude():
    """planar=false: the same shape at latitude 60 has interior
    thresholds ~cos(60°)=0.5 of its equator twin (x-extent compressed);
    at the equator it matches the planar kernel exactly."""
    import numpy as np

    from mapshaper_spark import geometry as G

    xs = np.array([0.0, 1.0, 2.0, 3.0, 4.0])
    ys = np.array([0.0, 0.4, -0.2, 0.3, 0.0])
    eq = G.visvalingam_thresholds_lonlat(xs, ys)
    planar = G.visvalingam_thresholds(xs, ys)
    assert np.allclose(eq[1:-1], planar[1:-1], rtol=1e-4)  # cos(~0.1°) ≈ 1
    high = G.visvalingam_thresholds_lonlat(xs, ys + 60.0)
    ratio = high[1:-1] / planar[1:-1]
    assert np.all(ratio < 0.55) and np.all(ratio > 0.45)


def test_apply_threshold_keeps_endpoints():
    xs = np.array([0.0, 1.0, 2.0, 3.0])
    ys = np.array([0.0, 0.001, -0.001, 0.0])
    thr = geometry.dp_thresholds(xs, ys)
    kx, ky = geometry.apply_threshold(xs, ys, thr, 1e9)
    assert kx.tolist() == [0.0, 3.0] and ky.tolist() == [0.0, 0.0]


# ------------------------------------------------------------------ PIP ---


def test_pip_convex_square():
    ring = np.array([[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]])  # CCW
    px = np.array([1.0, 3.0, 0.0, 2.0, -0.001])
    py = np.array([1.0, 1.0, 0.0, 2.0, 1.0])
    got = geometry.pip_convex(px, py, ring)
    assert got.tolist() == [True, False, True, True, False]  # boundary inside


def test_pip_ray_matches_convex_interior():
    ring = np.asarray(fixtures.POLYGONS[5]["ring"])
    rng = np.random.Generator(np.random.PCG64(2))
    px = rng.uniform(ring[:, 0].min() - 5, ring[:, 0].max() + 5, 2000)
    py = rng.uniform(ring[:, 1].min() - 5, ring[:, 1].max() + 5, 2000)
    assert (geometry.pip_ray(px, py, ring) == geometry.pip_convex(px, py, ring)).all()


# ------------------------------------------------------- area / centroid ---


def test_shoelace_and_centroid_unit_square():
    xs, ys = np.array([0.0, 1.0, 1.0, 0.0]), np.array([0.0, 0.0, 1.0, 1.0])
    assert geometry.shoelace_area(xs, ys) == pytest.approx(1.0)
    assert geometry.ring_centroid(xs, ys) == pytest.approx((0.5, 0.5))


# ----------------------------------------------------------- raster tiles ---


def test_rasterize_vectorize_roundtrip_exact():
    """rasterize(vectorize(mask)) == mask bit-for-bit for every fixture
    polygon tile — the raster↔vector exactness gate."""
    w = h = 16
    checked = 0
    for p in fixtures.POLYGONS:
        xs, ys = np.asarray(p["ring"])[:, 0], np.asarray(p["ring"])[:, 1]
        ix0, iy0 = cells.grid_xy_np(np.array([xs.min()]), np.array([ys.min()]), 3)
        ix1, iy1 = cells.grid_xy_np(np.array([xs.max()]), np.array([ys.max()]), 3)
        for ty in range(int(iy0[0]), int(iy1[0]) + 1):
            for tx in range(int(ix0[0]), int(ix1[0]) + 1):
                bounds = raster_op.tile_bounds(3, tx, ty)
                mask = geometry.rasterize_ring(xs, ys, *bounds, w, h)
                if mask.sum() == 0:
                    continue
                runs = raster_op.vectorize_mask(mask)
                back = raster_op.runs_to_mask(runs, w, h)
                assert (back == mask).all()
                checked += 1
    assert checked > 20


def test_rasterized_area_approximates_polygon_area():
    """Total covered pixel area ≈ shoelace area (within pixel-perimeter
    error) for every polygon — sanity on the scanline fill."""
    for p in fixtures.POLYGONS:
        ring = np.asarray(p["ring"])
        xs, ys = ring[:, 0], ring[:, 1]
        area = abs(geometry.shoelace_area(xs, ys))
        w = h = 64
        x0, y0, x1, y1 = xs.min(), ys.min(), xs.max(), ys.max()
        mask = geometry.rasterize_ring(xs, ys, x0, y0, x1, y1, w, h)
        pix_area = (x1 - x0) * (y1 - y0) / (w * h)
        got = mask.sum() * pix_area
        perim = geometry.path_length(np.append(xs, xs[0]), np.append(ys, ys[0]))
        cell_diag = np.hypot((x1 - x0) / w, (y1 - y0) / h)
        assert abs(got - area) <= perim * cell_diag  # boundary band bound


# ----------------------------------------------------------------- images ---


def test_ahash_deterministic_and_recomputable():
    r1, r2 = fixtures.make_image(7), fixtures.make_image(7)
    assert r1["phash"] == r2["phash"] and r1["bytes"] == r2["bytes"]
    px = np.frombuffer(r1["bytes"], dtype=np.uint8).reshape(r1["h"], r1["w"], 3)
    assert int(fixtures.ahash64(px, r1["w"], r1["h"])) == r1["phash"]


def _ahash64_shift_loop(px, w, h):
    """The 64-step shift-and-or form ``fixtures.ahash64`` replaced."""
    gray = px.astype(np.uint32).sum(axis=2)
    bh, bw = h // 8, w // 8
    blocks = gray[: bh * 8, : bw * 8].reshape(8, bh, 8, bw).sum(axis=(1, 3))
    total = blocks.sum(dtype=np.uint64)
    out = np.uint64(0)
    for b in (blocks.astype(np.uint64) * 64 > total).astype(np.uint64).ravel():
        out = (out << np.uint64(1)) | b
    return out.astype(np.int64)


def test_ahash64_matches_shift_loop():
    """The packbits words are bit-identical to the shift loop on every
    (w, h) size class plus one size that is not a multiple of 8, one
    image at a time (``ahash64``) and as one batch (``ahash64_many``):
    random images (about half set the sign bit), a flat image (all bits
    0) and a one-bright-block image (bit 63 only, the most negative
    hash)."""
    rng = np.random.default_rng(5)
    signs = set()
    sizes = [(w, h) for w in fixtures.IMG_SIZES for h in fixtures.IMG_SIZES] + [(20, 13)]
    for w, h in sizes:
        flat = np.full((h, w, 3), 77, dtype=np.uint8)
        corner = np.zeros((h, w, 3), dtype=np.uint8)
        corner[: h // 8, : w // 8] = 255
        imgs = [flat, corner] + [rng.integers(0, 256, (h, w, 3), dtype=np.uint8) for _ in range(40)]
        want = [_ahash64_shift_loop(px, w, h) for px in imgs]
        for px, ref in zip(imgs, want):
            got = fixtures.ahash64(px, w, h)
            assert type(got) is np.int64
            assert got == ref
            signs.add(bool(got < 0))
        many = fixtures.ahash64_many(np.stack(imgs))
        assert many.dtype == np.int64 and many.shape == (len(imgs),)
        assert many.tolist() == [int(v) for v in want]
        assert fixtures.ahash64(flat, w, h) == 0
        assert fixtures.ahash64(corner, w, h) == np.iinfo(np.int64).min
    assert signs == {True, False}
    assert fixtures.ahash64_many(np.zeros((0, 16, 16, 3), dtype=np.uint8)).shape == (0,)


def test_psnr_quantization_above_40db():
    """The 'lossy' stand-in (2-LSB quantization) stays above the 40 dB
    gate [BASELINE.json input_hint PSNR>=40dB]."""
    r = fixtures.make_image(11)
    px = np.frombuffer(r["bytes"], dtype=np.uint8).reshape(r["h"], r["w"], 3)
    lossy = (px & 0xFC).astype(np.uint8)
    assert geometry.psnr(px, lossy) >= 40.0
    assert geometry.psnr(px, px) == float("inf")


# ----------------------------------------------------------------- dist ---


def test_haversine_equator_degree():
    d = geometry.haversine_km(
        np.array([0.0]), np.array([0.0]), np.array([1.0]), np.array([0.0])
    )
    assert d[0] == pytest.approx(111.19, abs=0.1)


def test_shoelace_seq_local_gate_and_anchor():
    """Below the 64x-extent gate shoelace_seq_local IS shoelace_seq
    (bitwise — the SQL-sum oracle contract); above it the anchored form
    recovers the exact area and centroid that raw accumulation loses."""
    import numpy as np

    from mapshaper_spark import geometry as G

    xs = [0.0, 4.0, 4.0, 0.0]
    ys = [0.0, 0.0, 2.0, 2.0]
    assert G.shoelace_seq_local(xs, ys) == G.shoelace_seq(xs, ys)
    OFF = 2.0e6 + 0.123
    xo = [v + OFF for v in xs]
    yo = [v + OFF for v in ys]
    a2, sx, sy = G.shoelace_seq_local(xo, yo)
    assert a2 / 2.0 == 8.0  # exact through the anchor
    # centroid maps back to the original frame
    assert sx / (3.0 * a2) == pytest.approx(2.0 + OFF, rel=1e-12)
    assert sy / (3.0 * a2) == pytest.approx(1.0 + OFF, rel=1e-12)
    # (the raw form's cancellation is shape-dependent — the end-to-end
    # demonstration lives in test_faces.test_tiled_faces_offset_heavy_exact)


def test_seg_intersections_bulk_overflow_rescue():
    """[VERDICT r4 #3] Cross products past float max made den/tn/un
    inf (or inf-inf = NaN), every range comparison came out False, and
    a TRUE proper crossing silently vanished — the same silent-wrong
    shape as the r3 boolean mis-trace. The power-of-two rescale rescue
    must find both crossings of these 1e200-scale boxes; the raw
    expressions overflow on every involved product."""
    import numpy as np

    from mapshaper_spark import geometry as G

    S = 1e200
    ra = np.array([(-S, -S), (S, -S), (S, S), (-S, S)])
    rb = np.array(
        [(0.0, -0.5 * S), (2 * S, -0.5 * S), (2 * S, 1.5 * S), (0.0, 1.5 * S)]
    )
    ia, ja, t, u, px, py = G._seg_intersections_bulk(ra, rb)
    assert len(ia) == 2
    assert np.isfinite(px).all() and np.isfinite(py).all()
    got = sorted(zip(px, py))
    assert got[0][0] == pytest.approx(0.0, abs=1e186)
    assert got[0][1] == pytest.approx(S, rel=1e-12)
    assert got[1][0] == pytest.approx(S, rel=1e-12)
    assert got[1][1] == pytest.approx(-0.5 * S, rel=1e-12)
    assert ((t > 0) & (t < 1)).all() and ((u > 0) & (u < 1)).all()
    # the scalar twin routes through the same rescue
    res = G._seg_intersect((S, -S), (S, S), (0.0, -0.5 * S), (2 * S, -0.5 * S))
    assert res is not None
    assert res[0] == pytest.approx(0.25, rel=1e-12)
    assert res[1] == pytest.approx(0.5, rel=1e-12)
    # finite-regime results stay bit-identical to the fast path
    ra2 = ra / 1e200
    rb2 = rb / 1e200
    ia2, ja2, t2, u2, _, _ = G._seg_intersections_bulk(ra2, rb2)
    assert list(zip(ia2, ja2)) == list(zip(ia, ja))
    assert np.array_equal(t, t2) and np.array_equal(u, u2)


def test_pip_ray_overflow_rescue_vertical_edge():
    """[VERDICT r4 #3] (py - y1) overflowing to inf on a VERTICAL edge
    made xint = inf * 0 = NaN, the crossing silently dropped, and the
    point misclassified outside. The convex-combination rescue keeps
    the crossing (and an overflowed non-vertical xint now compares at
    its true in-range value instead of +/-inf)."""
    import numpy as np

    from mapshaper_spark import geometry as G

    Y = 1.7e308
    ring = np.array([(0.0, -Y), (1.0, -Y), (1.0, Y), (0.0, Y)])
    inside = G.pip_ray(np.array([0.5]), np.array([1.6e308]), ring)
    assert bool(inside[0])
    outside = G.pip_ray(np.array([1.5]), np.array([1.6e308]), ring)
    assert not bool(outside[0])
