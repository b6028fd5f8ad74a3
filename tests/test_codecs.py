"""GeoJSON / TopoJSON / CSV codec roundtrips [SURVEY.md §2.1 -i/-o]."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from mapshaper_spark import fixtures
from mapshaper_spark.sources import geojson as gj
from mapshaper_spark.sources import testdata

from .conftest import SF_SMOKE


def test_geojson_polygon_roundtrip_lossless(spark):
    """Export the holed multi-ring layer to GeoJSON Features and parse
    back: every ring's coordinates must roundtrip bit-exactly (to_json
    renders full double precision)."""
    feats = testdata.holed_features(spark)
    exported = gj.export_polygons_geojson(feats)
    back = gj.import_geojson_features(exported)
    want = {
        (r["poly_id"], r["ring_idx"]): (tuple(r["xs"]), tuple(r["ys"]))
        for r in feats.collect()
    }
    got = {
        (r["poly_id"], r["ring_idx"]): (tuple(r["xs"]), tuple(r["ys"]))
        for r in back.collect()
    }
    assert got == want


def test_geojson_features_are_valid_json_with_closed_rings(spark):
    rows = gj.export_polygons_geojson(testdata.holed_features(spark)).collect()
    assert len(rows) == 4
    for r in rows:
        f = json.loads(r["geojson"])
        assert f["type"] == "Feature"
        assert f["geometry"]["type"] == "Polygon"
        for ring in f["geometry"]["coordinates"]:
            assert ring[0] == ring[-1]  # GeoJSON rings are closed
            assert len(ring) >= 4


def test_csv_points_roundtrip(spark, tmp_path):
    pts = testdata.customer_points(spark, SF_SMOKE)
    path = str(tmp_path / "pts_csv")
    gj.export_points_csv(pts, path)
    back = gj.import_points_csv(spark, path)
    a = {tuple(r) for r in pts.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_topojson_import_roundtrip():
    """export → import → identical feature/arc tables (the external
    TopoJSON load path into the arc-dictionary operators)."""
    fpdf = pd.DataFrame(fixtures.GRID_FEATURES)
    apdf = pd.DataFrame(fixtures.GRID_ARCS)
    doc = gj.topojson_json(fpdf, apdf, layer="grid")
    f2, a2 = gj.topojson_import(doc)
    assert list(f2["feature_id"]) == list(fpdf["feature_id"])
    assert list(f2["key"]) == list(fpdf["key"])
    assert [p for p in f2["parts"]] == [
        [list(part) for part in p] for p in fpdf["parts"]
    ]
    for col in ("xs", "ys"):
        assert [list(v) for v in a2[col]] == [list(v) for v in apdf[col]]


def test_split_layers_roundtrip(spark, tmp_path):
    """-split: one partition dir per key, single-layer reads pruned, and
    the union of layers equals the input."""
    from mapshaper_spark.operators import topology
    from mapshaper_spark.sources import sinks

    inc = topology.incidence(
        topology.features_df(spark, fixtures.GRID_FEATURES)
    )
    path = str(tmp_path / "split")
    sinks.split_layers(inc, path, key="key")
    keys = sinks.split_layer_keys(spark, path, "key")
    assert keys == sorted({f["key"] for f in fixtures.GRID_FEATURES})
    one = sinks.read_split_layer(spark, path, "key", keys[0])
    want = inc.filter(inc.key == keys[0])
    assert one.count() == want.count() > 0
    total = sum(
        sinks.read_split_layer(spark, path, "key", k).count() for k in keys
    )
    assert total == inc.count()


def test_shp_points_roundtrip(spark, tmp_path):
    from mapshaper_spark.sources import shapefile as shp

    pts = testdata.customer_points(spark, SF_SMOKE).orderBy("point_id").collect()
    path = str(tmp_path / "pts.shp")
    shp.write_points_shp(path, [(r["lon"], r["lat"]) for r in pts])
    back = shp.import_points_shp(spark, path).orderBy("point_id").collect()
    assert len(back) == len(pts)
    assert all(
        b["lon"] == a["lon"] and b["lat"] == a["lat"] for a, b in zip(pts, back)
    )


def test_shp_polygons_roundtrip_multi_ring(spark, tmp_path):
    """The holed multi-ring layer through the shapefile codec: ring
    structure and coordinates bit-exact (doubles are stored raw LE)."""
    from mapshaper_spark.sources import shapefile as shp

    feats = [
        [list(zip(r["xs"], r["ys"])) for r in grp]
        for grp in (
            [r for r in testdata.holed_features(spark).collect() if r["poly_id"] == p]
            for p in range(4)
        )
    ]
    path = str(tmp_path / "holed.shp")
    shp.write_polygons_shp(path, feats)
    back = shp.import_polygons_shp(spark, path)
    want = {
        (r["poly_id"], r["ring_idx"]): (tuple(r["xs"]), tuple(r["ys"]))
        for r in testdata.holed_features(spark).collect()
    }
    got = {
        (r["poly_id"], r["ring_idx"]): (tuple(r["xs"]), tuple(r["ys"]))
        for r in back.collect()
    }
    assert got == want
    # imported layer drives the real PIP machinery identically
    from mapshaper_spark import fixtures
    from mapshaper_spark.operators import spatial_join as sj

    pts = testdata.customer_points(spark, SF_SMOKE)
    idx = sj.build_cell_index_general(spark, back)
    a = sj.pip_attribute_general(pts, idx, fixtures.multiring_rings())
    idx0 = sj.build_cell_index_general(spark, testdata.holed_features(spark))
    b = sj.pip_attribute_general(pts, idx0, fixtures.multiring_rings())
    ka = {(r["point_id"], r["poly_id"]) for r in a.collect()}
    kb = {(r["point_id"], r["poly_id"]) for r in b.collect()}
    assert ka == kb


def test_kml_points_roundtrip(spark):
    from mapshaper_spark.sources import kml

    pts = [
        (r["point_id"], r["lon"], r["lat"])
        for r in testdata.customer_points(spark, SF_SMOKE).orderBy("point_id").collect()
    ]
    kind, back = kml.import_kml(kml.export_points_kml(pts))
    assert kind == "point"
    assert back == pts  # repr coordinates → bit-exact


def test_kml_polygons_roundtrip_with_holes():
    from mapshaper_spark.sources import kml

    feats = [
        {"poly_id": f["poly_id"], "rings": [list(map(tuple, r)) for r in f["rings"]]}
        for f in fixtures.HOLED_FEATURES
    ]
    kind, back = kml.import_kml(kml.export_polygons_kml(feats))
    assert kind == "polygon"
    want = {f["poly_id"]: [tuple(map(tuple, r)) for r in f["rings"]] for f in feats}
    got = {f["poly_id"]: [tuple(map(tuple, r)) for r in f["rings"]] for f in back}
    assert got == want


def test_topojson_document_structure_and_refs():
    fpdf = pd.DataFrame(fixtures.GRID_FEATURES)
    apdf = pd.DataFrame(fixtures.GRID_ARCS)
    doc = gj.topojson_doc(fpdf, apdf, layer="grid")
    assert doc["type"] == "Topology"
    assert len(doc["arcs"]) == len(fixtures.GRID_ARCS)
    geoms = doc["objects"]["grid"]["geometries"]
    assert len(geoms) == len(fixtures.GRID_FEATURES)
    # every signed ref resolves to a real arc (TopoJSON convention)
    for g in geoms:
        for part in g["arcs"]:
            for ref in part:
                aid = ref if ref >= 0 else -ref - 1
                assert 0 <= aid < len(doc["arcs"])
    # deterministic serialization
    assert gj.topojson_json(fpdf, apdf) == gj.topojson_json(fpdf, apdf)


def test_dbf_roundtrip_typed(tmp_path):
    """dBASE III sidecar: C/N field roundtrips are exact — ints at
    dec=0, decimal-exact doubles at dec=2, strings stripped of the
    fixed-width padding."""
    from mapshaper_spark.sources import shapefile as shp

    fields = [("name", "C", 12, 0), ("pop", "N", 10, 0), ("rate", "N", 12, 2)]
    rows = [
        {"name": "alpha", "pop": 1234, "rate": 12.25},
        {"name": "b", "pop": 0, "rate": -0.75},
        {"name": "gamma12345xx", "pop": 999999999, "rate": 100.5},
    ]
    path = str(tmp_path / "t.dbf")
    shp.write_dbf(path, fields, rows)
    f2, r2 = shp.read_dbf(path)
    assert f2 == fields
    assert r2 == rows
    assert isinstance(r2[0]["pop"], int) and isinstance(r2[0]["rate"], float)


def test_shx_index_random_access(tmp_path):
    """.shx offsets must point at the exact .shp record boundaries."""
    import struct

    from mapshaper_spark.sources import shapefile as shp

    path = str(tmp_path / "p.shp")
    shp.write_points_shp(path, [(1.0, 2.0), (3.0, 4.0), (5.0, 6.0)])
    shx = str(tmp_path / "p.shx")
    shp.write_shx(shx, path)
    idx = shp.read_shx(shx)
    assert len(idx) == 3
    with open(path, "rb") as f:
        buf = f.read()
    for k, (off, ln) in enumerate(idx):
        recno, words = struct.unpack(">ii", buf[off : off + 8])
        assert recno == k + 1 and words * 2 == ln


def test_prj_roundtrip(tmp_path):
    from mapshaper_spark.sources import shapefile as shp

    path = str(tmp_path / "p.prj")
    shp.write_prj(path)
    assert shp.read_prj(path) == shp.WGS84_WKT


def test_shp_dbf_attrs_drive_join(spark, tmp_path):
    """VERDICT r2 #5 done-criterion: the .dbf attribute table rides the
    import and drives a real attribute join — PIP counts per imported
    polygon joined with its DBF region name."""
    from pyspark.sql import functions as F

    from mapshaper_spark.sources import shapefile as shp, testdata

    holed = testdata.holed_features(spark).collect()
    feats = [
        [list(zip(r["xs"], r["ys"])) for r in holed if r["poly_id"] == p]
        for p in range(4)
    ]
    base = str(tmp_path / "regions")
    shp.write_polygons_shp(base + ".shp", feats)
    shp.write_dbf(
        base + ".dbf",
        [("region", "C", 10, 0), ("rank", "N", 6, 0)],
        [
            {"region": "donut", "rank": 3},
            {"region": "ell", "rank": 1},
            {"region": "islands", "rank": 4},
            {"region": "comb", "rank": 2},
        ],
    )
    shp.write_shx(base + ".shx", base + ".shp")
    shp.write_prj(base + ".prj")
    imported = shp.import_polygons_shp(spark, base + ".shp")
    assert {f.name for f in imported.schema.fields} == {
        "poly_id", "ring_idx", "xs", "ys", "region", "rank",
    }
    # geometry columns drive PIP; DBF columns label the aggregate
    from mapshaper_spark.operators import spatial_join as sj

    pts = testdata.customer_points(spark, SF_SMOKE)
    geom = imported.select("poly_id", "ring_idx", "xs", "ys")
    idx = sj.build_cell_index_general(spark, geom)
    rings = {}
    for r in geom.orderBy("poly_id", "ring_idx").collect():
        rings.setdefault(r["poly_id"], []).append(np.column_stack([r["xs"], r["ys"]]))
    counts = sj.pip_attribute_general(pts, idx, rings).groupBy("poly_id").count()
    labeled = counts.join(
        imported.select("poly_id", "region", "rank").distinct(), "poly_id"
    )
    rows = {r["region"]: (r["rank"], r["count"]) for r in labeled.collect()}
    assert set(rows) <= {"donut", "ell", "islands", "comb"}
    assert len(rows) > 0 and all(c > 0 for _, c in rows.values())


def test_geojsonl_scan_scale_roundtrip(spark, tmp_path):
    """Distributed GeoJSON file import: the ndjson export re-reads
    through spark.read.text + from_json with ring coordinates bit-exact
    (to_json renders exact doubles)."""
    from mapshaper_spark.sources import geojson as gj, testdata

    feats = testdata.holed_features(spark)
    path = str(tmp_path / "layer_ndjson")
    gj.export_geojsonl(feats, path)
    back = gj.import_geojson_file(spark, path)
    want = {
        (r["poly_id"], r["ring_idx"]): (tuple(r["xs"]), tuple(r["ys"]))
        for r in feats.collect()
    }
    got = {
        (r["poly_id"], r["ring_idx"]): (tuple(r["xs"]), tuple(r["ys"]))
        for r in back.collect()
    }
    assert got == want


def test_geojson_featurecollection_doc_import(spark, tmp_path):
    """A monolithic FeatureCollection document (the common external
    shape) imports through the multiLine json reader — including
    pretty-printed documents and features without ids (document order
    becomes poly_id)."""
    import json

    from mapshaper_spark.sources import geojson as gj, testdata

    feats = testdata.holed_features(spark).collect()
    by_pid = {}
    for r in feats:
        by_pid.setdefault(r["poly_id"], []).append(r)
    doc = {"type": "FeatureCollection", "features": []}
    for pid in sorted(by_pid):
        rings = sorted(by_pid[pid], key=lambda r: r["ring_idx"])
        coords = [
            [[x, y] for x, y in zip(r["xs"], r["ys"])] + [[r["xs"][0], r["ys"][0]]]
            for r in rings
        ]
        doc["features"].append(
            {
                "type": "Feature",
                "geometry": {"type": "Polygon", "coordinates": coords},
            }
        )
    p = tmp_path / "doc.geojson"
    p.write_text(json.dumps(doc, indent=2))
    back = gj.import_geojson_file(spark, str(p))
    want = {
        (r["poly_id"], r["ring_idx"]): (tuple(r["xs"]), tuple(r["ys"]))
        for r in feats
    }
    got = {
        (r["poly_id"], r["ring_idx"]): (tuple(r["xs"]), tuple(r["ys"]))
        for r in back.collect()
    }
    assert got == want


def _resolve_rings(parts, arcs_pdf):
    """Feature parts (signed arc refs) -> list of coordinate tuples per
    part, following the TopoJSON convention (ref = -(id+1) reversed)."""
    by_id = {int(r["arc_id"]): (list(r["xs"]), list(r["ys"])) for _, r in arcs_pdf.iterrows()}
    out = []
    for part in parts:
        pts = []
        for ref in part:
            ref = int(ref)
            xs, ys = by_id[ref if ref >= 0 else -ref - 1]
            seq = list(zip(xs, ys))
            if ref < 0:
                seq = seq[::-1]
            pts.extend(seq if not pts else seq[1:])
        out.append(tuple(pts))
    return out


def test_topojson_tiled_export_lossless(spark):
    """Sharded TopoJSON export: every feature lands on exactly one tile,
    each tile document is a self-contained Topology whose locally
    renumbered arcs resolve the feature's rings bit-exactly equal to
    the global arc dictionary."""
    from mapshaper_spark.operators import topology

    arcs, feats = fixtures._make_grid_topology(8)
    fdf = topology.features_df(spark, feats)
    adf = topology.arcs_df(spark, arcs)
    tiles = gj.export_topojson_tiled(fdf, adf, nx=3, ny=2, layer="grid").collect()
    assert len(tiles) == 6

    apdf_global = pd.DataFrame(arcs)
    want = {
        f["feature_id"]: _resolve_rings(f["parts"], apdf_global) for f in feats
    }
    seen = {}
    for t in tiles:
        doc = json.loads(t.doc)
        assert doc["type"] == "Topology"
        assert t.n_arcs == len(doc["arcs"])
        f2, a2 = gj.topojson_import(t.doc, layer="grid")
        assert t.n_features == len(f2)
        for _, f in f2.iterrows():
            fid = int(f["feature_id"])
            assert fid not in seen  # exactly one tile per feature
            seen[fid] = _resolve_rings(f["parts"], a2)
    assert set(seen) == set(want)
    assert seen == want  # bit-exact ring resolution through local arcs


def test_topojson_tiled_arc_replication_bounded(spark):
    """Border-shared arcs replicate only to the tiles whose features
    reference them: total shipped arcs <= global arcs + border overlap
    (for the 8x8 grid at 3x2 tiles, strictly less than 2x)."""
    from mapshaper_spark.operators import topology

    arcs, feats = fixtures._make_grid_topology(8)
    fdf = topology.features_df(spark, feats)
    adf = topology.arcs_df(spark, arcs)
    tiles = gj.export_topojson_tiled(fdf, adf, nx=3, ny=2).collect()
    shipped = sum(t.n_arcs for t in tiles)
    assert len(arcs) <= shipped < 2 * len(arcs)


def test_shp_polylines_roundtrip_multi_part(spark, tmp_path):
    """PolyLine (type 3) .shp roundtrip: the seeded random-walk arcs,
    packed two parts per feature, come back bit-exactly, and the
    imported table drives the Cyrus-Beck clip identically to the
    native fixture path."""
    from mapshaper_spark.operators import overlay, topology
    from mapshaper_spark.sources import shapefile as shp

    arcs = fixtures.CROSS_LINES
    # two parts per feature exercises the parts index
    feats = [
        [list(zip(a["xs"], a["ys"])) for a in arcs[i : i + 2]]
        for i in range(0, len(arcs), 2)
    ]
    path = str(tmp_path / "lines.shp")
    shp.write_polylines_shp(path, feats)
    back = shp.import_polylines_shp(spark, path).orderBy("line_id", "part_idx").collect()
    got = [(list(r["xs"]), list(r["ys"])) for r in back]
    want = [
        ([p[0] for p in part], [p[1] for p in part]) for f in feats for part in f
    ]
    assert got == want

    # flatten imported parts back to the arcs model and drive -clip
    flat = [
        {"arc_id": arcs[i]["arc_id"], "xs": g[0], "ys": g[1]}
        for i, g in enumerate(got)
    ]
    native = {
        (r["arc_id"], r["clip_id"]): r["total_len"]
        for r in overlay.clip_polylines(
            topology.arcs_df(spark, arcs), testdata.polygons(spark)
        ).collect()
    }
    imported = {
        (r["arc_id"], r["clip_id"]): r["total_len"]
        for r in overlay.clip_polylines(
            topology.arcs_df(spark, flat), testdata.polygons(spark)
        ).collect()
    }
    assert imported == native


def test_shp_polylines_dbf_attrs(spark, tmp_path):
    from mapshaper_spark.sources import shapefile as shp

    feats = [[[(0.0, 0.0), (1.0, 2.0)]], [[(3.0, 1.0), (4.0, -1.0), (5.0, 0.0)]]]
    path = str(tmp_path / "roads.shp")
    shp.write_polylines_shp(path, feats)
    shp.write_dbf(
        str(tmp_path / "roads.dbf"),
        [("NAME", "C", 12, 0), ("LANES", "N", 4, 0)],
        [{"NAME": "main st", "LANES": 4}, {"NAME": "bypass", "LANES": 2}],
    )
    back = shp.import_polylines_shp(spark, path).orderBy("line_id").collect()
    assert [(r["NAME"], r["LANES"]) for r in back] == [("main st", 4), ("bypass", 2)]


def test_shp_distributed_import_matches_driver(spark, tmp_path):
    """Scan-scale .shp import: executors seek record ranges from the
    .shx index; output identical to the driver-side reader on the
    holed multi-ring layer."""
    from mapshaper_spark.sources import shapefile as shp

    feats = [
        [list(zip(r["xs"], r["ys"])) for r in grp]
        for grp in (
            [r for r in testdata.holed_features(spark).collect() if r["poly_id"] == p]
            for p in range(4)
        )
    ]
    path = str(tmp_path / "holed.shp")
    shp.write_polygons_shp(path, feats)
    shp.write_shx(str(tmp_path / "holed.shx"), path)
    driver_side = {
        (r["poly_id"], r["ring_idx"]): (tuple(r["xs"]), tuple(r["ys"]))
        for r in shp.import_polygons_shp(spark, path, with_attrs=False).collect()
    }
    # records_per_task=2 forces multiple range partitions
    dist = {
        (r["poly_id"], r["ring_idx"]): (tuple(r["xs"]), tuple(r["ys"]))
        for r in shp.import_polygons_shp_distributed(
            spark, path, records_per_task=2
        ).collect()
    }
    assert dist == driver_side


def test_svg_polygon_document(spark):
    """-o format=svg: the holed multi-ring layer renders one
    fill-rule=evenodd path per feature; subpaths are rings in ring_idx
    order, coordinates are the layer-frame affine (y flipped) rounded
    to the requested precision."""
    import xml.etree.ElementTree as ET

    from mapshaper_spark.sources import svg as svg_mod

    feats = testdata.holed_features(spark)
    doc = svg_mod.svg_document(feats, width=800.0, precision=2)
    root = ET.fromstring(doc)
    ns = "{http://www.w3.org/2000/svg}"
    paths = root.findall(f"{ns}path")
    assert len(paths) == 4
    assert all(p.get("fill-rule") == "evenodd" for p in paths)

    # reconstruct the affine from the layer bounds and check every
    # vertex of the donut feature (2 rings -> 2 subpaths)
    rings = {
        (r["poly_id"], r["ring_idx"]): (r["xs"], r["ys"])
        for r in feats.collect()
    }
    all_x = [v for (xs, _) in rings.values() for v in xs]
    all_y = [v for (_, ys) in rings.values() for v in ys]
    x0, x1, y1 = min(all_x), max(all_x), max(all_y)
    k = 800.0 / (x1 - x0)
    donut = [p for p in paths if p.get("id") == "f0"][0]
    subs = [s for s in donut.get("d").split("M") if s]
    assert len(subs) == 2
    for ri, sub in enumerate(subs):
        xs, ys = rings[(0, ri)]
        pts = [t.split(",") for t in sub.strip().rstrip("Z").split(" L")]
        assert len(pts) == len(xs)
        for (sx, sy), wx, wy in zip(pts, xs, ys):
            assert abs(float(sx) - (wx - x0) * k) <= 0.005 + 1e-9
            assert abs(float(sy) - (y1 - wy) * k) <= 0.005 + 1e-9

    # y flip: the island feature sits at the top of the layer, so its
    # SVG y coordinates are among the smallest
    viewbox = root.get("viewBox").split()
    assert float(viewbox[2]) == 800.0
    assert float(viewbox[3]) > 0.0


def test_svg_style_where_frame_scalebar(spark):
    """-style/-frame/-scalebar [UPSTREAM presentation commands]: data-
    driven per-feature attributes with where= subsetting, a fixed
    composition frame that pins the affine, and a nice-number
    scalebar."""
    import xml.etree.ElementTree as ET

    from mapshaper_spark.sources import svg as svg_mod

    feats = testdata.holed_features(spark).withColumn(
        "pop", F.col("poly_id") * 100
    )
    doc = svg_mod.svg_document(
        feats,
        width=800.0,
        precision=2,
        style={
            "fill": "concat('#c', cast(poly_id as string))",
            "stroke_width": "cast(pop as string)",
        },
        where="poly_id >= 2",
        frame=(-10.0, -10.0, 30.0, 10.0),
        scalebar={"target_px": 100.0, "units": "units"},
    )
    root = ET.fromstring(doc)
    ns = "{http://www.w3.org/2000/svg}"
    paths = {p.get("id"): p for p in root.findall(f"{ns}path")}
    assert len(paths) == 4
    # where= gate: styled features carry the data-driven attrs
    # (underscore -> hyphen), unstyled features carry none
    assert paths["f2"].get("fill") == "#c2"
    assert paths["f2"].get("stroke-width") == "200"
    assert paths["f3"].get("fill") == "#c3"
    assert paths["f0"].get("fill") is None
    assert paths["f1"].get("stroke-width") is None
    # -frame pins the affine: width 800 over a 40-unit frame -> k=20,
    # height = 20 units * k = 400; the frame rect covers the viewBox
    vb = [float(v) for v in root.get("viewBox").split()]
    assert vb[2] == 800.0 and abs(vb[3] - 400.0) < 1e-6
    frame_rect = [
        r for r in root.findall(f"{ns}rect") if r.get("id") == "frame"
    ]
    assert len(frame_rect) == 1
    assert float(frame_rect[0].get("width")) == 800.0
    # scalebar: k=20 px/unit, target 100 px -> nice length 5 units ->
    # exactly 100 px wide, labelled "5 units"
    bar = root.findall(f"{ns}g")
    assert len(bar) == 1 and bar[0].get("id") == "scalebar"
    bar_rect = bar[0].find(f"{ns}rect")
    assert float(bar_rect.get("width")) == 100.0
    assert bar[0].find(f"{ns}text").text == "5 units"
    # vertex check under the frame affine: feature 0's first ring
    r0 = [
        r for r in feats.collect() if r["poly_id"] == 0 and r["ring_idx"] == 0
    ][0]
    first_pt = paths["f0"].get("d").split(" L")[0].lstrip("M").split(",")
    assert abs(float(first_pt[0]) - (r0["xs"][0] - (-10.0)) * 20.0) <= 0.005 + 1e-9
    assert abs(float(first_pt[1]) - (10.0 - r0["ys"][0]) * 20.0) <= 0.005 + 1e-9


def test_svg_symbols(spark):
    """-symbols [UPSTREAM]: square/diamond/cross markup with an
    expression-driven radius and per-point style attributes."""
    import xml.etree.ElementTree as ET

    from mapshaper_spark.sources import svg as svg_mod

    pts = testdata.customer_points(spark, SF_SMOKE).limit(20)
    doc = svg_mod.svg_point_document(
        pts,
        width=400.0,
        precision=2,
        r="1.0 + pmod(point_id, 3)",
        symbol="square",
        style={"fill": "'#08519c'"},
        where="pmod(point_id, 2) = 0",
    )
    root = ET.fromstring(doc)
    ns = "{http://www.w3.org/2000/svg}"
    rects = {r.get("id"): r for r in root.findall(f"{ns}rect")}
    assert len(rects) == 20
    ids = [r["point_id"] for r in pts.select("point_id").collect()]
    for pid in ids:
        el = rects[f"p{pid}"]
        rad = 1.0 + (pid % 3)
        assert abs(float(el.get("width")) - 2 * rad) < 1e-9
        assert abs(float(el.get("height")) - 2 * rad) < 1e-9
        if pid % 2 == 0:
            assert el.get("fill") == "#08519c"
        else:
            assert el.get("fill") is None
    # diamond: 4-vertex closed path centred on the circle-variant cx/cy
    doc_d = svg_mod.svg_point_document(
        pts, width=400.0, precision=2, r=3.0, symbol="diamond"
    )
    droot = ET.fromstring(doc_d)
    dpaths = droot.findall(f"{ns}path")
    assert len(dpaths) == 20
    d = dpaths[0].get("d")
    assert d.startswith("M") and d.endswith("Z") and d.count("L") == 3
    # cross: two strokes, no Z
    doc_c = svg_mod.svg_point_document(
        pts, width=400.0, precision=2, r=3.0, symbol="cross"
    )
    cpaths = ET.fromstring(doc_c).findall(f"{ns}path")
    assert len(cpaths) == 20
    assert cpaths[0].get("d").count("M") == 2
    # circle path unchanged by default args
    doc_o = svg_mod.svg_point_document(pts, width=400.0, precision=2)
    assert len(ET.fromstring(doc_o).findall(f"{ns}circle")) == 20


def test_svg_point_document(spark):
    import xml.etree.ElementTree as ET

    from mapshaper_spark.sources import svg as svg_mod

    pts = testdata.customer_points(spark, SF_SMOKE).limit(50)
    doc = svg_mod.svg_point_document(
        pts, width=400.0, precision=1, id_col="point_id",
        x_col="lon", y_col="lat",
    )
    root = ET.fromstring(doc)
    ns = "{http://www.w3.org/2000/svg}"
    circles = root.findall(f"{ns}circle")
    assert len(circles) == 50
    w = float(root.get("viewBox").split()[2])
    h = float(root.get("viewBox").split()[3])
    for c in circles:
        assert -0.5 <= float(c.get("cx")) <= w + 0.5
        assert -0.5 <= float(c.get("cy")) <= h + 0.5


def test_topojson_tiled_import_roundtrip(spark):
    """Scan-scale sharded-TopoJSON import: export the 8x8 grid layer to
    3x2 self-contained tile documents, read them back through the
    distributed parser, and require (a) the deduped global arc pool has
    exactly the original arc count (border-shared replicas collapse),
    (b) every feature's rings resolve bit-exactly equal to the original
    arc dictionary under the remapped signed refs."""
    from mapshaper_spark.operators import topology

    arcs, feats = fixtures._make_grid_topology(8)
    fdf = topology.features_df(spark, feats)
    adf = topology.arcs_df(spark, arcs)
    tiles = gj.export_topojson_tiled(fdf, adf, nx=3, ny=2, layer="grid").collect()

    docs = spark.createDataFrame([(t.doc,) for t in tiles], "doc string")
    f2, a2 = gj.import_topojson_tiled(docs, layer="grid")
    a2_pdf = a2.toPandas()
    assert len(a2_pdf) == len(arcs)  # replicas dedup to the global pool

    want = {
        f["feature_id"]: _resolve_rings(f["parts"], pd.DataFrame(arcs))
        for f in feats
    }
    got = {
        int(r["feature_id"]): _resolve_rings(r["parts"], a2_pdf)
        for _, r in f2.toPandas().iterrows()
    }
    assert got == want


def test_svg_tiled_documents(spark):
    """Scan-scale SVG export: 2x2 self-contained tile documents share
    the GLOBAL affine — every feature lands on exactly one tile with a
    d-string identical to the single-document export's, and the tile
    viewBoxes partition the global frame."""
    import xml.etree.ElementTree as ET

    from mapshaper_spark.sources import svg as svg_mod

    feats = testdata.holed_features(spark)
    global_doc = svg_mod.svg_document(feats, width=800.0, precision=2)
    ns = "{http://www.w3.org/2000/svg}"
    global_d = {
        p.get("id"): p.get("d")
        for p in ET.fromstring(global_doc).findall(f"{ns}path")
    }
    gw = float(ET.fromstring(global_doc).get("viewBox").split()[2])
    gh = float(ET.fromstring(global_doc).get("viewBox").split()[3])

    tiles = svg_mod.svg_tiled_documents(feats, nx=2, ny=2, width=800.0, precision=2).collect()
    assert sum(t.n_features for t in tiles) == 4
    seen = {}
    boxes = []
    for t in tiles:
        root = ET.fromstring(t.doc)
        boxes.append(tuple(float(v) for v in root.get("viewBox").split()))
        for p in root.findall(f"{ns}path"):
            assert p.get("id") not in seen  # exactly one tile per feature
            seen[p.get("id")] = p.get("d")
    assert set(seen) <= set(global_d)
    for fid, d in seen.items():
        assert d == global_d[fid]  # same global affine, same strings
    # tile viewBoxes partition the global frame
    area = sum(b[2] * b[3] for b in boxes)
    assert all(0 <= b[0] <= gw and 0 <= b[1] <= gh for b in boxes)
    assert area <= gw * gh + 1e-6


def test_geojson_export_precision_option(spark):
    """-o precision=: coordinates round to the requested decimals (the
    parsed values are exactly the rounded doubles); default stays the
    full-precision lossless path."""
    feats = testdata.holed_features(spark).withColumn(
        "xs", F.expr("transform(xs, v -> v + 0.123456789)")
    )
    rows = gj.export_polygons_geojson(feats, precision=3).collect()
    for r in rows:
        f = json.loads(r["geojson"])
        for ring in f["geometry"]["coordinates"]:
            for x, y in ring:
                assert x == round(x, 3) and y == round(y, 3)


def test_topojson_quantized_doc_shape():
    """Quantized export is spec-shaped: transform member, integer
    delta-encoded arcs (first point absolute), grid round-trip exact
    on a dyadic scale."""
    arcs, feats = fixtures._make_grid_topology(4)
    import pandas as pd

    apdf = pd.DataFrame(arcs)
    fpdf = pd.DataFrame(feats)
    tf = gj.topo_transform(0.0, 0.0, 4.0, 4.0, 4 * 256 + 1)
    doc = gj.topojson_doc(fpdf, apdf, layer="grid", transform=tf)
    assert doc["transform"] == {
        "scale": [2.0 ** -8, 2.0 ** -8],
        "translate": [0.0, 0.0],
    }
    for enc in doc["arcs"]:
        assert all(isinstance(v, int) for pt in enc for v in pt)
    # delta encoding: cumulative sums reproduce the quantized points
    f2, a2 = gj.topojson_import(doc, layer="grid")
    by_pts = sorted((tuple(r["xs"]), tuple(r["ys"])) for _, r in a2.iterrows())
    raw = sorted((tuple(map(float, a["xs"])), tuple(map(float, a["ys"]))) for a in arcs)
    assert by_pts == raw  # dyadic scale -> bitwise lossless


def test_topojson_quantized_lossy_bound():
    """Non-dyadic quantization is lossy but bounded by half a grid
    cell per axis."""
    import pandas as pd

    apdf = pd.DataFrame(
        [{"arc_id": 0, "xs": [0.0, 0.123456, 0.9999], "ys": [0.0, 0.77777, 0.5]}]
    )
    fpdf = pd.DataFrame([{"feature_id": 0, "key": "k", "parts": [[0]]}])
    tf = gj.topo_transform(0.0, 0.0, 1.0, 1.0, 101)
    doc = gj.topojson_doc(fpdf, apdf, layer="layer", transform=tf)
    _, a2 = gj.topojson_import(doc, layer="layer")
    half = (1.0 / 100) / 2
    for got, want in zip(a2.iloc[0]["xs"], apdf.iloc[0]["xs"]):
        assert abs(got - want) <= half + 1e-12
    for got, want in zip(a2.iloc[0]["ys"], apdf.iloc[0]["ys"]):
        assert abs(got - want) <= half + 1e-12


def test_topojson_tiled_quantized_roundtrip_bitwise(spark):
    """Tiled quantized export -> distributed import reproduces the RAW
    import's arc pool and features bitwise (one GLOBAL transform keeps
    border-shared replicas identical across tiles; dyadic scale keeps
    the integer grid lossless)."""
    from mapshaper_spark.operators import topology

    arcs, feats = fixtures._make_grid_topology(8)
    fdf, adf = topology.features_df(spark, feats), topology.arcs_df(spark, arcs)
    raw_f, raw_a = gj.import_topojson_tiled(
        gj.export_topojson_tiled(fdf, adf, nx=2, ny=2, layer="grid"),
        layer="grid",
    )
    q_f, q_a = gj.import_topojson_tiled(
        gj.export_topojson_tiled(
            fdf, adf, nx=2, ny=2, layer="grid", quantization=8 * 256 + 1
        ),
        layer="grid",
    )
    raw_pool = sorted((tuple(r.xs), tuple(r.ys)) for r in raw_a.collect())
    q_pool = sorted((tuple(r.xs), tuple(r.ys)) for r in q_a.collect())
    assert raw_pool == q_pool
    assert sorted(map(str, raw_f.collect())) == sorted(map(str, q_f.collect()))


def test_topojson_quantization_validation():
    import pytest

    with pytest.raises(ValueError, match="quantization"):
        gj.topo_transform(0.0, 0.0, 1.0, 1.0, 1)
