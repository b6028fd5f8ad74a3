"""Spec-driven op-list pipeline over the r5 operator families — the
analog of an upstream mapshaper command line (`-i ... -buffer
-dissolve2 -o`) as a JSON document folded over a lazy DataFrame
[plans/pipeline.py]. Each test runs a spec through run_pipeline and
asserts the output EXACTLY equals the direct operator chain (the ops
are deterministic: content-hash ids, bounds-derived grids), so the
wiring layer can never drift from the operators it names."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapshaper_spark import fixtures
from mapshaper_spark.functions import proj as proj_fn
from mapshaper_spark.operators import overlay, points as points_op, topology
from mapshaper_spark.plans import pipeline
from mapshaper_spark.sources import testdata


def _rows(df, cols):
    return sorted(
        tuple(r[c] if not isinstance(r[c], list) else tuple(r[c]) for c in cols)
        for r in df.collect()
    )


def test_buffer_dissolve_chain_matches_direct(spark):
    # the classic upstream composition: -buffer ... -dissolve2 (rings)
    spec = {
        "source": {"kind": "buffer_lines"},
        "ops": [
            {"op": "buffer", "kind": "polylines",
             "radius": fixtures.BUFFER_LINE_RADIUS},
            {"op": "with_column", "name": "feature_id",
             "expr": "feature_id * 100 + sseq"},
            {"op": "dissolve2_rings", "res": 3},
        ],
    }
    got = pipeline.run_pipeline(spark, spec)
    lines = pipeline.load_source(spark, {"kind": "buffer_lines"})
    quads = points_op.buffer_polylines(
        lines, fixtures.BUFFER_LINE_RADIUS
    ).withColumn("feature_id", F.expr("feature_id * 100 + sseq"))
    want = overlay.dissolve2_rings_tiled(quads, res=3)
    cols = ["key", "ring_id", "n_vertices", "area", "xs", "ys"]
    assert _rows(got, cols) == _rows(want, cols)


def test_points_interpolated_spec_matches_direct(spark):
    spec = {
        "source": {"kind": "divide_lines"},
        "ops": [{"op": "points_mode", "mode": "interpolated", "interval": 2.0}],
    }
    got = pipeline.run_pipeline(spark, spec)
    want = points_op.points_interpolated(
        topology.arcs_df(spark, fixtures.DIVIDE_LINES), 2.0
    )
    cols = ["arc_id", "k", "px", "py"]
    assert _rows(got, cols) == _rows(want, cols)


def test_rotate_layer_spec_matches_direct(spark):
    spec = {
        "source": {"kind": "holed_features"},
        "ops": [{"op": "rotate", "angles": [110.0, -35.0, 20.0]}],
    }
    got = pipeline.run_pipeline(spark, spec)
    want = proj_fn.project_layer(
        testdata.holed_features(spark),
        lambda d: proj_fn.rotate_sphere(d, (110.0, -35.0, 20.0), out=("rx", "ry")),
        out=("rx", "ry"),
    )
    cols = ["poly_id", "ring_idx", "xs", "ys"]
    assert _rows(got, cols) == _rows(want, cols)


def test_project_layer_spec_webmercator(spark):
    spec = {
        "source": {"kind": "holed_features"},
        "ops": [{"op": "project", "name": "to_webmercator",
                 "out": ["mx", "my"]}],
    }
    got = pipeline.run_pipeline(spark, spec)
    want = proj_fn.project_layer(
        testdata.holed_features(spark), proj_fn.to_webmercator, out=("mx", "my")
    )
    cols = ["poly_id", "ring_idx", "xs", "ys"]
    assert _rows(got, cols) == _rows(want, cols)


def test_project_spec_routes_zero_shuffle(spark):
    """Closed-form projections route through project_layer_inplace
    (no exchange in the plan); builder kwargs (sinusoidal lon0) reach
    the factory; Newton projections have no builder, run the explode
    path and match their project_layer form."""
    feats = testdata.holed_features(spark)
    # in-place route, with a projection parameter
    got = pipeline.OPS["project"](
        spark, feats, {"name": "sinusoidal", "args": {"lon0": 10.0}}
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    want = proj_fn.project_layer(
        feats, lambda d: proj_fn.sinusoidal(d, lon0=10.0), out=("sx", "sy")
    )
    cols = ["poly_id", "ring_idx", "xs", "ys"]
    assert _rows(got, cols) == _rows(want, cols)
    # 1D Newton solve -> EXPLODE route (no builder: HOF lambdas run
    # interpreted, see the XY_BUILDERS note in proj.py)
    got = pipeline.OPS["project"](
        spark, feats, {"name": "mollweide", "out": ["wx", "wy"]}
    )
    assert "Exchange" in got._jdf.queryExecution().executedPlan().toString()
    want = proj_fn.project_layer(feats, proj_fn.mollweide, out=("wx", "wy"))
    assert _rows(got, cols) == _rows(want, cols)
    # winkel's forward is closed-form -> in-place route too
    got = pipeline.OPS["project"](
        spark, feats, {"name": "winkel_tripel", "out": ["wtx", "wty"]}
    )
    assert "Exchange" not in got._jdf.queryExecution().executedPlan().toString()
    want = proj_fn.project_layer(feats, proj_fn.winkel_tripel, out=("wtx", "wty"))
    assert _rows(got, cols) == _rows(want, cols)


def test_project_spec_bad_args_raise(spark):
    """A spec arg the builder or point-table function does not take
    raises TypeError on the driver, before any Spark job runs."""
    feats = testdata.holed_features(spark)
    sc = spark.sparkContext
    sc.setJobGroup("project_bad_args", "project_bad_args")
    try:
        for name in ("to_webmercator", "mollweide"):
            with pytest.raises(TypeError):
                pipeline.OPS["project"](
                    spark, feats, {"name": name, "args": {"nope": 1.0}}
                )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("project_bad_args")


def test_project_spec_winkel_inverse_roundtrip(spark):
    """The Winkel Tripel inverse (a 2D Newton, so explode path) runs
    from a spec naming its input columns, and round-trips a
    winkel_tripel layer to within 1e-9 degrees."""
    feats = testdata.holed_features(spark)
    fwd = pipeline.OPS["project"](spark, feats, {"name": "winkel_tripel"})
    back = pipeline.OPS["project"](
        spark,
        fwd,
        {"name": "winkel_tripel_inverse", "args": {"wtx": "lon", "wty": "lat"},
         "out": ["lon2", "lat2"]},
    )
    orig = {(r.poly_id, r.ring_idx): (r.xs, r.ys) for r in feats.collect()}
    got = {(r.poly_id, r.ring_idx): (r.xs, r.ys) for r in back.collect()}
    assert set(got) == set(orig)
    for k, (oxs, oys) in orig.items():
        assert np.allclose(got[k][0], oxs, rtol=0, atol=1e-9)
        assert np.allclose(got[k][1], oys, rtol=0, atol=1e-9)


def test_unknown_names_raise(spark):
    lines = pipeline.load_source(spark, {"kind": "divide_lines"})
    try:
        pipeline.OPS["points_mode"](spark, lines, {"mode": "nope"})
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "nope" in str(e)
    try:
        pipeline.OPS["project"](spark, lines, {"name": "not_a_projection"})
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "not_a_projection" in str(e)
