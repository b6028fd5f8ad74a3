"""Declarative pipeline runner — the mapshaper command-list analog
[SURVEY.md §3.2 Entry 3].

mapshaper's IR is an ordered command list folded over mutable datasets;
ours is a JSON op list folded over a *lazy* DataFrame — nothing executes
until a sink, so Catalyst optimizes across op boundaries (a ``filter``
op placed after ``with_cell`` still pushes to the parquet scan). Each op
is a pure DataFrame→DataFrame function; ``checkpoint`` ops cut the plan
at stage boundaries through plans.lineage (resumable, per-partition
lineage + metrics [north_rule]).

Spec shape::

    {"source": {"kind": "parquet", "path": ...}
             | {"kind": "customer_points" | "images", ...},
     "ops": [{"op": "filter", "expr": "lon > 0"},
             {"op": "with_cell", "res": 6},
             {"op": "pip_attribute"},
             {"op": "tile_assign", "z": 4},
             {"op": "count_by", "keys": ["poly_id", "tile_x", "tile_y"]},
             {"op": "checkpoint", "stage": "s1", "out": ..., "lineage": ...}]}

Run via ``spark-submit --py-files dist/mapshaper_spark.zip
jobs/run_pipeline.py --spec spec.json --out out.parquet`` [north_rule].
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cells, fixtures
from ..operators import knn as knn_op
from ..operators import raster as raster_op
from ..operators import simplify as simplify_op
from ..operators import skew as skew_op
from ..operators import spatial_join as sj
from ..sources import testdata
from . import lineage as lineage_mod

OpFn = Callable[[SparkSession, DataFrame, dict], DataFrame]
OPS: dict[str, OpFn] = {}


def op(name: str):
    def deco(fn: OpFn):
        OPS[name] = fn
        return fn

    return deco


# ------------------------------------------------------------- sources ---


def load_source(spark: SparkSession, src: dict) -> DataFrame:
    kind = src["kind"]
    if kind == "parquet":
        return spark.read.parquet(src["path"])
    if kind == "customer_points":
        return testdata.customer_points(spark, src["sf_dir"])
    if kind == "lineitem_points":
        return testdata.lineitem_points(spark, src["sf_dir"])
    if kind == "table":
        return testdata.load(spark, src["sf_dir"], src["table"])
    if kind == "images":
        return fixtures.images_df(spark, src.get("n", 10_000), src.get("partitions", 32))
    if kind == "buffer_lines":  # fixture polyline layer (feature_id, key, xs, ys)
        return spark.createDataFrame(
            fixtures.buffer_lines_pdf(),
            schema="feature_id int, key string, xs array<double>, ys array<double>",
        )
    if kind == "holed_features":  # multi-ring fixture layer
        return testdata.holed_features(spark)
    if kind == "divide_lines":  # dyadic polyline fixture (arc_id, xs, ys)
        from ..operators import topology

        return topology.arcs_df(spark, fixtures.DIVIDE_LINES)
    raise ValueError(f"unknown source kind {kind!r}")


# ----------------------------------------------------------------- ops ---


@op("filter")
def _filter(spark, df, o):
    return df.filter(F.expr(o["expr"]))


@op("select")
def _select(spark, df, o):
    return df.selectExpr(*o["exprs"])


@op("with_column")
def _with_column(spark, df, o):
    return df.withColumn(o["name"], F.expr(o["expr"]))


@op("with_cell")
def _with_cell(spark, df, o):
    return sj.with_cell(df, res=o.get("res", sj.DEFAULT_RES))


@op("pip_attribute")
def _pip(spark, df, o):
    idx = sj.build_cell_index(spark, testdata.polygons(spark), o.get("res", sj.DEFAULT_RES))
    return sj.pip_attribute(df, idx, res=o.get("res", sj.DEFAULT_RES))


@op("pip_attribute_salted")
def _pip_salted(spark, df, o):
    idx = sj.build_cell_index(spark, testdata.polygons(spark), o.get("res", sj.DEFAULT_RES))
    return skew_op.pip_attribute_salted(
        df,
        idx,
        res=o.get("res", sj.DEFAULT_RES),
        target_rows_per_task=o.get("target_rows_per_task", 250_000),
    )


@op("clip")
def _clip(spark, df, o):
    idx = sj.build_cell_index(spark, testdata.polygons(spark), o.get("res", sj.DEFAULT_RES))
    return sj.clip_points(df, idx, res=o.get("res", sj.DEFAULT_RES), invert=o.get("invert", False))


@op("knn_join")
def _knn(spark, df, o):
    tgt = testdata.supplier_points(spark, o["sf_dir"])
    return knn_op.knn_join(df, tgt, k=o.get("k", 1))


@op("tile_assign")
def _tile(spark, df, o):
    tx, ty = cells.tile_sql(o.get("lon", "lon"), o.get("lat", "lat"), o.get("z", 4))
    return df.withColumn("tile_x", F.expr(tx)).withColumn("tile_y", F.expr(ty))


@op("count_by")
def _count_by(spark, df, o):
    return df.groupBy(*o["keys"]).agg(F.count(F.lit(1)).alias(o.get("alias", "n")))


@op("rasterize")
def _rasterize(spark, df, o):
    return raster_op.rasterize_polygons(df, z=o.get("z", 3))


@op("simplify_thresholds")
def _simpl(spark, df, o):
    return simplify_op.compute_thresholds(df, o.get("method", "visvalingam"))


@op("simplify_apply")
def _simpl_apply(spark, df, o):
    return simplify_op.apply_level(df, o["t"])


@op("repartition_by_cell_range")
def _repart(spark, df, o):
    return df.repartitionByRange(o.get("n", 32), F.col(o.get("cell_col", "cell_id")))


@op("checkpoint")
def _checkpoint(spark, df, o):
    m = lineage_mod.run_stage(
        df,
        stage=o["stage"],
        out_path=o["out"],
        lineage_path=o["lineage"],
        res=o.get("res", sj.DEFAULT_RES),
        bucket_res=o.get("bucket_res", 2),
        cell_col=o.get("cell_col", "cell_id"),
    )
    # stage boundary: downstream reads the durable output
    out = spark.read.parquet(o["out"]).drop("_bucket", "_stage")
    out._lineage_metrics = m  # surfaced for callers/tests
    return out


@op("dissolve2_rings")
def _dissolve2_rings(spark, df, o):
    """-dissolve2 with ring-geometry output (tiled emitter); input is a
    ring layer (key, feature_id, xs, ys)."""
    from ..operators import overlay as overlay_op

    return overlay_op.dissolve2_rings_tiled(
        df,
        res=o.get("res", 4),
        max_rep_cells=o.get("max_rep_cells", 8),
        chunked=o.get("chunked", False),
    )


@op("clean_rings")
def _clean_rings(spark, df, o):
    """-clean ring-geometry output (tiled emitter)."""
    from ..operators import overlay as overlay_op

    return overlay_op.clean_rings_tiled(
        df,
        res=o.get("res", 4),
        max_rep_cells=o.get("max_rep_cells", 8),
        chunked=o.get("chunked", False),
    )


@op("buffer")
def _buffer(spark, df, o):
    """-buffer quads: kind = points|polylines|polygons. Emits the quad
    rings (plus the original rings for polygons); merge per key with
    dissolve2/dissolve2_rings downstream, exactly like the upstream
    -buffer ... -dissolve2 composition."""
    from ..operators import points as points_op

    kind = o.get("kind", "polylines")
    r = float(o["radius"])
    if kind == "points":
        return points_op.buffer_points(df, r, k=o.get("k", 4))
    if kind == "polylines":
        return points_op.buffer_polylines(df, r)
    if kind == "polygons":
        return points_op.buffer_polygons(df, r)
    raise ValueError(f"unknown buffer kind {kind!r}")


@op("points_mode")
def _points_mode(spark, df, o):
    """-points vertices|vertices2|endpoints|midpoints|interpolated over
    a polyline/ring layer."""
    from ..operators import points as points_op

    mode = o["mode"]
    if mode == "vertices":
        return points_op.points_vertices(df, unique=True)
    if mode == "vertices2":
        return points_op.points_vertices(df, unique=False)
    if mode == "endpoints":
        return points_op.points_endpoints(df)
    if mode == "midpoints":
        return points_op.points_midpoints(df)
    if mode == "interpolated":
        return points_op.points_interpolated(df, float(o["interval"]))
    raise ValueError(f"unknown -points mode {mode!r}")


@op("project")
def _project(spark, df, o):
    """-proj on a ring-array layer: projection by NAME from
    functions/proj.py. A projection with a column-pair builder
    (proj_fn.XY_BUILDERS — the closed forms) runs ZERO-SHUFFLE through
    project_layer_inplace, bitwise-identical to the explode path;
    any other projection (the Newton solves, utm) runs through
    project_layer's explode -> codegen -> positional regroup, its
    point-table function appending the two ``out`` columns. ``args``
    go to the builder or the point-table function as kwargs, so a key
    it does not take raises TypeError here, before any Spark job."""
    from ..functions import proj as proj_fn

    name = o["name"]
    out = tuple(o.get("out", ("px", "py")))
    keys = tuple(o.get("keys", ("poly_id", "ring_idx")))
    kwargs = o.get("args", {})
    factory = proj_fn.XY_BUILDERS.get(name)
    if factory is not None:
        return proj_fn.project_layer_inplace(df, factory(**kwargs)).select(
            *keys, "xs", "ys"
        )
    fwd = getattr(proj_fn, name, None)
    if fwd is None or not callable(fwd):
        raise ValueError(f"unknown projection {name!r}")
    return proj_fn.project_layer(
        df, lambda d: fwd(d, **kwargs), out=out, keys=keys
    )


@op("rotate")
def _rotate(spark, df, o):
    """-rotate a ring-array layer by Euler angles (spherical,
    d3 convention) — zero-shuffle through project_layer_inplace."""
    from ..functions import proj as proj_fn

    angles = tuple(float(a) for a in o["angles"])
    keys = tuple(o.get("keys", ("poly_id", "ring_idx")))
    return proj_fn.project_layer_inplace(
        df, proj_fn.rotate_sphere_xy(angles)
    ).select(*keys, "xs", "ys")


# ---------------------------------------------------------------- runner ---


def run_pipeline(spark: SparkSession, spec: dict) -> DataFrame:
    df = load_source(spark, spec["source"])
    for o in spec.get("ops", []):
        fn = OPS.get(o["op"])
        if fn is None:
            raise ValueError(f"unknown op {o['op']!r}; known: {sorted(OPS)}")
        df = fn(spark, df, o)
    return df


def run_pipeline_file(spark: SparkSession, spec_path: str) -> DataFrame:
    with open(spec_path) as f:
        return run_pipeline(spark, json.load(f))
