"""Loaders for the driver-generated parquet tables and derived layers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def customer_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived skewed point layer (point_id, lon, lat) — declarative
    column math [fixtures], so Catalyst prunes the scan to c_custkey."""
    k = "c_custkey"
    return load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"),
        F.expr(fixtures.point_lon_sql(k)).alias("lon"),
        F.expr(fixtures.point_lat_sql(k)).alias("lat"),
    )


def lineitem_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = "(l_orderkey * 7 + l_linenumber)"
    return load(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("point_id"),
        F.expr(fixtures.point_lon_sql(k)).alias("lon"),
        F.expr(fixtures.point_lat_sql(k)).alias("lat"),
    )


def supplier_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = "(s_suppkey * 3 + 1)"
    return load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("target_id"),
        F.expr(fixtures.point_lon_sql(k)).alias("lon"),
        F.expr(fixtures.point_lat_sql(k)).alias("lat"),
    )


def polygons(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        fixtures.polygons_pdf(),
        schema="poly_id int, name string, xs array<double>, ys array<double>",
    )


def nonconvex_polygons(spark: SparkSession) -> DataFrame:
    """Star/L/C/chevron layer for the general even-odd PIP path."""
    return spark.createDataFrame(
        fixtures.polygons_pdf(fixtures.NONCONVEX_POLYGONS),
        schema="poly_id int, name string, xs array<double>, ys array<double>",
    )


def holed_features(spark: SparkSession) -> DataFrame:
    """Multi-ring layer (donut / holed L / island pair / comb) — one row
    per ring; the general cover groups rings back into features."""
    return spark.createDataFrame(
        fixtures.multiring_pdf(),
        schema="poly_id int, ring_idx int, xs array<double>, ys array<double>",
    )


def clip_polygons(spark: SparkSession) -> DataFrame:
    """Second convex layer for polygon↔polygon overlay joins."""
    return spark.createDataFrame(
        fixtures.polygons_pdf(fixtures.CLIP_POLYGONS),
        schema="poly_id int, name string, xs array<double>, ys array<double>",
    )


def clip_windows(spark: SparkSession) -> DataFrame:
    """Convex window layer straddling the holed features (rings as
    coordinate arrays, CCW)."""
    import pandas as pd

    rows = []
    for b in fixtures.CLIP_WINDOWS:
        ring = fixtures._box_ring(b)
        rows.append(
            {
                "poly_id": b["poly_id"],
                "xs": [p[0] for p in ring],
                "ys": [p[1] for p in ring],
            }
        )
    return spark.createDataFrame(
        pd.DataFrame(rows), schema="poly_id int, xs array<double>, ys array<double>"
    )


def divide_rects(spark: SparkSession) -> DataFrame:
    """Disjoint dyadic rectangle layer for -divide (rings CCW)."""
    import pandas as pd

    rows = [
        {
            "poly_id": b["poly_id"],
            "xs": [p[0] for p in fixtures._box_ring(b)],
            "ys": [p[1] for p in fixtures._box_ring(b)],
        }
        for b in fixtures.DIVIDE_RECTS
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows), schema="poly_id int, xs array<double>, ys array<double>"
    )


def stitch_pieces(spark: SparkSession) -> DataFrame:
    """Antimeridian-split polygon pieces for -stitch."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(fixtures.STITCH_PIECES),
        schema="feature_id bigint, piece_id int, xs array<double>, ys array<double>",
    )


def stitch_line_pieces(spark: SparkSession) -> DataFrame:
    """Antimeridian-split polyline pieces for -stitch's line half."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(fixtures.STITCH_LINE_PIECES),
        schema="feature_id bigint, piece_id int, xs array<double>, ys array<double>",
    )


def interp_source_boxes(spark: SparkSession) -> DataFrame:
    """Source layer for -join interpolate (boxes + value column)."""
    return spark.createDataFrame(
        fixtures.interp_boxes_pdf(fixtures.INTERP_SRC_BOXES, with_val=True),
        schema="poly_id int, xs array<double>, ys array<double>, val long",
    )


def interp_target_boxes(spark: SparkSession) -> DataFrame:
    """Target layer for -join interpolate."""
    return spark.createDataFrame(
        fixtures.interp_boxes_pdf(fixtures.INTERP_TGT_BOXES, with_val=False),
        schema="poly_id int, xs array<double>, ys array<double>",
    )
