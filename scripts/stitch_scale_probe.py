"""Probe: -stitch at data-scaled feature counts.

Stitching is feature-local, so the operator is one `_fold_parallel`
grouped-Arrow fold — the probe evidences that shape at 1M features
(2M pieces): per-feature cost must stay flat (the fold shuffle
dominates, the chain walk is O(pieces) per group) and the exact
area identity (stitched area == sum of piece areas) must hold over
the whole layer.

The layer is generated DISTRIBUTIVELY in pure column math: feature i
is a rectangle [x0, 360-x0] x [y0, y0+h] split at the seam into a west
piece ([x0,180], closing seam edge) and an east piece ([-180, x0-360+?]
mirrored), with x0/y0/h varied by residues so piece shapes differ.

Run: python scripts/stitch_scale_probe.py [n_features ...]
Writes BENCH/stitch_probe.json.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from mapshaper_spark import session  # noqa: E402
from mapshaper_spark.operators import stitch as stitch_op  # noqa: E402


def make_layer(spark, n):
    """2 pieces per feature: rect [x0,180]x[y0,y1] west + its mirror
    east, every coordinate an exact small integer."""
    ids = spark.range(0, n, 1, 32).select(F.col("id").alias("feature_id"))
    base = ids.select(
        "feature_id",
        (F.lit(150.0) + (F.col("feature_id") % 25).cast("double")).alias("x0"),
        ((F.col("feature_id") % 40).cast("double") - 20.0).alias("y0"),
        (F.lit(1.0) + (F.col("feature_id") % 9).cast("double")).alias("h"),
        (F.lit(-180.0) + (F.lit(2.0) + (F.col("feature_id") % 13).cast("double"))).alias("xe"),
    )
    west = base.select(
        "feature_id",
        F.lit(0).alias("piece_id"),
        F.expr("array(180.0, x0, x0, 180.0)").alias("xs"),
        F.expr("array(y0 + h, y0 + h, y0, y0)").alias("ys"),
    )
    east = base.select(
        "feature_id",
        F.lit(1).alias("piece_id"),
        F.expr("array(-180.0, xe, xe, -180.0)").alias("xs"),
        F.expr("array(y0, y0, y0 + h, y0 + h)").alias("ys"),
    )
    return west.unionByName(east), base


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [100_000, 1_000_000]
    spark = session.get_spark("stitch_scale_probe")
    out = {"runs": []}
    for n in sizes:
        pieces, base = make_layer(spark, n)
        pieces = pieces.localCheckpoint()
        expected = base.select(
            F.sum(
                (F.lit(180.0) - F.col("x0")) * F.col("h")
                + (F.col("xe") + F.lit(180.0)) * F.col("h")
            ).alias("a")
        ).first().a
        t0 = time.time()
        agg = (
            stitch_op.stitch_antimeridian(pieces)
            .agg(
                F.count("*").alias("n_rings"),
                F.sum("area").alias("total_area"),
                F.sum("seam_edges").alias("seam2"),
            )
            .first()
        )
        dt = time.time() - t0
        run = {
            "n_features": n,
            "wall_s": round(dt, 2),
            "features_per_s": round(n / dt),
            "n_rings": agg.n_rings,
            "area_exact": agg.total_area == expected,
            "seam_edges_ok": agg.seam2 == 2 * n,
        }
        out["runs"].append(run)
        print(json.dumps(run))
    path = os.path.join(os.path.dirname(__file__), "..", "BENCH",
                        "stitch_probe.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
