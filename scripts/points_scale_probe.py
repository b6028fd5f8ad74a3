"""Scale probe for the -points arc-length modes (midpoints /
interpolated / endpoints): N synthetic 4-vertex staircase arcs built
by pure column math (no driver-side data), run through each operator
with closed-form invariants checked distributively.

Each arc is a staircase with segment lengths (1, 2, 2) -> L = 5:
  - midpoints: exactly one row per arc at t = 0.75 of segment 1
    (y = base + 1.5 — checked as a distributed sum identity);
  - interpolated d=2: k = 0, 1, 2 -> exactly 3N rows;
  - endpoints: exactly 2N rows.

Usage: python scripts/points_scale_probe.py [N ...]   (default: 100000 1000000)
Writes BENCH/points_probe.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mapshaper_spark.operators import points as points_op
from mapshaper_spark.session import get_spark


def synth_arcs(spark, n: int):
    return spark.range(n).select(
        F.col("id").alias("arc_id"),
        F.expr(
            "transform(array(0.0D, 1.0D, 1.0D, 3.0D),"
            " v -> v + CAST(id % 1024 AS DOUBLE))"
        ).alias("xs"),
        F.expr(
            "transform(array(0.0D, 0.0D, 2.0D, 2.0D),"
            " v -> v + CAST(id DIV 1024 AS DOUBLE))"
        ).alias("ys"),
    )


def run(spark, n: int) -> dict:
    arcs = synth_arcs(spark, n).localCheckpoint()  # isolate gen cost
    out: dict = {"n_arcs": n}

    t0 = time.time()
    mid = points_op.points_midpoints(arcs)
    # midpoint of every arc sits at (base_x + 1, base_y + 1.5): the
    # distributed sum identity checks every row without collecting
    agg = mid.agg(
        F.count("*").alias("c"),
        F.sum(F.col("px") - F.floor(F.col("px"))).alias("fx"),
        F.sum(F.col("py") - F.floor(F.col("py"))).alias("fy"),
    ).first()
    out["midpoints_sec"] = round(time.time() - t0, 2)
    assert agg.c == n, agg
    assert agg.fx == 0.0, agg  # px = base + 1.0 exactly
    assert agg.fy == 0.5 * n, agg  # py = base + 1.5 exactly

    t0 = time.time()
    interp = points_op.points_interpolated(arcs, interval=2.0)
    c = interp.count()
    out["interpolated_sec"] = round(time.time() - t0, 2)
    assert c == 3 * n, c  # k = 0, 1, 2 per arc (L = 5, d = 2)

    t0 = time.time()
    ends = points_op.points_endpoints(arcs)
    c = ends.count()
    out["endpoints_sec"] = round(time.time() - t0, 2)
    assert c == 2 * n, c

    out["interpolated_pts_per_sec"] = int(3 * n / max(out["interpolated_sec"], 1e-9))
    return out


def main() -> None:
    ns = [int(a) for a in sys.argv[1:]] or [100_000, 1_000_000]
    spark = get_spark("points-probe")
    results = [run(spark, n) for n in ns]
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "points_probe.json",
    )
    with open(path, "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
