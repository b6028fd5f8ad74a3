"""Probe: -divide at data-scaled arc counts.

The -divide walk is per-arc — group count scales with the data, work
per group is microseconds for short arcs — which is exactly the
profile where per-group Arrow round-trips dominate (the stitch fold
measured 6.1k features/s per-group vs 225k/s batched). This probe
measures divide_polylines over N short arcs against a 64-rect
disjoint polygon layer and checks an exact invariant: every arc is
fully inside exactly one rect or fully outside, so
sum(len_sum) == sum(arc lengths) and every (arc, poly) row carries
one piece.

Run: python scripts/divide_scale_probe.py [n_arcs ...]
Writes BENCH/divide_probe.json.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from mapshaper_spark import session  # noqa: E402
from mapshaper_spark.operators import overlay  # noqa: E402


def make_layers(spark, n):
    """N horizontal unit arcs on a dyadic lattice + an 8x8 grid of
    disjoint 8x8 rects covering x,y in [0,64) with 1-unit gaps at the
    rect borders so arcs at the gap rows are OUTSIDE."""
    arcs = spark.range(0, n, 1, 32).select(
        F.col("id").alias("arc_id"),
        F.expr("array(CAST(id % 61 AS DOUBLE) + 0.25, CAST(id % 61 AS DOUBLE) + 0.75)").alias("xs"),
        F.expr("array(CAST((id * 7) % 61 AS DOUBLE) + 0.25, CAST((id * 7) % 61 AS DOUBLE) + 0.25)").alias("ys"),
    )
    rects = spark.range(0, 64).select(
        F.col("id").cast("int").alias("poly_id"),
        F.expr(
            "array(CAST((id % 8) * 8 AS DOUBLE), CAST((id % 8) * 8 + 7 AS DOUBLE),"
            " CAST((id % 8) * 8 + 7 AS DOUBLE), CAST((id % 8) * 8 AS DOUBLE))"
        ).alias("xs"),
        F.expr(
            "array(CAST((id DIV 8) * 8 AS DOUBLE), CAST((id DIV 8) * 8 AS DOUBLE),"
            " CAST((id DIV 8) * 8 + 7 AS DOUBLE), CAST((id DIV 8) * 8 + 7 AS DOUBLE))"
        ).alias("ys"),
    )
    return arcs, rects


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [100_000]
    spark = session.get_spark("divide_scale_probe")
    out = {"runs": []}
    for n in sizes:
        arcs, rects = make_layers(spark, n)
        arcs = arcs.localCheckpoint()
        rects = rects.localCheckpoint()
        t0 = time.time()
        res = (
            overlay.divide_polylines(arcs, rects)
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("len_sum").alias("total_len"),
                F.sum("n_pieces").alias("n_pieces"),
            )
            .first()
        )
        dt = time.time() - t0
        run = {
            "n_arcs": n,
            "wall_s": round(dt, 2),
            "arcs_per_s": round(n / dt),
            "n_rows": res.n_rows,
            "pieces_eq_rows": res.n_pieces == res.n_rows,
            "len_exact": res.total_len == 0.5 * n,
        }
        out["runs"].append(run)
        print(json.dumps(run))
    path = os.path.join(os.path.dirname(__file__), "..", "BENCH",
                        "divide_probe.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
