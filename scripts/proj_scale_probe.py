"""Scale probe for ring-layer reprojection: the explode->regroup
`project_layer` path vs the zero-shuffle `project_layer_inplace`
(zip_with lambdas) path, on N synthetic 10-vertex rings built by pure
column math.

Measurement discipline (BENCH/BASELINE.md lessons — this host swings
±40% minute to minute): the two paths are timed INTERLEAVED in the
same session, min-of-3 per path, with the identity/bitwise
verification done ONCE outside the timed region (the verification
join shuffles two full vertex tables and would dominate the timing).
Consumers aggregate real VALUES (count + sum(xs[0] + ys[0])) so
Catalyst cannot prune the projection math.

Usage: python scripts/proj_scale_probe.py [N ...]   (default: 100000 1000000)
Writes BENCH/proj_probe.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mapshaper_spark.functions import proj as proj_fn
from mapshaper_spark.session import get_spark

TRIALS = 3


def synth_rings(spark, n: int):
    # 10-vertex rings scattered on a lon/lat lattice (poles excluded)
    return spark.range(n).select(
        F.col("id").alias("poly_id"),
        F.lit(0).alias("ring_idx"),
        F.expr(
            "transform(sequence(0, 9), i -> -170.0D"
            " + CAST(id % 340 AS DOUBLE) + 0.01D * CAST(i AS DOUBLE))"
        ).alias("xs"),
        F.expr(
            "transform(sequence(0, 9), i -> -80.0D"
            " + CAST(id DIV 340 % 160 AS DOUBLE) + 0.01D * CAST(i AS DOUBLE))"
        ).alias("ys"),
    )


def _consume(df) -> None:
    row = df.agg(
        F.count("*").alias("c"),
        F.sum(F.expr("xs[0] + ys[0]")).alias("s"),
    ).first()
    assert row.c > 0


def _max_abs_diff(a, b) -> float:
    """Max |Δ| over every vertex between two ring layers (distributed)."""
    j = a.join(
        b.withColumnRenamed("xs", "oxs").withColumnRenamed("ys", "oys"),
        ["poly_id", "ring_idx"],
    )
    row = (
        j.select(
            F.expr(
                "aggregate(zip_with(xs, oxs, (a, b) -> abs(a - b)),"
                " CAST(0.0 AS DOUBLE), (m, v) -> greatest(m, v))"
            ).alias("ex"),
            F.expr(
                "aggregate(zip_with(ys, oys, (a, b) -> abs(a - b)),"
                " CAST(0.0 AS DOUBLE), (m, v) -> greatest(m, v))"
            ).alias("ey"),
        )
        .agg(F.max("ex").alias("ex"), F.max("ey").alias("ey"))
        .first()
    )
    return max(row.ex, row.ey)


def run(spark, n: int) -> dict:
    rings = synth_rings(spark, n).localCheckpoint()
    out: dict = {"n_rings": n, "n_vertices": 10 * n, "trials": TRIALS}

    angles = (110.0, -35.0, 20.0)
    paths = {
        "webmercator_explode": lambda: proj_fn.project_layer(
            rings, proj_fn.to_webmercator, out=("mx", "my")
        ),
        "webmercator_inplace": lambda: proj_fn.project_layer_inplace(
            rings.drop("ring_idx").withColumn("ring_idx", F.lit(0)),
            proj_fn.webmercator_xy,
        ),
        "rotate_explode": lambda: proj_fn.project_layer(
            rings,
            lambda d: proj_fn.rotate_sphere(d, angles, out=("rx", "ry")),
            out=("rx", "ry"),
        ),
        "rotate_inplace": lambda: proj_fn.project_layer_inplace(
            rings.drop("ring_idx").withColumn("ring_idx", F.lit(0)),
            proj_fn.rotate_sphere_xy(angles),
        ),
    }
    # NOTE: the inplace inputs re-derive ring_idx so both paths read the
    # same checkpointed blocks; the extra lit(0) column is free.

    # the 2D-Newton inverse on a pre-projected Winkel layer — the
    # heaviest per-vertex expression in the module (16 steps x 3
    # forward evaluations per step), explode path only (it has no
    # in-place builder). Capped at the 1M-vertex leg.
    if n <= 100_000:
        wt = proj_fn.project_layer_inplace(
            rings, proj_fn.winkel_tripel_xy()
        ).localCheckpoint()
        paths["winkel_inv_explode"] = lambda: proj_fn.project_layer(
            wt,
            lambda d: proj_fn.winkel_tripel_inverse(d, wtx="lon", wty="lat"),
            out=("lon2", "lat2"),
        )

    # --- verification (once, untimed): the two paths agree BITWISE and
    # the WebMercator round trip restores the layer
    assert _max_abs_diff(paths["webmercator_explode"](), paths["webmercator_inplace"]()) == 0.0
    assert _max_abs_diff(paths["rotate_explode"](), paths["rotate_inplace"]()) == 0.0
    back = proj_fn.project_layer_inplace(
        paths["webmercator_inplace"](), proj_fn.webmercator_inv_xy
    )
    err = _max_abs_diff(back, rings)
    assert err < 1e-9, err
    out["roundtrip_max_err_deg"] = err
    if "winkel_inv_explode" in paths:
        wt_err = _max_abs_diff(paths["winkel_inv_explode"](), rings)
        assert wt_err < 1e-9, wt_err
        out["winkel_roundtrip_max_err_deg"] = wt_err

    # --- interleaved min-of-N timing
    times: dict[str, list[float]] = {k: [] for k in paths}
    for _ in range(TRIALS):
        for name, build in paths.items():
            t0 = time.time()
            _consume(build())
            times[name].append(round(time.time() - t0, 2))
    for name, ts in times.items():
        out[f"{name}_sec"] = min(ts)
        out[f"{name}_trials"] = ts
        out[f"{name}_vertices_per_sec"] = int(10 * n / max(min(ts), 1e-9))
    return out


def main() -> None:
    ns = [int(a) for a in sys.argv[1:]] or [100_000, 1_000_000]
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark("proj-probe", cpus=cpus, shuffle_partitions=max(cpus, 8))
    results = [{"cpus": cpus, **run(spark, n)} for n in ns]
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "proj_probe.json",
    )
    with open(path, "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
