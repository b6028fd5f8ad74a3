"""Probe: the quantized TopoJSON import decode at scan-ish arc counts.

The quantized path adds one stage the raw import does not have: a
per-arc windowed prefix sum (posexplode -> running SUM -> positional
regroup) that delta-decodes the integer arcs before the
content-addressed dedup. This probe measures that stage's cost and
verifies the bitwise contract at scale: a dyadic quantization of an
integer grid must reproduce the RAW import's arc pool exactly through
the dedup (one GLOBAL transform keeps border-shared replicas identical
across tiles).

Grid n=200 -> 2*200*201 = 80,400 shared arcs across 16 tile documents.
Records wall time for raw vs quantized import plus the pool-equality
verdict to BENCH/topojson_quant_probe.json.

Run: python scripts/topojson_quant_probe.py [n]
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from mapshaper_spark import fixtures, session  # noqa: E402
from mapshaper_spark.operators import topology  # noqa: E402
from mapshaper_spark.sources import geojson as gj  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    spark = session.get_spark("topojson_quant_probe")
    arcs, feats = fixtures._make_grid_topology(n)
    fdf = topology.features_df(spark, feats).localCheckpoint()
    adf = topology.arcs_df(spark, arcs).localCheckpoint()

    out = {"n": n, "n_arcs_global": len(arcs), "n_features": len(feats)}

    t0 = time.time()
    raw_tiles = gj.export_topojson_tiled(fdf, adf, nx=4, ny=4, layer="grid")
    raw_tiles = raw_tiles.localCheckpoint()
    out["export_raw_s"] = round(time.time() - t0, 3)

    t0 = time.time()
    q_tiles = gj.export_topojson_tiled(
        fdf, adf, nx=4, ny=4, layer="grid", quantization=n * 256 + 1
    ).localCheckpoint()
    out["export_quantized_s"] = round(time.time() - t0, 3)

    t0 = time.time()
    _, a_raw = gj.import_topojson_tiled(raw_tiles, layer="grid")
    n_raw = a_raw.count()
    out["import_raw_s"] = round(time.time() - t0, 3)

    t0 = time.time()
    _, a_q = gj.import_topojson_tiled(q_tiles, layer="grid")
    n_q = a_q.count()
    out["import_quantized_s"] = round(time.time() - t0, 3)

    # bitwise pool equality through the dedup (the decode contract)
    diff = a_raw.select("xs", "ys").exceptAll(a_q.select("xs", "ys")).count()
    diff += a_q.select("xs", "ys").exceptAll(a_raw.select("xs", "ys")).count()
    out.update(
        n_arcs_raw=n_raw,
        n_arcs_quantized=n_q,
        pool_bitwise_equal=(diff == 0 and n_raw == n_q == len(arcs)),
    )

    path = os.path.join(os.path.dirname(__file__), "..", "BENCH",
                        "topojson_quant_probe.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
