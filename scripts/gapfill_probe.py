"""Scale probe for the TILED -clean gap fill: a KxK lattice of 4-bar
frames in ONE key (4*K^2 features, K^2 enclosed gaps), run through
clean_gap_fill(tiled=True) — holes from dissolve2_rings_tiled, clean
areas from the distributed mosaic, crediting join cell-bucketed on
(key, cgx, cgy). Verifies every gap fills into its frame's BOTTOM bar
(the 2x1 hole ties top/bottom at blen 2.0 -> min feature id) with the
exact expected areas, and records wall time per decade.

Usage: python scripts/gapfill_probe.py [K ...]   (default 10 25)
Writes BENCH/gapfill_probe.json.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

import pandas as pd  # noqa: E402

from mapshaper_spark.session import get_spark  # noqa: E402
from mapshaper_spark.operators import overlay  # noqa: E402

# frame template at origin (left, right, bottom, top) — strict overlaps,
# distinct coordinate lines, hole = (1,1.25)-(3,2.25), area 2
BARS = [
    (0.0, -0.5, 1.0, 3.5),
    (3.0, -0.25, 4.0, 3.75),
    (-0.5, 0.25, 4.5, 1.25),
    (-0.75, 2.25, 4.75, 3.25),
]
# expected clean areas after fill: left 4, right 4, bottom 3+2=5, top 3.5
EXPECT = [4.0, 4.0, 5.0, 3.5]
SPACING = 10.0


def layer_pdf(k: int) -> pd.DataFrame:
    rows = []
    fid = 0
    for j in range(k):
        for i in range(k):
            dx, dy = i * SPACING, j * SPACING
            for x0, y0, x1, y1 in BARS:
                rows.append(
                    {
                        "feature_id": fid,
                        "key": "g",
                        "xs": [x0 + dx, x1 + dx, x1 + dx, x0 + dx],
                        "ys": [y0 + dy, y0 + dy, y1 + dy, y1 + dy],
                    }
                )
                fid += 1
    return pd.DataFrame(rows, columns=["feature_id", "key", "xs", "ys"])


def run(spark, k: int, res: int) -> dict:
    feats = spark.createDataFrame(
        layer_pdf(k),
        schema="feature_id int, key string, xs array<double>, ys array<double>",
    )
    t0 = time.time()
    out = overlay.clean_gap_fill(feats, gap_fill_area=5.0, res=res, tiled=True)
    got = {r.feature_id: r.clean_area_r for r in out.collect()}
    wall = time.time() - t0
    bad = []
    for fid, area in got.items():
        want = EXPECT[fid % 4]
        if abs(area - want) > 1e-8:
            bad.append((fid, area, want))
    n_feats = 4 * k * k
    assert len(got) == n_feats, (len(got), n_feats)
    assert not bad, bad[:10]
    return {
        "k": k,
        "features": n_feats,
        "gaps": k * k,
        "res": res,
        "wall_s": round(wall, 2),
        "ms_per_feature": round(1000.0 * wall / n_feats, 3),
        "all_gaps_filled_correctly": True,
    }


def main() -> None:
    ks = [int(a) for a in sys.argv[1:]] or [10, 25]
    spark = get_spark("gapfill-probe")
    results = []
    for k in ks:
        res = 5 if k <= 16 else 6
        r = run(spark, k, res)
        print(json.dumps(r))
        results.append(r)
    with open("BENCH/gapfill_probe.json", "w") as f:
        json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
