"""Hierarchical cell cover — the S2-style covering [NEXT.md #1;
SURVEY.md §4.2 item 2 scale path].

The flat cover (`spatial_join.build_cell_index`) enumerates every
res-R cell in a polygon's bbox: O(area / cell_area) rows — ruinous for a
continent-sized polygon at fine resolution. The hierarchical cover
recurses instead: start at ``min_res``, emit FULL cells at the COARSEST
resolution where they're provably interior, recurse only boundary
(PARTIAL) cells, and emit leaf PARTIALs at ``max_res``. Index size is
O(boundary length / cell_size) — perimeter-proportional, not
area-proportional, which is what survives a 1000× scale-up.

The emitted cover is a PARTITION of the plane per polygon (FULL coarse
cells are disjoint from descendants of PARTIAL siblings), so a point
matches at most one cover cell per polygon and the join needs no dedup.

Probe side: a point joins the mixed-resolution index by computing its
cell id at EVERY resolution in [min_res, max_res] (a tiny explode — one
row per level, e.g. 4) and equi-joining on cell_id.

Classification (convex rings — exact):
- FULL: all 4 cell corners inside (convexity ⇒ whole cell inside);
- OUTSIDE: some polygon edge has all 4 corners strictly on its outside
  (a separating half-plane) or the cell bbox misses the polygon bbox;
- else PARTIAL → recurse.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cells
from .spatial_join import FULL, PARTIAL, keep_inside, with_edges

DEFAULT_MIN_RES = 3
DEFAULT_MAX_RES = 6


def _cover_one(ring: np.ndarray, min_res: int, max_res: int):
    """Yield (cell_id, coverage) tuples for one convex CCW ring."""
    ex1 = ring[:, 0]
    ey1 = ring[:, 1]
    ex2 = np.roll(ex1, -1)
    ey2 = np.roll(ey1, -1)
    bx0, by0, bx1, by1 = ex1.min(), ey1.min(), ex1.max(), ey1.max()

    out = []
    ix0, iy0 = cells.grid_xy_np(np.array([bx0]), np.array([by0]), min_res)
    ix1, iy1 = cells.grid_xy_np(np.array([bx1]), np.array([by1]), min_res)
    stack = [
        (int(ix), int(iy), min_res)
        for iy in range(int(iy0[0]), int(iy1[0]) + 1)
        for ix in range(int(ix0[0]), int(ix1[0]) + 1)
    ]
    while stack:
        ix, iy, r = stack.pop()
        n = 1 << r
        cw, ch = 360.0 / n, 180.0 / n
        x_lo, y_lo = -180.0 + ix * cw, -90.0 + iy * ch
        x_hi, y_hi = x_lo + cw, y_lo + ch
        if x_lo > bx1 or x_hi < bx0 or y_lo > by1 or y_hi < by0:
            continue
        cx = np.array([x_lo, x_hi, x_lo, x_hi])
        cy = np.array([y_lo, y_lo, y_hi, y_hi])
        # cross products of all corners against all edges: (edges, 4)
        cross = (ex2 - ex1)[:, None] * (cy[None, :] - ey1[:, None]) - (
            ey2 - ey1
        )[:, None] * (cx[None, :] - ex1[:, None])
        if (cross >= 0.0).all():
            out.append((int(cells.cell_id_from_xy_np(np.array([ix]), np.array([iy]), r)[0]), FULL))
            continue
        if (cross < 0.0).all(axis=1).any():
            continue  # separating edge → cell fully outside
        if r >= max_res:
            out.append(
                (int(cells.cell_id_from_xy_np(np.array([ix]), np.array([iy]), r)[0]), PARTIAL)
            )
            continue
        for dy in (0, 1):
            for dx in (0, 1):
                stack.append((ix * 2 + dx, iy * 2 + dy, r + 1))
    return out


def build_cell_index_hier(
    spark: SparkSession,
    polygons: DataFrame,
    min_res: int = DEFAULT_MIN_RES,
    max_res: int = DEFAULT_MAX_RES,
) -> DataFrame:
    """Mixed-resolution cover index: (cell_id, poly_id, coverage) plus
    the polygon's edge columns (``spatial_join.with_edges``)."""

    def cover(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for _, row in pdf.iterrows():
            ring = np.column_stack([row["xs"], row["ys"]])
            for cid, cov in _cover_one(ring, min_res, max_res):
                rows.append({"cell_id": cid, "poly_id": row["poly_id"], "coverage": cov})
        return pd.DataFrame(rows, columns=["cell_id", "poly_id", "coverage"])

    cover_rows = polygons.groupBy("poly_id").applyInPandas(
        cover, schema="cell_id long, poly_id int, coverage string"
    )
    return with_edges(cover_rows, polygons)


def pip_attribute_hier(
    points: DataFrame,
    hier_index: DataFrame,
    min_res: int = DEFAULT_MIN_RES,
    max_res: int = DEFAULT_MAX_RES,
) -> DataFrame:
    """PIP attribution against the mixed-resolution cover: each point
    explodes to its cell id at every level (pure column math), one
    broadcast equi-join, exact kernel only on PARTIAL leaves."""
    level_cells = F.array(
        *[F.expr(cells.cell_sql("lon", "lat", r)) for r in range(min_res, max_res + 1)]
    )
    pts = points.withColumn("cell_id", F.explode(level_cells))
    cand = pts.join(F.broadcast(hier_index), "cell_id")
    return keep_inside(cand)
