"""kNN / nearest-feature join — cell-ring candidate join with an exact
fallback [SURVEY.md §2.3 "kNN / nearest-feature join"; RULE].

Distributed strategy (the EDBT/SIGMOD distributed-kNN-join pattern,
PAPERS.md "Distributed Stream KNN Join"):

1. Targets are exploded to their cell *and* every ring-1 neighbor cell
   (9 rows per target) — replicating the small side instead of the big
   side, so the query points shuffle at most once on cell_id.
2. Query points equi-join candidates on cell_id; per-query argmin via a
   window with a (dist, target_id) tiebreak for determinism.
3. **Exactness guarantee**: a candidate found at planar distance d is
   provably the global nearest iff d <= one cell height (any point
   outside the searched 3x3 block is at least that far away). Queries
   that fail the guarantee (or found no candidate) fall back to a
   broadcast brute-force pass — asymptotically tiny when the grid
   resolution matches target density.

The fallback makes the operator *exact*, so it is oracle-checkable
against an all-pairs DuckDB cross join; the ring join carries ~all the
volume at scale. Distance metric is squared planar degrees (pure
``* + -`` → bit-identical in Spark and DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import cells

DEFAULT_RES = 5  # ~11x5.6 degree cells; targets are dim-sized


def _dist2(ax, ay, bx, by):
    return (ax - bx) * (ax - bx) + (ay - by) * (ay - by)


def _explode_neighbors(targets: DataFrame, res: int, ring: int = 1) -> DataFrame:
    """Each target replicated to every cell within Chebyshev distance
    ``ring`` of its own (clamped) — (2·ring+1)² rows per target. ring=1
    is the classic 9-cell block; the k-conditional layout uses ring=2
    for k>1 so the FIRST stage's guarantee already covers the k-th
    neighbor and the second ring stage disappears."""
    n = 1 << res
    ix, iy = cells.grid_xy_sql("lon", "lat", res)
    t = targets.withColumn("_ix", F.expr(ix)).withColumn("_iy", F.expr(iy))
    offs = [F.lit(i) for i in range(-ring, ring + 1)]
    t = t.withColumn("_dx", F.explode(F.array(*offs))).withColumn(
        "_dy", F.explode(F.array(*offs))
    )
    t = t.filter(
        (F.col("_ix") + F.col("_dx")).between(0, n - 1)
        & (F.col("_iy") + F.col("_dy")).between(0, n - 1)
    )
    morton = cells.morton_sql("(_ix + _dx)", "(_iy + _dy)")
    return t.withColumn("cell_id", F.expr(f"{morton} * 32 + {res}")).drop(
        "_ix", "_iy", "_dx", "_dy"
    )


def auto_res(n_targets: int, per_cell: float = 4.0) -> int:
    """Pick the grid resolution from target density: ~per_cell targets
    per cell keeps the 3x3 candidate block small while leaving few empty
    blocks (empty blocks fall back to brute force — exact but slow).
    res = round(log4(n/per_cell)), clamped to [2, 10]."""
    import math

    cells = max(1.0, n_targets / per_cell)
    return max(2, min(10, round(math.log2(cells) / 2.0)))


def _with_ring_cells(df: DataFrame, res: int, ring: int) -> DataFrame:
    """Explode each point to every cell in its Chebyshev ring-``ring``
    neighborhood. ONE morton expression over an exploded literal offset
    table (49 inlined morton expressions would blow up Catalyst planning
    time — measured 17x slower)."""
    n = 1 << res
    ix, iy = cells.grid_xy_sql("lon", "lat", res)
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dy in range(-ring, ring + 1)
            for dx in range(-ring, ring + 1)
        ]
    )
    df = (
        df.withColumn("_ix", F.expr(ix))
        .withColumn("_iy", F.expr(iy))
        .withColumn("_o", F.explode(offsets))
        .withColumn("_jx", F.col("_ix") + F.col("_o.dx"))
        .withColumn("_jy", F.col("_iy") + F.col("_o.dy"))
        # drop (not clamp) out-of-grid offsets: clamping would duplicate
        # border cells and double-count candidates in the rank
        .filter(F.col("_jx").between(0, n - 1) & F.col("_jy").between(0, n - 1))
    )
    df = df.withColumn(
        "cell_id", F.expr(f"{cells.morton_sql('_jx', '_jy')} * 32 + {res}")
    )
    return df.drop("_ix", "_iy", "_o", "_jx", "_jy")


def _rank_topk(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("point_id").orderBy("dist2", "target_id")
    return cand.withColumn("knn_rank", F.row_number().over(w)).filter(
        F.col("knn_rank") <= k
    )


def knn_join(points: DataFrame, targets: DataFrame, k: int = 1) -> DataFrame:
    """Exact kNN join: (point cols..., target_id, dist2, knn_rank).

    points: (point_id, lon, lat); targets: (target_id, lon, lat). The
    grid resolution comes from the measured target count
    (:func:`auto_res`; the dim side is counted anyway to size the
    broadcast).

    Adaptive ring expansion [NEXT.md #5]: round 1 searches a block of
    the target grid (targets replicated, broadcast — the bulk of the
    volume); points whose k-th hit isn't provably global retry with
    progressively wider rings (candidate lists exploded on the PROBE
    side, so the target table is never replicated by the big ring);
    only the residual of the last ring falls back to brute force. At
    scale this keeps the cross-join fallback to the (empty-region) tail
    instead of every sparse-cell point.

    K-CONDITIONAL stage layout [VERDICT r3 #5]: the rings are (1, 3)
    for k=1 but (2,) for k>1 — the k-th neighbor rarely passes the
    1-cell guarantee, so at k>1 the second ring stage (an extra
    shuffle + materialization + count) ran for nearly every point; one
    5x5 first block (targets replicated x25 instead of x9 — trivial on
    the broadcast dim side) resolves those points in a single stage.
    Results are identical either way (the operator is exact); only the
    plan changes.
    """
    res = auto_res(targets.count())
    rings = (1, 3) if k == 1 else (2,)
    cell_h = 180.0 / (1 << res)

    pts = points.withColumn("cell_id", F.expr(cells.cell_sql("lon", "lat", res)))
    tgt9 = _explode_neighbors(
        targets.select("target_id", "lon", "lat"), res, ring=rings[0]
    ).select(
        "cell_id", "target_id", F.col("lon").alias("tx"), F.col("lat").alias("ty")
    )
    tgt_by_cell = (
        targets.select("target_id", "lon", "lat")
        .withColumn("cell_id", F.expr(cells.cell_sql("lon", "lat", res)))
        .select("cell_id", "target_id", F.col("lon").alias("tx"), F.col("lat").alias("ty"))
    )
    allt = targets.select("target_id", F.col("lon").alias("tx"), F.col("lat").alias("ty"))
    out_cols = [c for c in points.columns] + ["target_id", "dist2", "knn_rank"]

    # Single-window resolve [VERDICT r2 #10]: the guarantee check rides
    # the SAME window shuffle as the ranking (rank → filter top-k →
    # per-point max/count over the already-partitioned frame) instead of
    # a separate groupBy + broadcast-semi-join chain — one shuffle and
    # one materialization per ring. localCheckpoint (not persist): the
    # ranked frame feeds the resolved piece, the residual ids, AND the
    # next ring's probe set; CacheManager entries from persist()
    # accumulate across repeated operator invocations and degrade the
    # session, while checkpoint RDDs are dropped by the ContextCleaner.
    w_rank = Window.partitionBy("point_id").orderBy("dist2", "target_id")
    w_pt = Window.partitionBy("point_id")

    n_pts: int | None = None  # lazily counted once, to early-exit stages
    n_resolved = 0
    pieces = []
    rest = pts
    for i, ring in enumerate(rings):
        if i == 0:
            cand = rest.join(F.broadcast(tgt9), "cell_id")
        else:
            # skip the wider ring (and its probe explosion) when every
            # point already resolved — one cheap count of the dim side
            if n_pts is None:
                n_pts = pts.count()
            if n_resolved >= n_pts:
                break
            probe = _with_ring_cells(rest.drop("cell_id"), res, ring)
            cand = probe.join(F.broadcast(tgt_by_cell), "cell_id")
        cand = cand.withColumn(
            "dist2", _dist2(F.col("lon"), F.col("lat"), F.col("tx"), F.col("ty"))
        )
        g2 = (ring * cell_h) ** 2
        ranked = (
            cand.withColumn("knn_rank", F.row_number().over(w_rank))
            .filter(F.col("knn_rank") <= k)
            .withColumn("_ok", (F.count(F.lit(1)).over(w_pt) >= k) & (F.max("dist2").over(w_pt) <= g2))
            .localCheckpoint()
        )
        resolved = ranked.filter("_ok")
        pieces.append(resolved.select(*out_cols))
        ok_ids = resolved.select("point_id").distinct()
        n_resolved += ok_ids.count()
        rest = rest.join(F.broadcast(ok_ids), "point_id", "left_anti")

    if n_pts is None:
        n_pts = pts.count()
    if n_resolved < n_pts:
        brute = rest.crossJoin(F.broadcast(allt)).withColumn(
            "dist2", _dist2(F.col("lon"), F.col("lat"), F.col("tx"), F.col("ty"))
        )
        pieces.append(_rank_topk(brute, k).select(*out_cols))
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out
