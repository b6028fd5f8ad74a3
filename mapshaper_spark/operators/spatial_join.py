"""Point-in-polygon attribution, clip/erase — the graded spatial core.

Engine strategy (the two-phase cell join [SURVEY.md §2.3, BASELINE.json
north_rule]):

1. Build a ``cell_index`` relation (cell_id, poly_id, coverage) on the
   driver: the polygon layer is dim-sized, so it is collected and every
   polygon is covered in numpy, with no Python worker. The convex
   cover (:func:`_cover`) walks levels ``min_res`` … ``res`` from the
   polygon's bbox grid: a cell is FULL at the coarsest level where it
   lies entirely inside the polygon (all four corners inside — exact
   for convex rings), dropped once an edge separates it from the
   polygon, and split otherwise; what is left at ``res`` is PARTIAL.
   ``min_res == res`` (the default) is the flat one-level cover; a lower
   ``min_res`` is the S2-style hierarchical cover, whose size scales
   with perimeter, not area. Each row also carries its polygon's edges
   as half-plane columns, and the ``cell_id`` column's metadata records
   the levels and the kind of cover, so the index is self-contained.

2. Points get a ``cell_id`` column at the levels the index records
   (pure column math, no UDF; one row per level when the index spans
   several), then an equi-join against the index, then one codegen'd
   JVM filter (``keep_inside``) over the edge columns the index rows
   carry: FULL matches pass untested, PARTIAL matches must satisfy
   every half-plane — the same IEEE expression as
   ``geometry.pip_convex`` and the DuckDB oracle. No row crosses into
   Python, and a join is the equi-join plus that filter.
   On a real cluster the index is dim-sized → ``F.broadcast`` → the
   whole attribution is a map-side join with zero shuffle of the fact
   table.

Upstream analog: mapshaper's point-polygon join walks a bbox path index
then runs a ray-crossing test per candidate [SURVEY.md §2.3]; the cell
index is the distributed replacement for that in-memory path index.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import cells, fixtures, geometry

# Working resolution for the fixture polygon layer: cells of ~5.6 x 2.8
# degrees against polygons of radius 10-22 degrees → a few hundred index
# rows per polygon, plenty of FULL cells to short-circuit.
DEFAULT_RES = 6

FULL, PARTIAL = "FULL", "PARTIAL"


def with_cell(df: DataFrame, res: int = DEFAULT_RES, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Attach cell_id — declarative bit math, whole-stage-codegen'd."""
    return _with_cells(df, range(res, res + 1), lon, lat)


def _with_cells(df: DataFrame, levels: range, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """``df`` with its ``cell_id`` at each of ``levels`` (one row per
    level when there are several), bit-identical to ``cells.cell_sql``.
    The grid coords are projected once, at the finest level, and
    interleaved by :func:`cells.morton_bits_sql`: 2·res short terms, not
    ``cell_sql``'s 16 copies of each grid expression, whose Catalyst
    analysis cost 40-73 ms of driver time per call. A coarser level r
    drops the low ``2·(res − r)`` Morton bits: exact, because scaling by
    a power of two commutes with IEEE rounding and the clamp commutes
    with the shift."""
    res = levels[-1]
    morton = cells.morton_bits_sql("_ix", "_iy", res)
    ix, iy = cells.grid_xy_sql(lon, lat, res)
    ids = [F.expr(f"shiftright({morton}, {2 * (res - r)}) * 32 + {r}") for r in levels]
    cell = ids[0] if len(ids) == 1 else F.explode(F.array(*ids))
    grid = df.withColumns({"_ix": F.expr(ix), "_iy": F.expr(iy)})
    return grid.withColumn("cell_id", cell).drop("_ix", "_iy")


def _levels(res: int, min_res: int | None) -> range:
    """Cover levels ``min_res`` … ``res`` (``min_res`` defaults to
    ``res``), checked on the driver before any Spark job."""
    lo = res if min_res is None else min_res
    if not 0 <= lo <= res <= cells.MAX_RES:
        raise ValueError(
            f"need 0 <= min_res <= res <= {cells.MAX_RES}, got min_res={min_res}, res={res}"
        )
    return range(lo, res + 1)


def _bbox_cells(xs: np.ndarray, ys: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Grid coords (ix, iy) of every res-``res`` cell the bbox of the
    vertices ``xs, ys`` touches."""
    ix, iy = cells.grid_xy_np(np.array([xs.min(), xs.max()]), np.array([ys.min(), ys.max()]), res)
    mx, my = np.meshgrid(np.arange(ix[0], ix[1] + 1), np.arange(iy[0], iy[1] + 1))
    return mx.ravel(), my.ravel()


def _cell_bounds(ix: np.ndarray, iy: np.ndarray, res: int):
    """x_lo, y_lo, x_hi, y_hi of the res-``res`` grid cells (ix, iy)."""
    cw, ch = 360.0 / (1 << res), 180.0 / (1 << res)
    x_lo, y_lo = -180.0 + ix * cw, -90.0 + iy * ch
    return x_lo, y_lo, x_lo + cw, y_lo + ch


def _cover(ring: np.ndarray, min_res: int, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Cover of one convex CCW ring over levels ``min_res`` … ``res``:
    (cell_id, is_full). Starting from the ring's bbox grid at
    ``min_res``, each level classifies all its cells at once:

    - FULL if all four corners pass every half-plane test (the
      ``geometry.pip_convex`` expression; convexity puts the whole cell
      inside), emitted at this, the coarsest possible level;
    - dropped if the cell misses the ring's bbox or some edge has all
      four corners strictly outside (a separating half-plane);
    - else split into its four children, or emitted PARTIAL at ``res``.

    The cells are disjoint, so a point meets at most one of them.
    """
    x1, y1 = ring[:, 0], ring[:, 1]
    dx, dy = (np.roll(x1, -1) - x1)[:, None, None], (np.roll(y1, -1) - y1)[:, None, None]
    ix, iy = _bbox_cells(x1, y1, min_res)
    cid, is_full = [], []
    for r in range(min_res, res + 1):
        x_lo, y_lo, x_hi, y_hi = _cell_bounds(ix, iy, r)
        cx = np.stack([x_lo, x_hi, x_lo, x_hi], axis=1)
        cy = np.stack([y_lo, y_lo, y_hi, y_hi], axis=1)
        # (edge, cell, corner) cross products
        cross = dx * (cy - y1[:, None, None]) - dy * (cx - x1[:, None, None])
        full = (cross >= 0.0).all(axis=(0, 2))
        split = (
            ~full
            & ~(cross < 0.0).all(axis=2).any(axis=0)
            & (x_lo <= x1.max()) & (x_hi >= x1.min())
            & (y_lo <= y1.max()) & (y_hi >= y1.min())
        )
        keep = full | split if r == res else full
        cid.append(cells.cell_id_from_xy_np(ix[keep], iy[keep], r))
        is_full.append(full[keep])
        ix = ((2 * ix[split])[:, None] + [0, 1, 0, 1]).ravel()
        iy = ((2 * iy[split])[:, None] + [0, 0, 1, 1]).ravel()
    return np.concatenate(cid), np.concatenate(is_full)


def _edge_columns(k: int) -> list[str]:
    return [f"{name}{j}" for j in range(k) for name in ("_hdx", "_hdy", "_hx", "_hy")]


def _half_planes(rings: list[np.ndarray]) -> np.ndarray:
    """(len(rings), 4K) half-plane operands: row i holds ring i's edges
    as ``dx, dy, x1, y1`` (the order of :func:`_edge_columns`), K the
    largest vertex count. ``dx``/``dy`` are computed exactly as
    ``geometry.pip_convex`` computes them, so :func:`keep_inside` sees
    bit-identical operands. A ring with fewer than K edges repeats its
    edge 0: A AND A = A, exact for every input including NaN and ±inf
    (a zero-padded edge would evaluate ``0 * inf``)."""
    k = max((len(r) for r in rings), default=1)
    planes = np.empty((len(rings), 4 * k))
    for i, ring in enumerate(rings):
        x1, y1 = ring[:, 0], ring[:, 1]
        x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
        pad = np.r_[np.arange(len(ring)), np.zeros(k - len(ring), dtype=int)]
        planes[i] = np.column_stack([x2 - x1, y2 - y1, x1, y1])[pad].ravel()
    return planes


def _local_frame(
    spark: SparkSession, cols: dict[str, np.ndarray], planes: np.ndarray | None = None
) -> DataFrame:
    """Spark frame of the numpy columns ``cols``, plus, when given, the
    rows of ``planes`` (:func:`_half_planes`) as the edge columns. It is
    built through one pyarrow table, which becomes a LocalRelation (no
    Python worker) and, unlike a pandas frame, keeps NaN distinct from
    null."""
    table = {c: pa.array(v) for c, v in cols.items()}
    if planes is not None:
        k = planes.shape[1] // 4
        table.update((c, pa.array(planes[:, j])) for j, c in enumerate(_edge_columns(k)))
    return spark.createDataFrame(pa.table(table))


def _index_frame(
    spark: SparkSession,
    poly_ids: list[int],
    covers: list[tuple[np.ndarray, np.ndarray]],
    levels: range,
    kind: str,
    planes: np.ndarray | None = None,
) -> DataFrame:
    """``cell_id long, poly_id int, coverage string`` from one
    ``(cell_id, is_full)`` cover per polygon in ``poly_ids``; with
    ``planes``, each row also carries its polygon's half-planes. The
    ``cell_id`` metadata ``{"min_res", "res", "kind"}`` records the
    cover; it rides the schema through ``localCheckpoint``, ``select``,
    hints and ``F.broadcast``, so joins read it (:func:`_point_cells`)."""
    owner = np.repeat(np.arange(len(covers)), [len(c) for c, _ in covers])
    full = np.concatenate([np.zeros(0, dtype=bool), *(f for _, f in covers)])
    cols = {
        "cell_id": np.concatenate([np.zeros(0, dtype=np.int64), *(c for c, _ in covers)]),
        "poly_id": np.asarray(poly_ids, dtype=np.int32)[owner],
        "coverage": np.where(full, FULL, PARTIAL),
    }
    frame = _local_frame(spark, cols, None if planes is None else planes[owner])
    return frame.withMetadata("cell_id", {"min_res": levels.start, "res": levels.stop - 1, "kind": kind})


def _point_cells(points: DataFrame, cell_index: DataFrame, kind: str = "convex") -> DataFrame:
    """``points`` with a ``cell_id`` column at the levels ``cell_index``
    covers, read off its ``cell_id`` metadata on the driver (the schema
    is cached per frame, so no job runs), by :func:`_with_cells`: over
    several levels, each point explodes to its cell id at every level
    (pure column math, one row per level) and meets at most one cover
    cell per polygon. Raises ``ValueError`` before any job for an
    index that records no levels or another ``kind`` of cover."""
    meta = next((f.metadata for f in cell_index.schema if f.name == "cell_id"), {})
    if meta.get("kind") != kind:
        build = "build_cell_index" if kind == "convex" else "build_cell_index_general"
        raise ValueError(f"cell_index records no {kind} cover levels: build it with {build}")
    return _with_cells(points, range(meta["min_res"], meta["res"] + 1))


def build_cell_index(
    spark: SparkSession,
    polygons: DataFrame,
    res: int = DEFAULT_RES,
    min_res: int | None = None,
) -> DataFrame:
    """Convex cell index of the one-ring-per-row layer ``polygons``
    (poly_id, xs, ys; convex CCW rings): one row per :func:`_cover` cell
    over levels ``min_res`` … ``res``, ``cell_id, poly_id, coverage``
    plus the polygon's edges as half-plane columns ``_hdx{j}, _hdy{j},
    _hx{j}, _hy{j}``, so every join reads them off the index.

    ``min_res`` defaults to ``res``, the flat one-level cover. A lower
    ``min_res`` emits FULL cells at the coarsest interior level (the
    S2-style cover: index size scales with perimeter, not area). The
    levels are recorded on the index (:func:`_index_frame`), so every
    join over it assigns point cells at exactly these levels.

    The layer is dim-sized, so it is collected and covered on the driver
    in numpy; no Python worker starts. Raises ``ValueError`` on the
    driver for bad levels, a repeated poly_id, or a ring that is
    clockwise or has no area (it would silently match nothing).
    """
    levels = _levels(res, min_res)
    rows = polygons.select("poly_id", "xs", "ys").collect()
    poly_ids = [r["poly_id"] for r in rows]
    if len(set(poly_ids)) != len(rows):
        raise ValueError("a convex cell index needs one ring per poly_id")
    rings = [np.column_stack([r["xs"], r["ys"]]).astype(float) for r in rows]
    for pid, ring in zip(poly_ids, rings):
        if len(ring) < 3 or not geometry.shoelace_area_local(ring[:, 0], ring[:, 1]) > 0.0:
            raise ValueError(f"poly_id {pid}: convex ring must be counter-clockwise with positive area")
    covers = [_cover(ring, levels.start, res) for ring in rings]
    return _index_frame(spark, poly_ids, covers, levels, "convex", _half_planes(rings))


def keep_inside(cand: DataFrame) -> DataFrame:
    """Exact convex PIP over candidate rows carrying ``lon``, ``lat``,
    ``coverage`` and the index's edge columns (:func:`build_cell_index`;
    K is read off the ``_hdx*`` columns): FULL rows pass untested,
    PARTIAL rows pass iff every half-plane holds. Every index row comes
    from the polygon whose ring produced its edges, so there is no
    missing-ring case at run time; an index with no edge columns at all
    (not built by ``build_cell_index``) raises here, on the driver.
    Drops ``coverage`` and the edge columns.

    The test is one codegen'd JVM predicate with the IEEE expression of
    ``geometry.pip_convex`` and the DuckDB oracle (Java never fuses it
    into an FMA), so hashes match at atol=0. ``nanvl(h, -1.0)`` keeps
    numpy's NaN semantics: Spark orders NaN above every double, so a
    bare ``NaN >= 0.0`` would read true. OR and AND short-circuit, so
    FULL rows cost one string compare.

    Why this form (pip_tiles op, 4M points, 4 cores, interleaved
    same-session medians of 7): these per-polygon edge columns 0.80 s;
    the Arrow UDF they replaced 1.48 s; a ``forall`` higher-order
    function over per-polygon edge arrays 1.54 s (the lambda runs
    interpreted, outside whole-stage codegen); one literal ``CASE
    poly_id`` expression with every ring's edges inlined 2.11 s, slower
    than the UDF (the generated method outgrows the JIT's size limit
    and stays interpreted).
    """
    k = sum(c.startswith("_hdx") for c in cand.columns)
    if not k:
        raise ValueError(
            "cell index has no edge columns: build it with build_cell_index"
        )
    planes = [
        f"nanvl(_hdx{j} * (lat - _hy{j}) - _hdy{j} * (lon - _hx{j}), -1.0D) >= 0.0D"
        for j in range(k)
    ]
    keep = (F.col("coverage") == FULL) | F.expr(" AND ".join(planes))
    return cand.filter(keep).drop("coverage", *_edge_columns(k))


def pip_attribute(points: DataFrame, cell_index: DataFrame) -> DataFrame:
    """Attach poly_id to every point inside a polygon (inner join shape).

    Point cells are assigned at the levels ``cell_index`` records
    (:func:`_point_cells`), flat or hierarchical. Returns points x
    matched polygons (a point in two overlapping polygons yields two
    rows — same semantics as the all-pairs oracle).
    """
    pts = _point_cells(points, cell_index)
    return keep_inside(pts.join(F.broadcast(cell_index), "cell_id"))


def _as_ring_list(rings) -> list[np.ndarray]:
    """Normalize a single ring array or a list of rings to list form."""
    if isinstance(rings, np.ndarray):
        return [rings]
    return [np.asarray(r) for r in rings]


def build_cell_index_general(
    spark: SparkSession, polygons: DataFrame, res: int = DEFAULT_RES
) -> DataFrame:
    """Cell cover for ARBITRARY features: non-convex, multi-ring, holes.

    Input rows are one ring each (poly_id[, ring_idx], xs, ys); the
    dim-sized layer is collected and each feature reassembled and
    covered on the driver, like :func:`build_cell_index`. Winding-aware
    classification per bbox cell [NEXT.md #2 realized]:

    - a ring edge crosses the cell rectangle (vectorized Liang-Barsky)
      → PARTIAL (exact kernel at probe time);
    - else the cell has UNIFORM even-odd parity → classify by its center:
      inside → FULL (no kernel at probe time), outside → dropped from
      the index entirely (a concave/holed feature's bbox is mostly not
      the feature — dropping outside cells shrinks the index AND removes
      false candidates the convex-era cover kept as PARTIAL).

    Like :func:`build_cell_index`, the index records its level.
    """
    levels = _levels(res, None)
    feats: dict[int, list[np.ndarray]] = {}
    for r in polygons.select("poly_id", "xs", "ys").collect():
        feats.setdefault(r["poly_id"], []).append(np.column_stack([r["xs"], r["ys"]]))
    covers = []
    for rings in feats.values():
        edges = np.concatenate([np.column_stack([ring, np.roll(ring, -1, axis=0)]) for ring in rings])
        ix, iy = _bbox_cells(edges[:, 0], edges[:, 1], res)
        x_lo, y_lo, x_hi, y_hi = _cell_bounds(ix, iy, res)
        boundary = geometry.edges_intersect_rects(edges, x_lo, y_lo, x_hi, y_hi)
        center_in = geometry.pip_rings((x_lo + x_hi) / 2.0, (y_lo + y_hi) / 2.0, rings)
        keep = boundary | center_in
        covers.append((cells.cell_id_from_xy_np(ix[keep], iy[keep], res), ~boundary[keep]))
    return _index_frame(spark, list(feats), covers, levels, "general")


def _pip_rings_udf(rings_by_poly: dict[int, list[np.ndarray]]):
    """Masked even-odd multi-ring kernel for batches of (poly_id, lon,
    lat, is_full). The rings ride in the closure (dim-sized); the kernel
    runs once per distinct polygon in the batch. ``is_full`` rows
    short-circuit INSIDE the kernel (a numpy mask): Spark evaluates UDF
    projections eagerly, so a `coverage == FULL OR udf(...)` filter
    would still pay full kernel cost — while a two-branch union would
    recompute the whole upstream per branch."""

    @F.pandas_udf("boolean")
    def inside(
        poly_id: pd.Series, lon: pd.Series, lat: pd.Series, is_full: pd.Series
    ) -> pd.Series:
        full = is_full.to_numpy()
        out = full.copy()
        todo = ~full
        if todo.any():
            px = lon.to_numpy()[todo]
            py = lat.to_numpy()[todo]
            pid = poly_id.to_numpy()[todo]
            sub = np.zeros(len(px), dtype=bool)
            for p in np.unique(pid):
                m = pid == p
                sub[m] = geometry.pip_rings(px[m], py[m], rings_by_poly[int(p)])
            out[todo] = sub
        return pd.Series(out)

    return inside


def pip_attribute_general(
    points: DataFrame,
    cell_index: DataFrame,
    rings: dict[int, np.ndarray | list[np.ndarray]],
) -> DataFrame:
    """PIP attribution for general features: cell-candidate equi-join
    at the level ``cell_index`` (:func:`build_cell_index_general`)
    records, FULL cells skip geometry, PARTIAL cells run the even-odd
    multi-ring kernel (holes included) in one masked pass."""
    ring_lists = {p: _as_ring_list(r) for p, r in rings.items()}
    pts = _point_cells(points, cell_index, "general")
    cand = pts.join(F.broadcast(cell_index), "cell_id")
    inside = _pip_rings_udf(ring_lists)
    keep = inside(
        F.col("poly_id"), F.col("lon"), F.col("lat"), F.col("coverage") == FULL
    )
    return cand.filter(keep).drop("coverage")


def clip_points(points: DataFrame, cell_index: DataFrame, invert: bool = False) -> DataFrame:
    """mapshaper ``-clip`` on a point layer: keep points inside the clip
    polygons (``-erase`` when invert=True) — a spatial semi/anti join.
    """
    matched = pip_attribute(points, cell_index).select("point_id").distinct()
    how = "left_anti" if invert else "left_semi"
    return points.join(matched, "point_id", how)


def clip_points_general(
    points: DataFrame,
    cell_index: DataFrame,
    rings: dict[int, np.ndarray | list[np.ndarray]],
    invert: bool = False,
) -> DataFrame:
    """-clip / -erase against a GENERAL clip layer (concave, multi-ring,
    holes): the hole-aware even-odd kernel decides containment."""
    matched = pip_attribute_general(points, cell_index, rings).select("point_id").distinct()
    how = "left_anti" if invert else "left_semi"
    return points.join(matched, "point_id", how)


def polygon_point_agg(points: DataFrame, cell_index: DataFrame, value_col: str) -> DataFrame:
    """polygon→point join [-join with calc=]: aggregate contained points'
    attrs onto each polygon. Partial aggregation is map-side (Spark's
    hash-agg does the combine before the tiny 16-key shuffle)."""
    hits = pip_attribute(points, cell_index)
    return hits.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(
            F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double"), 2
        ).alias("sum_value"),
    )


def fuzzy_join(points: DataFrame, polygons: DataFrame, radius: float) -> DataFrame:
    """``-fuzzy-join``: PIP join with a nearest-boundary radius fallback.

    [UPSTREAM ``src/commands/mapshaper-fuzzy-join.mjs`` — public
    knowledge of mbloch/mapshaper; /root/reference is empty, SURVEY.md
    §0]: upstream joins a point layer to polygons spatially, with a
    search ``radius=`` that resolves points falling just OUTSIDE every
    polygon (GPS jitter at coastlines/borders) to the nearest polygon
    within the radius.

    Engine shape:

    1. containment rides the existing two-phase cell join
       (``pip_attribute`` over a cell index built from ``polygons``
       itself, so containment and the radius fallback read one layer —
       FULL cells skip geometry); a point in several polygons dedups to
       the smallest poly_id (upstream keeps one match);
    2. ONLY the misses (anti-join) enter the fallback: candidates =
       broadcast bbox+radius prefilter (a point within ``radius`` of a
       boundary is always inside the bbox expanded by ``radius``), then
       the exact clamped-projection SQUARED distance to every edge as
       one JVM ``array_min(transform(...))`` over the ring arrays — no
       UDF, no vertex explode, no sqrt (squared distances order
       identically and compare exactly against radius²);
    3. nearest polygon wins, ties to the smallest poly_id; misses
       beyond the radius drop (inner-join semantics, like upstream).

    At scale, step 1 is the proven PIP plan and the fallback only
    carries the residual miss fraction. A cell-partitioned fallback
    (polygons exploded to the grid cells of their radius-expanded bbox,
    misses equi-joined on their own cell) lost or tied against the
    broadcast at every size tried on 4 cores (radius 6, 16 polygons,
    medians of 10 interleaved pairs): 2.29 vs 2.63 s at 15k points,
    8.28 vs 8.65 s at 250k, 11.90 vs 12.06 s at 1M.
    The match table is consumed twice (output + anti-join), so it
    checkpoints eagerly (no persist() in re-invoked operators).

    Returns (point_id, poly_id, fuzzy) — fuzzy=0 containment, 1 radius.
    """
    hits = pip_attribute(points, build_cell_index(polygons.sparkSession, polygons))
    pip_best = (
        hits.groupBy("point_id")
        .agg(F.min("poly_id").alias("poly_id"))
        .localCheckpoint()
    )
    miss = points.join(pip_best.select("point_id"), "point_id", "left_anti")
    r = float(radius)
    pb = polygons.select(
        F.col("poly_id").alias("cand_poly"),
        "xs",
        "ys",
        (F.array_min("xs") - F.lit(r)).alias("bx0"),
        (F.array_max("xs") + F.lit(r)).alias("bx1"),
        (F.array_min("ys") - F.lit(r)).alias("by0"),
        (F.array_max("ys") + F.lit(r)).alias("by1"),
    )
    bbox_cond = (
        (F.col("lon") >= F.col("bx0"))
        & (F.col("lon") <= F.col("bx1"))
        & (F.col("lat") >= F.col("by0"))
        & (F.col("lat") <= F.col("by1"))
    )
    cand = miss.join(F.broadcast(pb), bbox_cond)
    d2 = fixtures.seg_d2_sql(
        "lon",
        "lat",
        "element_at(xs, CAST(i AS INT) + 1)",
        "element_at(ys, CAST(i AS INT) + 1)",
        "element_at(xs, (CAST(i AS INT) + 1) % size(xs) + 1)",
        "element_at(ys, (CAST(i AS INT) + 1) % size(ys) + 1)",
    )
    w = Window.partitionBy("point_id")
    best = (
        cand.withColumn(
            "d2", F.expr(f"array_min(transform(sequence(0, size(xs) - 1), i -> {d2}))")
        )
        .withColumn("dmin", F.min("d2").over(w))
        .filter((F.col("d2") == F.col("dmin")) & (F.col("d2") <= F.lit(r * r)))
        .groupBy("point_id")
        .agg(F.min("cand_poly").alias("poly_id"))
    )
    return pip_best.withColumn("fuzzy", F.lit(0)).unionByName(
        best.withColumn("fuzzy", F.lit(1))
    )
