"""Independent expected results, computed once per seed before timing.

The tile oracle is DuckDB, not Spark: every (point, polygon) pair gets
the half-plane PIP test of ``queries._ORACLE_HITS`` (after a bbox
prefilter, which drops only pairs that test rejects), then the z4 tile
of each hit, written out here rather than taken from ``cells``.
"""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np

from mapshaper_spark import fixtures, geometry

TILE_Z = 4


def digest(rows) -> str:
    """Order-independent hash of result rows (tuples of ints)."""
    h = hashlib.sha256()
    for r in sorted(tuple(int(v) for v in row) for row in rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def tile_counts(parquet_dir: str, threads: int, tmp_dir: str) -> dict:
    """(poly_id, tile_x, tile_y, n) for every point inside a fixture
    polygon (boundary counts as inside), from DuckDB. Returns the digest,
    the total number of hits and the row count."""
    n = 1 << TILE_Z
    tile = (
        f"LEAST({n - 1}, GREATEST(0, CAST(FLOOR((lon + 180.0) * {n}.0 / 360.0) AS BIGINT))) AS tx, "
        f"LEAST({n - 1}, GREATEST(0, CAST(FLOOR((lat + 90.0) * {n}.0 / 180.0) AS BIGINT))) AS ty"
    )
    # one scan per polygon: its bbox, then every edge's half-plane
    # (boundary inside), the same predicate as the all-pairs oracle
    parts = []
    for p in fixtures.POLYGONS:
        ring = p["ring"]
        xs, ys = [v[0] for v in ring], [v[1] for v in ring]
        halfplanes = " AND ".join(
            f"(({x2!r} - {x1!r}) * (lat - {y1!r}) - ({y2!r} - {y1!r}) * (lon - {x1!r}) >= 0.0)"
            for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1])
        )
        parts.append(
            f"SELECT {p['poly_id']} AS poly_id, {tile} FROM pts "
            f"WHERE lon BETWEEN {min(xs)!r} AND {max(xs)!r} "
            f"AND lat BETWEEN {min(ys)!r} AND {max(ys)!r} AND {halfplanes}"
        )
    sql = (
        f"WITH pts AS (SELECT lon, lat FROM read_parquet('{parquet_dir}/*.parquet')), "
        f"hits AS ({' UNION ALL '.join(parts)}) "
        "SELECT poly_id, tx, ty, count(*) AS n FROM hits GROUP BY 1, 2, 3"
    )
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={int(threads)}")
        con.execute(f"SET temp_directory='{tmp_dir}'")
        rows = con.sql(sql).fetchall()
    finally:
        con.close()
    return {"digest": digest(rows), "hits": int(sum(r[3] for r in rows)), "groups": len(rows)}


def union_areas(clusters: dict[str, list]) -> dict:
    """Per key, the sorted signed ring areas of the union of its
    clusters, each cluster unioned on the driver with
    ``geometry.union_many``. Also returns the kernel's wall time."""
    import time

    t0 = time.perf_counter()
    want: dict[str, list[float]] = {}
    for key, groups in clusters.items():
        areas = []
        for boxes in groups:
            for ring in geometry.union_many(boxes):
                areas.append(float(geometry.shoelace_area(ring[:, 0], ring[:, 1])))
        want[key] = sorted(areas)
    return {"areas": want, "union_many_s": time.perf_counter() - t0}


def rings_match(got: dict[str, list[float]], want: dict[str, list[float]], rel: float = 1e-9) -> bool:
    """Same ring count per key and every sorted area within ``rel``."""
    if set(got) != set(want):
        return False
    for key, w in want.items():
        g = sorted(got[key])
        if len(g) != len(w):
            return False
        if not np.allclose(g, w, rtol=rel, atol=0.0):
            return False
    return True
