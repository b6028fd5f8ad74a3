"""Hierarchical cell index (H3/S2-style) as quadkey / Morton Z-order.

No h3/s2 lib exists in the environment, so the engine implements its own
hierarchical cell id [SURVEY.md §4.2 item 1]: an equirectangular grid at
resolution ``r`` (2^r x 2^r cells over lon in [-180,180], lat in [-90,90])
whose (ix, iy) are bit-interleaved into a Morton code. Z-order preserves
spatial locality, so ``repartitionByRange(cell_id)`` co-locates nearby
cells — the property the north rule's "range-partitioned shuffle on
cell_id" needs. ``cell_id = morton * 32 + r`` keeps the resolution in the
low 5 bits so ids from different resolutions never collide and
parent/child moves are closed-form arithmetic.

Three coordinated implementations, all bit-identical:

- SQL text built from :func:`grid_xy_sql`, valid in BOTH Spark SQL and
  DuckDB (only ``floor + * | &`` and LEAST/GREATEST, all IEEE-exact).
  :func:`cell_sql` is the one-expression form, used by the DuckDB
  correctness oracles and the kNN grid. Spark's point-scale path
  (``spatial_join.with_cell``) projects the grid coords ``_ix, _iy``
  once and interleaves them with the linear-size :func:`morton_bits_sql`
  (``cell_sql`` copies each grid expression 16 times, and Catalyst
  re-checks all 4 KB of it in every analysis of a point-op plan);
- :func:`cell_id_np` — the numpy kernel for Arrow/pandas-UDF paths and
  the driver-side cell covers;
- plain-Python helpers (parent/children/neighbors) for tests.

Upstream analog: mapshaper has no cell index — its bbox path index
[SURVEY.md §4.1] plays this role single-node. The cell index is our
distributed replacement.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 16  # 2^16 x 2^16 grid → ~0.005° cells at the equator

_SPREAD_MASKS = (
    (256, 0x00FF00FF),
    (16, 0x0F0F0F0F),
    (4, 0x33333333),
    (2, 0x55555555),
)


def _spread_sql(v: str) -> str:
    """SQL for the classic Morton bit-spread of a 16-bit value.

    Uses only ``* | &`` on BIGINT — identical semantics (and identical
    results) in Spark SQL and DuckDB.
    """
    e = f"(CAST({v} AS BIGINT) & 65535)"
    for mul, mask in _SPREAD_MASKS:
        e = f"(({e} | ({e} * {mul})) & {mask})"
    return e


def grid_xy_sql(lon: str, lat: str, res: int) -> tuple[str, str]:
    """SQL for grid coords ix, iy at resolution ``res`` (clamped to range).

    floor() of double arithmetic: both engines evaluate the identical IEEE
    expression, so results are bit-identical.
    """
    n = 1 << res
    ix = f"LEAST({n - 1}, GREATEST(0, CAST(FLOOR((({lon}) + 180.0) * {n}.0 / 360.0) AS BIGINT)))"
    iy = f"LEAST({n - 1}, GREATEST(0, CAST(FLOOR((({lat}) + 90.0) * {n}.0 / 180.0) AS BIGINT)))"
    return ix, iy


def morton_sql(ix: str, iy: str) -> str:
    return f"({_spread_sql(ix)} | ({_spread_sql(iy)} * 2))"


def morton_bits_sql(ix: str, iy: str, res: int) -> str:
    """SQL for the Morton code of the res-``res`` grid coords ``ix, iy``
    (columns or short expressions; each appears ``res`` times) as a sum
    of ``2·res`` bit terms: bit b of ix moves to bit 2b, bit b of iy to
    bit 2b + 1. Every term fits a BIGINT up to :data:`MAX_RES`, so
    Spark's ANSI overflow check never fires."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    terms = [
        f"({ix} & {1 << b}) * {1 << b} + ({iy} & {1 << b}) * {1 << (b + 1)}"
        for b in range(res)
    ]
    return f"({' + '.join(terms) or 'CAST(0 AS BIGINT)'})"


def cell_sql(lon: str, lat: str, res: int) -> str:
    """Portable SQL: cell_id at ``res`` from lon/lat expressions."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    ix, iy = grid_xy_sql(lon, lat, res)
    return f"({morton_sql(ix, iy)} * 32 + {res})"


def tile_sql(lon: str, lat: str, z: int) -> tuple[str, str]:
    """Portable SQL for equirectangular z/x/y tile coords.

    The engine's tile scheme is a plain power-of-two grid over the lon/lat
    bbox (the distributed analog of mapshaper's ``-split-on-grid``
    [SURVEY.md §2.4]); Web-Mercator y would need tan/log, which are not
    ULP-portable across JVM/libm, so the oracle-checked scheme stays
    algebraic.
    """
    return grid_xy_sql(lon, lat, z)


# ---------------------------------------------------------------- numpy ---


def _spread_np(v: np.ndarray) -> np.ndarray:
    x = v.astype(np.int64) & 0xFFFF
    for mul, mask in _SPREAD_MASKS:
        x = (x | (x * mul)) & mask
    return x


def grid_xy_np(lon: np.ndarray, lat: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << res
    ix = np.clip(np.floor((lon + 180.0) * float(n) / 360.0), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) * float(n) / 180.0), 0, n - 1).astype(np.int64)
    return ix, iy


def morton_np(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    return _spread_np(ix) | (_spread_np(iy) << 1)


def cell_id_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    ix, iy = grid_xy_np(lon, lat, res)
    return morton_np(ix, iy) * 32 + res


def cell_id_from_xy_np(ix: np.ndarray, iy: np.ndarray, res: int) -> np.ndarray:
    return morton_np(ix, iy) * 32 + res


# ------------------------------------------------------- plain helpers ---


def cell_res(cell_id: int) -> int:
    return cell_id & 31


def cell_to_xy(cell_id: int) -> tuple[int, int, int]:
    """cell_id → (ix, iy, res) by de-interleaving the Morton code."""
    res = cell_id & 31
    m = cell_id >> 5
    ix = _compact(m)
    iy = _compact(m >> 1)
    return ix, iy, res


def _compact(m: int) -> int:
    m &= 0x55555555
    m = (m | (m >> 1)) & 0x33333333
    m = (m | (m >> 2)) & 0x0F0F0F0F
    m = (m | (m >> 4)) & 0x00FF00FF
    m = (m | (m >> 8)) & 0x0000FFFF
    return m


def parent(cell_id: int) -> int:
    res = cell_id & 31
    if res == 0:
        raise ValueError("res-0 cell has no parent")
    return ((cell_id >> 5) >> 2) * 32 + (res - 1)


def children(cell_id: int) -> list[int]:
    res = cell_id & 31
    if res >= MAX_RES:
        raise ValueError("max resolution")
    base = (cell_id >> 5) << 2
    return [(base + i) * 32 + (res + 1) for i in range(4)]


def neighbor_cells(cell_id: int, ring: int = 1) -> list[int]:
    """All cells with Chebyshev distance <= ring (incl. the cell itself)."""
    ix, iy, res = cell_to_xy(cell_id)
    n = 1 << res
    out = []
    for dy in range(-ring, ring + 1):
        for dx in range(-ring, ring + 1):
            x, y = ix + dx, iy + dy
            if 0 <= x < n and 0 <= y < n:
                out.append(
                    int(cell_id_from_xy_np(np.array([x]), np.array([y]), res)[0])
                )
    return out


def cell_bounds(cell_id: int) -> tuple[float, float, float, float]:
    """(lon_min, lat_min, lon_max, lat_max) of a cell."""
    ix, iy, res = cell_to_xy(cell_id)
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    return (-180.0 + ix * w, -90.0 + iy * h, -180.0 + (ix + 1) * w, -90.0 + (iy + 1) * h)
