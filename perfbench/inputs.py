"""Seeded input generators. Everything here runs before any timed op.

Each generator takes a ``numpy.random.Generator`` built from the run's
``--seed``, so one seed always gives the same inputs. Inputs land as
parquet written by pyarrow (not by the engine), so the engine only ever
sees files, as it would in production.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mapshaper_spark import fixtures

# files per input table; Spark packs them into about one split per core
N_FILES = 16


def _write_split(table: pa.Table, path: str, n_files: int = N_FILES, **kw) -> int:
    """Write ``table`` as ``n_files`` single-row-group parquet files;
    returns the bytes on disk."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    edges = np.linspace(0, n, n_files + 1).astype(int)
    total = 0
    for i in range(n_files):
        part = table.slice(edges[i], edges[i + 1] - edges[i])
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(part, f, row_group_size=max(part.num_rows, 1), **kw)
        total += os.path.getsize(f)
    return total


def _lonlat(rng: np.random.Generator, n: int, hot_frac: float, anchors: np.ndarray, sigma: float):
    """Uniform background over the map plus one seeded Gaussian hotspot
    cluster near each anchor, together holding ``hot_frac`` of the rows.

    Each hotspot sits within 1.5 degrees of a fixed anchor, not anywhere:
    whether a hotspot lands in a polygon decides how many rows reach the
    PIP kernel, and fully random centres made that swing by seed."""
    lon = rng.uniform(-180.0, 180.0, n)
    lat = rng.uniform(-85.0, 85.0, n)
    hot = rng.random(n) < hot_frac
    centers = anchors + rng.uniform(-1.5, 1.5, anchors.shape)
    which = rng.integers(0, len(anchors), int(hot.sum()))
    lon[hot] = np.clip(centers[which, 0] + rng.normal(0.0, sigma, which.size), -180.0, 180.0)
    lat[hot] = np.clip(centers[which, 1] + rng.normal(0.0, sigma, which.size), -85.0, 85.0)
    return lon, lat


# 32 anchors on an 8 x 4 lattice over the map; 4 for the image hotspots
_POINT_ANCHORS = np.array([(-157.5 + 45.0 * (i % 8), -67.5 + 45.0 * (i // 8)) for i in range(32)])
_IMAGE_ANCHORS = np.array([(-73.98, 40.75), (2.35, 48.86), (139.69, 35.68), (20.0, -10.0)])


def points(rng: np.random.Generator, n: int, path: str, with_value: bool = False) -> dict:
    """Slim point table (point_id, lon, lat[, value]): 80% uniform
    background, 20% in 32 hotspot clusters."""
    lon, lat = _lonlat(rng, n, hot_frac=0.2, anchors=_POINT_ANCHORS, sigma=0.3)
    cols = {"point_id": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat}
    if with_value:
        cols["value"] = rng.random(n)
    nbytes = _write_split(pa.table(cols), path)
    return {"rows": n, "bytes": nbytes, "lon": lon, "lat": lat}


def images(rng: np.random.Generator, n: int, path: str, pool: int = 256) -> dict:
    """Image payload rows that ``images.verify_invariants`` accepts:
    ``img%09d`` ids, ``fixtures.make_caption`` captions, raw RGB pixels
    and the ``fixtures.ahash64`` of those pixels, plus lon/lat with 40%
    of rows in 4 tight hotspots (so some cells are hot enough to salt).

    Pixels come from one vectorized draw per (w, h) size class: a pool
    of ``pool`` distinct images per class, reused round-robin, so the
    per-image Python work (the ahash) runs on the pool, not per row."""
    sizes = fixtures.IMG_SIZES
    ids = np.arange(n)
    w = np.asarray(sizes)[ids % 3]
    h = np.asarray(sizes)[(ids // 3) % 3]
    pix: dict[tuple[int, int], np.ndarray] = {}
    phash: dict[tuple[int, int], np.ndarray] = {}
    for ww in sizes:
        for hh in sizes:
            block = rng.integers(0, 256, size=(pool, hh, ww, 3), dtype=np.uint8)
            pix[(ww, hh)] = block
            phash[(ww, hh)] = np.array(
                [int(fixtures.ahash64(block[k], ww, hh)) for k in range(pool)], dtype=np.int64
            )
    slot = (ids // 9) % pool
    payload = [pix[(int(a), int(b))][s].tobytes() for a, b, s in zip(w, h, slot)]
    ph = np.array([phash[(int(a), int(b))][s] for a, b, s in zip(w, h, slot)], dtype=np.int64)
    lon, lat = _lonlat(rng, n, hot_frac=0.4, anchors=_IMAGE_ANCHORS, sigma=0.2)
    table = pa.table(
        {
            "image_id": [f"img{i:09d}" for i in ids],
            "bytes": pa.array(payload, pa.binary()),
            "w": pa.array(w, pa.int32()),
            "h": pa.array(h, pa.int32()),
            "fmt": ["raw"] * n,
            "caption": [fixtures.make_caption(int(i)) for i in ids],
            "phash": ph,
            "lon": lon,
            "lat": lat,
        }
    )
    # no dictionary on the payload: the pool repeats, real images do not
    nbytes = _write_split(table, path, use_dictionary=["fmt", "caption"])
    return {"rows": n, "bytes": nbytes, "payload_bytes": int(sum(map(len, payload)))}


def boxes(rng: np.random.Generator, n_keys: int, clusters_per_key: int, path: str, chain: int = 10) -> dict:
    """Clustered axis-aligned box layer for ``dissolve2_rings_tiled``:
    per key, ``clusters_per_key`` clusters on a 7-degree lattice, each a
    chain of ``chain`` overlapping boxes with seeded offsets and sizes.
    A cluster spans at most 5.9 degrees, so clusters of one key never
    touch and each key's union is the disjoint union of its clusters'.

    Returns the table facts plus ``clusters``: key -> list of box lists,
    the input of the driver-side union oracle."""
    side = int(np.ceil(np.sqrt(clusters_per_key)))
    rows = {"feature_id": [], "key": [], "xs": [], "ys": []}
    clusters: dict[str, list] = {}
    fid = 0
    for k in range(n_keys):
        key = f"k{k}"
        clusters[key] = []
        for c in range(clusters_per_key):
            cx = 7.0 * (c % side) + rng.uniform(0.0, 1.0)
            cy = 7.0 * (c // side) + rng.uniform(0.0, 1.0)
            dx = cx + 0.3 * np.arange(chain) + rng.uniform(0.0, 0.1, chain)
            dy = cy + 0.2 * np.arange(chain) + rng.uniform(0.0, 0.1, chain)
            s = 2.0 + rng.uniform(0.0, 0.2, chain)
            group = []
            for x, y, sz in zip(dx, dy, s):
                xs = [x, x + sz, x + sz, x]
                ys = [y, y, y + sz, y + sz]
                rows["feature_id"].append(fid)
                rows["key"].append(key)
                rows["xs"].append(xs)
                rows["ys"].append(ys)
                group.append(np.column_stack([xs, ys]))
                fid += 1
            clusters[key].append(group)
    table = pa.table(
        {
            "feature_id": pa.array(rows["feature_id"], pa.int32()),
            "key": rows["key"],
            "xs": pa.array(rows["xs"], pa.list_(pa.float64())),
            "ys": pa.array(rows["ys"], pa.list_(pa.float64())),
        }
    )
    nbytes = _write_split(table, path, n_files=4)
    return {"rows": fid, "bytes": nbytes, "clusters": clusters}
