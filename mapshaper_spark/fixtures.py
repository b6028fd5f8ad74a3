"""Deterministic fixtures (seed=42) shared by the engine, tests, and oracles.

Three kinds [FIXTURES.md §B]:

1. **Derived points** — lon/lat point layers derived from the driver's
   TPC-H-ish tables with IEEE-exact arithmetic (``+ - * / %`` on integers
   then one division by 100.0), so the DuckDB oracle can re-derive the
   *identical* doubles from the same parquet. 20% of points cluster into
   3 hotspots to exercise salt-based skew mitigation [BASELINE.json
   north_rule].

2. **Literal convex polygons** — 16 convex polygons generated once in
   Python (trig happens here, NOT in either SQL engine) and embedded as
   identical decimal literals in both the Spark plan and the oracle SQL.
   Convexity lets the oracle express point-in-polygon as half-plane sign
   tests in ANSI SQL [SURVEY.md §5.2].

3. **Shared-arc grid** — a 4x4 grid of unit squares (mapshaper's
   topology model: shared borders stored once, features reference signed
   arc ids [SURVEY.md §1.1]) for dissolve / innerlines / lines oracles.

4. **Synthetic images table** — the BASELINE.json input_hint schema
   (image_id, bytes, w, h, fmt, caption, phash) with fmt='raw'
   uncompressed RGB so pixel invariants are exact (no PIL in env).
"""

from __future__ import annotations

import math

import numpy as np

SEED = 42

# --------------------------------------------------------------- points ---

# Multipliers are primes; all intermediate values fit comfortably in int64
# so Spark's ANSI mode and DuckDB agree exactly. The CAST AS DOUBLE before
# dividing matters: Spark types `bigint / 100.0` as DECIMAL division while
# DuckDB gives DOUBLE — casting the numerator pins both to the identical
# IEEE double op.
_LON_SQL = "(-180.0 + CAST(({k}) * 9973 % 36000 AS DOUBLE) / 100.0)"
_LAT_SQL = "(-85.0 + CAST(({k}) * 7919 % 17000 AS DOUBLE) / 100.0)"

# 3 dense hotspots (city analog) — keys with k % 5 == 0 (20%) collapse
# into one of these, offset by a small deterministic jitter.
HOTSPOTS = [(-73.98, 40.75), (2.35, 48.86), (139.69, 35.68)]


def point_lon_sql(k: str) -> str:
    """Portable SQL (Spark + DuckDB): skewed lon for integer key expr."""
    hx = " ".join(
        f"WHEN ({k}) % 15 = {5 * i} THEN ({x} + CAST(({k}) * 31 % 100 AS DOUBLE) / 1000.0)"
        for i, (x, _y) in enumerate(HOTSPOTS)
    )
    return f"(CASE WHEN ({k}) % 5 = 0 THEN (CASE {hx} END) ELSE {_LON_SQL.format(k=k)} END)"


def point_lat_sql(k: str) -> str:
    hy = " ".join(
        f"WHEN ({k}) % 15 = {5 * i} THEN ({y} + CAST(({k}) * 17 % 100 AS DOUBLE) / 1000.0)"
        for i, (_x, y) in enumerate(HOTSPOTS)
    )
    return f"(CASE WHEN ({k}) % 5 = 0 THEN (CASE {hy} END) ELSE {_LAT_SQL.format(k=k)} END)"


def customer_points_sql(table: str = "customer") -> str:
    """Portable derived point layer: one point per customer row."""
    k = "c_custkey"
    return (
        f"SELECT c_custkey AS point_id, {point_lon_sql(k)} AS lon, "
        f"{point_lat_sql(k)} AS lat FROM {table}"
    )


def supplier_points_sql(table: str = "supplier") -> str:
    """Target point layer for nearest-feature joins (dim-sized)."""
    k = "(s_suppkey * 3 + 1)"
    return (
        f"SELECT s_suppkey AS target_id, {point_lon_sql(k)} AS lon, "
        f"{point_lat_sql(k)} AS lat FROM {table}"
    )


# ------------------------------------------------------------- polygons ---


def _make_polygons(
    seed: int = SEED,
    centers: list[tuple[float, float]] | None = None,
) -> list[dict]:
    """Convex CCW polygons (k-gons, k in 3..8) spread over the domain.

    Trig runs here once; coordinates are rounded to 4 decimals so both
    engines parse identical literals to identical doubles.
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    polys = []
    if centers is None:
        centers = [(-140 + 45 * (i % 8), -50 + 70 * (i // 8)) for i in range(16)]
    for pid, (cx, cy) in enumerate(centers):
        k = 3 + pid % 6
        radius = float(rng.uniform(10.0, 22.0))
        phase = float(rng.uniform(0, 2 * math.pi))
        ring = []
        for j in range(k):
            a = phase + 2 * math.pi * j / k
            ring.append(
                (round(cx + radius * math.cos(a), 4), round(cy + radius * math.sin(a), 4))
            )
        # ensure CCW (positive shoelace)
        area2 = sum(
            ring[j][0] * ring[(j + 1) % k][1] - ring[(j + 1) % k][0] * ring[j][1]
            for j in range(k)
        )
        if area2 < 0:
            ring = ring[::-1]
        polys.append({"poly_id": pid, "name": f"poly{pid:02d}", "ring": ring})
    return polys


POLYGONS = _make_polygons()

# second layer for polygon↔polygon overlay joins: offset centers so each
# clip polygon straddles several base polygons
CLIP_POLYGONS = _make_polygons(
    SEED + 13, [(-120 + 48 * (i % 6), -30 + 55 * (i // 6)) for i in range(12)]
)


def polygon_edges(
    polys: list[dict] | None = None,
) -> list[tuple[int, float, float, float, float]]:
    """(poly_id, x1, y1, x2, y2) for every directed edge, CCW order."""
    rows = []
    for p in polys if polys is not None else POLYGONS:
        ring = p["ring"]
        for j in range(len(ring)):
            x1, y1 = ring[j]
            x2, y2 = ring[(j + 1) % len(ring)]
            rows.append((p["poly_id"], x1, y1, x2, y2))
    return rows


def polygon_edges_values_sql(polys: list[dict] | None = None, name: str = "edges") -> str:
    """DuckDB/Spark-portable inline VALUES relation of polygon edges."""
    vals = ",".join(
        f"({pid},{x1!r},{y1!r},{x2!r},{y2!r})"
        for pid, x1, y1, x2, y2 in polygon_edges(polys)
    )
    return f"(VALUES {vals}) AS {name}(poly_id, x1, y1, x2, y2)"


def seg_d2_sql(px: str, py: str, ax: str, ay: str, bx: str, by: str) -> str:
    """Portable point-to-SEGMENT squared distance (clamped projection).

    Pure ``+ - * /`` + CASE on doubles, so Spark and DuckDB evaluate the
    IDENTICAL IEEE expression tree — the reason -fuzzy-join can be
    hash-oracled at all (a sqrt would differ in ULPs across libm;
    squared distances order the same and compare exactly against a
    squared radius). The parameter t is inlined at each use site: both
    engines then evaluate the same tree, and t's recomputation is
    bit-identical by determinism. Callers must guarantee no zero-length
    segment (the fixture layers carry no duplicate consecutive
    vertices), else the projection divides by zero.
    """
    t = (
        f"((({px})-({ax}))*(({bx})-({ax})) + (({py})-({ay}))*(({by})-({ay})))"
        f" / ((({bx})-({ax}))*(({bx})-({ax})) + (({by})-({ay}))*(({by})-({ay})))"
    )
    tc = f"(CASE WHEN {t} < 0.0 THEN 0.0 WHEN {t} > 1.0 THEN 1.0 ELSE {t} END)"
    dx = f"(({px}) - (({ax}) + {tc} * (({bx})-({ax}))))"
    dy = f"(({py}) - (({ay}) + {tc} * (({by})-({ay}))))"
    return f"({dx}*{dx} + {dy}*{dy})"


def polygon_vertices_values_sql(polys: list[dict], name: str) -> str:
    """(poly_id, x, y) VALUES relation of ring vertices."""
    rows = []
    for p in polys:
        for x, y in p["ring"]:
            rows.append(f"({p['poly_id']},{x!r},{y!r})")
    return f"(VALUES {','.join(rows)}) AS {name}(poly_id, x, y)"


def polygons_pdf(polys: list[dict] | None = None):
    """pandas DataFrame of a polygon layer (ring as coordinate lists)."""
    import pandas as pd

    polys = polys if polys is not None else POLYGONS
    return pd.DataFrame(
        {
            "poly_id": [p["poly_id"] for p in polys],
            "name": [p["name"] for p in polys],
            "xs": [[v[0] for v in p["ring"]] for p in polys],
            "ys": [[v[1] for v in p["ring"]] for p in polys],
        }
    )


# -------------------------------------------------------- shared-arc grid ---


def _make_grid_topology(n: int = 4) -> tuple[list[dict], list[dict]]:
    """n x n unit squares sharing borders — the arc-dictionary fixture.

    Returns (arcs, features). Arcs are directed left→right (horizontal)
    or bottom→top (vertical); features reference signed arc ids with the
    TopoJSON convention: ``ref = arc_id`` forward, ``-(arc_id + 1)``
    reversed [SURVEY.md §1.1].
    """
    arcs, aid = [], 0
    hid = {}  # (i, j) → arc_id of horizontal arc from (i,j) to (i+1,j)
    vid = {}
    for j in range(n + 1):
        for i in range(n):
            hid[(i, j)] = aid
            arcs.append(
                {"arc_id": aid, "xs": [float(i), float(i + 1)], "ys": [float(j), float(j)]}
            )
            aid += 1
    for j in range(n):
        for i in range(n + 1):
            vid[(i, j)] = aid
            arcs.append(
                {"arc_id": aid, "xs": [float(i), float(i)], "ys": [float(j), float(j + 1)]}
            )
            aid += 1
    features = []
    for j in range(n):
        for i in range(n):
            fid = j * n + i
            # CCW ring: bottom fwd, right fwd, top rev, left rev
            refs = [
                hid[(i, j)],
                vid[(i + 1, j)],
                -(hid[(i, j + 1)] + 1),
                -(vid[(i, j)] + 1),
            ]
            features.append(
                {
                    "feature_id": fid,
                    "key": f"g{i // 2}{j // 2}",  # 2x2 dissolve blocks
                    "parts": [refs],
                }
            )
    return arcs, features


GRID_ARCS, GRID_FEATURES = _make_grid_topology(4)


def grid_incidence_rows() -> list[tuple[int, str, int, float]]:
    """(feature_id, key, arc_id, arc_len) — one row per feature-arc use."""
    alen = {
        a["arc_id"]: math.dist((a["xs"][0], a["ys"][0]), (a["xs"][1], a["ys"][1]))
        for a in GRID_ARCS
    }
    rows = []
    for f in GRID_FEATURES:
        for ref in f["parts"][0]:
            aid = ref if ref >= 0 else -ref - 1
            rows.append((f["feature_id"], f["key"], aid, alen[aid]))
    return rows


def grid_incidence_values_sql() -> str:
    vals = ",".join(
        f"({fid},'{key}',{aid},{ln!r})" for fid, key, aid, ln in grid_incidence_rows()
    )
    return f"(VALUES {vals}) AS inc(feature_id, key, arc_id, arc_len)"


# non-convex layer (hand-written literal coords): star, L, C, arrow —
# exercises the general even-odd ray-crossing path (the convex
# half-plane shortcut and FULL-cell classification don't apply)
NONCONVEX_POLYGONS = [
    {  # 5-point star around (-100, 0), span ~±24
        "poly_id": 0,
        "name": "star",
        "ring": [
            (-100.0, 24.0), (-94.4, 7.4), (-77.2, 7.4), (-91.0, -2.8),
            (-85.8, -19.4), (-100.0, -9.2), (-114.2, -19.4), (-109.0, -2.8),
            (-122.8, 7.4), (-105.6, 7.4),
        ],
    },
    {  # L-shape at (0..40, -60..-20)
        "poly_id": 1,
        "name": "ell",
        "ring": [
            (0.0, -60.0), (40.0, -60.0), (40.0, -44.0), (16.0, -44.0),
            (16.0, -20.0), (0.0, -20.0),
        ],
    },
    {  # C-shape at (80..120, 10..50)
        "poly_id": 2,
        "name": "cee",
        "ring": [
            (80.0, 10.0), (120.0, 10.0), (120.0, 22.0), (92.0, 22.0),
            (92.0, 38.0), (120.0, 38.0), (120.0, 50.0), (80.0, 50.0),
        ],
    },
    {  # arrow / chevron at (-40..0, 40..70)
        "poly_id": 3,
        "name": "chevron",
        "ring": [
            (-40.0, 40.0), (-20.0, 55.0), (0.0, 40.0), (0.0, 52.0),
            (-20.0, 70.0), (-40.0, 52.0),
        ],
    },
]


# multi-ring features with holes (hand-written literal coords) — the
# general even-odd feature model: outer rings + hole rings + disjoint
# parts in one feature, no hole tagging needed (parity handles it).
# Coordinates use .0/.5 halves so both engines parse identical doubles.
HOLED_FEATURES = [
    {  # square donut: outer with a centered square hole
        "poly_id": 0,
        "name": "donut",
        "rings": [
            [(-170.0, -80.0), (-130.0, -80.0), (-130.0, -40.0), (-170.0, -40.0)],
            [(-160.0, -70.0), (-160.0, -50.0), (-140.0, -50.0), (-140.0, -70.0)],
        ],
    },
    {  # concave L with a square hole in the foot
        "poly_id": 1,
        "name": "ell_holed",
        "rings": [
            [
                (60.0, -70.0), (110.0, -70.0), (110.0, -50.0), (80.0, -50.0),
                (80.0, -20.0), (60.0, -20.0),
            ],
            [(66.0, -66.0), (66.0, -56.0), (76.0, -56.0), (76.0, -66.0)],
        ],
    },
    {  # multipolygon: two disjoint squares, second one holed
        "poly_id": 2,
        "name": "islands",
        "rings": [
            [(130.0, 55.0), (150.0, 55.0), (150.0, 80.0), (130.0, 80.0)],
            [(155.0, 55.0), (175.0, 55.0), (175.0, 80.0), (155.0, 80.0)],
            [(160.0, 62.5), (160.0, 72.5), (170.0, 72.5), (170.0, 62.5)],
        ],
    },
    {  # strongly concave comb (teeth pointing down)
        "poly_id": 3,
        "name": "comb",
        "rings": [
            [
                (-60.0, 60.0), (0.0, 60.0), (0.0, 85.0), (-10.0, 85.0),
                (-10.0, 67.5), (-20.0, 67.5), (-20.0, 85.0), (-30.0, 85.0),
                (-30.0, 67.5), (-40.0, 67.5), (-40.0, 85.0), (-50.0, 85.0),
                (-50.0, 67.5), (-60.0, 67.5),
            ],
        ],
    },
]


def multiring_edges_values_sql(feats: list[dict] | None = None, name: str = "me") -> str:
    """(poly_id, x1, y1, x2, y2) VALUES relation over EVERY ring of every
    multi-ring feature — crossing parity over this relation is the
    even-odd hole-aware PIP oracle."""
    rows = []
    for f in feats if feats is not None else HOLED_FEATURES:
        for ring in f["rings"]:
            k = len(ring)
            for j in range(k):
                x1, y1 = ring[j]
                x2, y2 = ring[(j + 1) % k]
                rows.append(f"({f['poly_id']},{x1!r},{y1!r},{x2!r},{y2!r})")
    return f"(VALUES {','.join(rows)}) AS {name}(poly_id, x1, y1, x2, y2)"


def multiring_vertices_values_sql(
    feats: list[dict] | None = None, name: str = "mv"
) -> str:
    """(poly_id, ring_idx, vi, x, y) VALUES relation over EVERY ring
    vertex of every multi-ring feature (rings stored unclosed, so the
    closing vertex never appears twice) — the -points vertices
    oracles' source relation."""
    rows = []
    for f in feats if feats is not None else HOLED_FEATURES:
        for ri, ring in enumerate(f["rings"]):
            for vi, (x, y) in enumerate(ring):
                rows.append(f"({f['poly_id']},{ri},{vi},{x!r},{y!r})")
    return f"(VALUES {','.join(rows)}) AS {name}(poly_id, ring_idx, vi, x, y)"


def multiring_pdf(feats: list[dict] | None = None):
    """pandas DataFrame of a multi-ring layer: one row PER RING
    (poly_id, ring_idx, xs, ys) — the distributed feature model the
    general cover/kernel consume (groupBy poly_id reassembles)."""
    import pandas as pd

    feats = feats if feats is not None else HOLED_FEATURES
    rows = []
    for f in feats:
        for ri, ring in enumerate(f["rings"]):
            rows.append(
                {
                    "poly_id": f["poly_id"],
                    "ring_idx": ri,
                    "xs": [v[0] for v in ring],
                    "ys": [v[1] for v in ring],
                }
            )
    return pd.DataFrame(rows, columns=["poly_id", "ring_idx", "xs", "ys"])


# Exact rectangle decomposition of HOLED_FEATURES (holes sign=-1) — the
# oracle's independent area model: every feature is a signed union of
# axis-aligned rects, so any clip-by-box area is pure interval algebra.
HOLED_RECT_DECOMP = [
    # donut
    (0, -170.0, -80.0, -130.0, -40.0, 1),
    (0, -160.0, -70.0, -140.0, -50.0, -1),
    # ell_holed: bottom bar + upper column − hole
    (1, 60.0, -70.0, 110.0, -50.0, 1),
    (1, 60.0, -50.0, 80.0, -20.0, 1),
    (1, 66.0, -66.0, 76.0, -56.0, -1),
    # islands: two squares − hole in the second
    (2, 130.0, 55.0, 150.0, 80.0, 1),
    (2, 155.0, 55.0, 175.0, 80.0, 1),
    (2, 160.0, 62.5, 170.0, 72.5, -1),
    # comb: bottom band + three teeth
    (3, -60.0, 60.0, 0.0, 67.5, 1),
    (3, -10.0, 67.5, 0.0, 85.0, 1),
    (3, -30.0, 67.5, -20.0, 85.0, 1),
    (3, -50.0, 67.5, -40.0, 85.0, 1),
]

# concave×concave pair fixture for the Greiner–Hormann clip: rectilinear
# L / U subjects against a reversed-L and a bar, all on .5-grain coords
# (exact areas), in general position (no collinear overlaps / touches).
# Each polygon's signed rect decomposition feeds the oracle:
# area(A∩B) = Σ_ra Σ_rb sgn_a·sgn_b·overlap(ra, rb).
GH_SUBJECTS = [
    {  # L: bottom bar + left column
        "poly_id": 0,
        "ring": [(0.0, 0.0), (4.0, 0.0), (4.0, 1.5), (1.5, 1.5), (1.5, 4.0), (0.0, 4.0)],
        "rects": [(0.0, 0.0, 4.0, 1.5), (0.0, 1.5, 1.5, 4.0)],
    },
    {  # U: base + two arms
        "poly_id": 1,
        "ring": [
            (0.0, 0.0), (5.0, 0.0), (5.0, 4.0), (3.5, 4.0), (3.5, 1.5),
            (1.5, 1.5), (1.5, 4.0), (0.0, 4.0),
        ],
        "rects": [(0.0, 0.0, 5.0, 1.5), (0.0, 1.5, 1.5, 4.0), (3.5, 1.5, 5.0, 4.0)],
    },
]

GH_CLIPS = [
    {  # reversed L
        "poly_id": 0,
        "ring": [(0.5, 0.5), (3.0, 0.5), (3.0, 3.0), (2.0, 3.0), (2.0, 1.0), (0.5, 1.0)],
        "rects": [(0.5, 0.5, 3.0, 1.0), (2.0, 1.0, 3.0, 3.0)],
    },
    {  # horizontal bar across both U arms
        "poly_id": 1,
        "ring": [(-1.0, 2.0), (6.0, 2.0), (6.0, 3.0), (-1.0, 3.0)],
        "rects": [(-1.0, 2.0, 6.0, 3.0)],
    },
]


def gh_layer_pdf(layer: list[dict]):
    import pandas as pd

    return pd.DataFrame(
        {
            "poly_id": [p["poly_id"] for p in layer],
            "xs": [[v[0] for v in p["ring"]] for p in layer],
            "ys": [[v[1] for v in p["ring"]] for p in layer],
        }
    )


def gh_rects_values_sql(layer: list[dict], name: str) -> str:
    rows = []
    for p in layer:
        for x0, y0, x1, y1 in p["rects"]:
            rows.append(f"({p['poly_id']},{x0!r},{y0!r},{x1!r},{y1!r})")
    return f"(VALUES {','.join(rows)}) AS {name}(pid, x0, y0, x1, y1)"


# -dissolve2 fixture: per-key groups of OVERLAPPING axis-aligned squares
# (strict overlaps — no edge tangency, which is outside the GH kernel's
# general-position scope). 'a' = a 3-square overlapping chain merging to
# one ring; 'b' = two disjoint squares staying separate; 'c' = four bars
# closing a picture frame — the union CREATES A HOLE (outer + hole ring)
# [VERDICT r2 #3 donut-forming union]. The bar ends are offset (x 39.5/
# 47.5 vs 40/45, y -0.5/7.5 vs 0/7) so no two rects share a collinear
# overlapping edge — general position everywhere. All spans are powers
# of two, so every edge-crossing solve (t = Δ/2^k, p = p1 + t·span) is
# EXACT in IEEE and the hash-checked areas match the oracle bit-for-bit.
DISSOLVE2_RECTS = [
    ("a", 0.0, 0.0, 4.0, 4.0),
    ("a", 2.5, 0.5, 6.5, 4.5),
    ("a", 5.0, 1.0, 9.0, 5.0),
    ("b", 20.0, 0.0, 24.0, 4.0),
    ("b", 30.0, 0.0, 33.0, 3.0),
    ("c", 40.0, -0.5, 41.0, 7.5),  # left bar (1 x 8)
    ("c", 44.0, -0.5, 45.0, 7.5),  # right bar (1 x 8)
    ("c", 39.5, 0.0, 47.5, 1.0),   # bottom bar (8 x 1)
    ("c", 39.5, 6.0, 47.5, 7.0),   # top bar (8 x 1)
    # group d [VERDICT r3 #1 done-criterion]: the union fold's
    # accumulator goes DISJOINT (two separated squares) before the
    # third rect bridges both — the multi-component subject shape the
    # r3 counterexample broke. General position (no shared coordinate
    # lines), so the whole fold stays on the exact unperturbed path and
    # the driver hash-checks it bit-for-bit: area 4+4+4-0.5-0.5 = 11.
    ("d", 50.0, 0.0, 52.0, 2.0),   # left square (2 x 2)
    ("d", 55.0, 0.0, 57.0, 2.0),   # right square (2 x 2), disjoint
    ("d", 51.5, 0.5, 55.5, 1.5),   # bridge bar (4 x 1) overlapping both
]


def dissolve2_pdf():
    import pandas as pd

    rows = []
    for fid, (key, x0, y0, x1, y1) in enumerate(DISSOLVE2_RECTS):
        ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
        rows.append(
            {
                "feature_id": fid,
                "key": key,
                "xs": [p[0] for p in ring],
                "ys": [p[1] for p in ring],
            }
        )
    return pd.DataFrame(rows, columns=["feature_id", "key", "xs", "ys"])


def dissolve2_rects_values_sql(name: str = "r") -> str:
    rows = ",".join(
        f"('{k}',{x0!r},{y0!r},{x1!r},{y1!r})" for k, x0, y0, x1, y1 in DISSOLVE2_RECTS
    )
    return f"(VALUES {rows}) AS {name}(key, x0, y0, x1, y1)"


def dissolve2_rects_with_ids_sql(name: str = "r") -> str:
    rows = ",".join(
        f"({rid},'{k}',{x0!r},{y0!r},{x1!r},{y1!r})"
        for rid, (k, x0, y0, x1, y1) in enumerate(DISSOLVE2_RECTS)
    )
    return f"(VALUES {rows}) AS {name}(rid, key, x0, y0, x1, y1)"


# -clean gap-fill fixture [upstream -clean's second half: small enclosed
# gaps between polygons are dissolved into the neighbor with the LONGEST
# shared border; gaps above gap-fill-area stay]. Per-key frames of
# STRICTLY overlapping bars (dissolve2-style general position: no two
# features share a coordinate line, no edge tangency — the union fold
# stays on the exact unperturbed kernel path) enclosing one uncovered
# gap each. Every gap is a SINGLE elementary cell of the rect
# decomposition's coordinate-compressed grid (verified: no feature line
# falls strictly inside any gap) — the SQL oracle relies on that.
#   'a' unique winner: an L-shaped feature (id 2) borders the 1.5x5.5
#       gap on TWO sides (blen 7.0 vs 5.5 / 1.5) -> filled into id 2.
#   'b' preserved: the 4.25x4.25 gap (18.0625) exceeds gap_fill_area=10.
#   'c' exact tie: all four bars border the 2x2 gap with blen 2.0
#       (power-of-two crossing solves keep the lengths bit-exact) ->
#       deterministic min-feature-id winner (id 7).
#   'd' composition: overlaps (including a triple overlap with the L)
#       resolve min-id FIRST, then the gap fills into the L (id 13).
# Features are vertex RINGS (the L is one simple ring); GAPFILL_RECTS
# is the oracle's rect decomposition keyed by the same global ids.
GAP_FILL_AREA = 10.0

GAPFILL_FEATURES = [
    ("a", [(0.0, 0.0), (4.0, 0.0), (4.0, 1.0), (0.0, 1.0)]),
    ("a", [(0.25, 0.25), (1.25, 0.25), (1.25, 8.25), (0.25, 8.25)]),
    ("a", [(2.75, 0.5), (3.75, 0.5), (3.75, 7.5), (0.75, 7.5),
           (0.75, 6.5), (2.75, 6.5)]),
    ("b", [(0.0, -0.5), (1.0, -0.5), (1.0, 7.5), (0.0, 7.5)]),
    ("b", [(5.25, -0.75), (6.25, -0.75), (6.25, 7.25), (5.25, 7.25)]),
    ("b", [(-0.5, 0.5), (7.5, 0.5), (7.5, 1.5), (-0.5, 1.5)]),
    ("b", [(-0.25, 5.75), (7.75, 5.75), (7.75, 6.75), (-0.25, 6.75)]),
    ("c", [(0.0, -0.5), (1.0, -0.5), (1.0, 7.5), (0.0, 7.5)]),
    ("c", [(3.0, -0.25), (4.0, -0.25), (4.0, 7.75), (3.0, 7.75)]),
    ("c", [(-0.5, 0.25), (4.5, 0.25), (4.5, 1.25), (-0.5, 1.25)]),
    ("c", [(-0.75, 3.25), (4.75, 3.25), (4.75, 4.25), (-0.75, 4.25)]),
    ("d", [(12.0, 0.0), (16.0, 0.0), (16.0, 1.0), (12.0, 1.0)]),
    ("d", [(12.25, 0.25), (13.25, 0.25), (13.25, 8.25), (12.25, 8.25)]),
    ("d", [(14.75, 0.5), (15.75, 0.5), (15.75, 7.5), (12.75, 7.5),
           (12.75, 6.5), (14.75, 6.5)]),
    ("d", [(15.0, -0.25), (16.5, -0.25), (16.5, 0.75), (15.0, 0.75)]),
]

# rect decomposition (global feature id, key, x0, y0, x1, y1); the two
# L-features decompose into a full-height strip + a top block
GAPFILL_RECTS = [
    (0, "a", 0.0, 0.0, 4.0, 1.0),
    (1, "a", 0.25, 0.25, 1.25, 8.25),
    (2, "a", 2.75, 0.5, 3.75, 7.5),
    (2, "a", 0.75, 6.5, 2.75, 7.5),
    (3, "b", 0.0, -0.5, 1.0, 7.5),
    (4, "b", 5.25, -0.75, 6.25, 7.25),
    (5, "b", -0.5, 0.5, 7.5, 1.5),
    (6, "b", -0.25, 5.75, 7.75, 6.75),
    (7, "c", 0.0, -0.5, 1.0, 7.5),
    (8, "c", 3.0, -0.25, 4.0, 7.75),
    (9, "c", -0.5, 0.25, 4.5, 1.25),
    (10, "c", -0.75, 3.25, 4.75, 4.25),
    (11, "d", 12.0, 0.0, 16.0, 1.0),
    (12, "d", 12.25, 0.25, 13.25, 8.25),
    (13, "d", 14.75, 0.5, 15.75, 7.5),
    (13, "d", 12.75, 6.5, 14.75, 7.5),
    (14, "d", 15.0, -0.25, 16.5, 0.75),
]


def gapfill_pdf(dx: float = 0.0, dy: float = 0.0):
    import pandas as pd

    rows = []
    for fid, (key, ring) in enumerate(GAPFILL_FEATURES):
        rows.append(
            {
                "feature_id": fid,
                "key": key,
                "xs": [p[0] + dx for p in ring],
                "ys": [p[1] + dy for p in ring],
            }
        )
    return pd.DataFrame(rows, columns=["feature_id", "key", "xs", "ys"])


def gapfill_rects_with_ids_sql(name: str = "r") -> str:
    rows = ",".join(
        f"({rid},'{k}',{x0!r},{y0!r},{x1!r},{y1!r})"
        for rid, k, x0, y0, x1, y1 in GAPFILL_RECTS
    )
    return f"(VALUES {rows}) AS {name}(rid, key, x0, y0, x1, y1)"


# -buffer fixture: point groups buffered by radius 1.25 diamonds (k=4)
# and union-merged. Dyadic coordinates keep every GH crossing solve
# exact; in the 45°-rotated frame (u = x+y, v = x-y) each diamond is
# the axis-aligned square [u±r]x[v±r] with DOUBLE the xy area, so the
# oracle is an exact elementary-cell union over the rotated rects
# divided by 2. 'a' single, 'b' overlapping pair (one merged ring),
# 'c' four buffers ringing an enclosed HOLE (2 rings), 'd' disjoint
# pair (2 rings).
BUFFER_RADIUS = 1.25

BUFFER_POINTS = [
    ("a", 10.0, 0.0),
    ("b", 20.0, 0.0),
    ("b", 21.5, 0.0),
    ("c", 30.0, 0.0),
    ("c", 32.0, 0.0),
    ("c", 32.0, 2.0),
    ("c", 30.0, 2.0),
    ("d", 40.0, 0.0),
    ("d", 45.0, 0.0),
]

BUFFER_RING_GOLDENS = [("a", 1), ("b", 1), ("c", 2), ("d", 2)]


def buffer_points_pdf():
    import pandas as pd

    return pd.DataFrame(
        [
            {"feature_id": i, "key": k, "x": px, "y": py}
            for i, (k, px, py) in enumerate(BUFFER_POINTS)
        ],
        columns=["feature_id", "key", "x", "y"],
    )


def buffer_points_values_sql(name: str = "p") -> str:
    rows = ",".join(f"('{k}',{px!r},{py!r})" for k, px, py in BUFFER_POINTS)
    return f"(VALUES {rows}) AS {name}(key, px, py)"


def buffer_ring_goldens_sql(name: str = "g") -> str:
    rows = ",".join(f"('{k}',{n})" for k, n in BUFFER_RING_GOLDENS)
    return f"(VALUES {rows}) AS {name}(key, n_rings)"


# -buffer polyline fixture: axis-aligned paths buffered by square-cap
# segment quads (radius 0.5) and union-merged — on axis-aligned layers
# the quad union IS the Minkowski sum with an oriented square, so the
# oracle is the exact elementary-cell union of per-segment rectangles
# [min-r, max+r] per axis. Connected segments' caps overlap in
# coincident collinear runs, so the union takes the robust perturbed
# path: areas carry ~1e-8 deterministic residue -> both sides round at
# 6dp. 'a' L-path, 'b' straight segment, 'c' an almost-closed square
# whose caps bridge the 0.75 gap -> the buffer encloses a HOLE.
BUFFER_LINE_RADIUS = 0.5

BUFFER_LINES = [
    ("a", [(0.0, 0.0), (4.0, 0.0), (4.0, 3.0)]),
    ("b", [(10.0, 0.0), (15.0, 0.0)]),
    ("c", [(20.0, 0.0), (24.0, 0.0), (24.0, 4.0), (20.0, 4.0), (20.0, 0.75)]),
]

BUFFER_LINE_RING_GOLDENS = [("a", 1), ("b", 1), ("c", 2)]


def buffer_lines_pdf():
    import pandas as pd

    return pd.DataFrame(
        [
            {
                "feature_id": i,
                "key": k,
                "xs": [p[0] for p in path],
                "ys": [p[1] for p in path],
            }
            for i, (k, path) in enumerate(BUFFER_LINES)
        ],
        columns=["feature_id", "key", "xs", "ys"],
    )


def buffer_line_segments_values_sql(name: str = "s") -> str:
    rows = ",".join(
        f"('{k}',{x1!r},{y1!r},{x2!r},{y2!r})"
        for k, path in BUFFER_LINES
        for (x1, y1), (x2, y2) in zip(path[:-1], path[1:])
    )
    return f"(VALUES {rows}) AS {name}(key, sx1, sy1, sx2, sy2)"


def buffer_line_ring_goldens_sql(name: str = "g") -> str:
    rows = ",".join(f"('{k}',{n})" for k, n in BUFFER_LINE_RING_GOLDENS)
    return f"(VALUES {rows}) AS {name}(key, n_rings)"


# -buffer polygon fixture: rectilinear polygons buffered by radius 0.5
# with square joins/caps. Spark side = union(ring, per-edge square-cap
# quads) which on axis-aligned layers IS the Minkowski sum with an
# oriented square; each polygon also carries a DISJOINT rectangle
# decomposition, and Minkowski distributes over union, so the oracle is
# the exact elementary-cell union of the EXPANDED rectangles. 'a'
# rectangle, 'b' L-shape, 'c' two rectangles 0.75 apart (buffers merge
# to one ring), 'd' a frame whose cavity connects to the outside
# through a 0.75-wide channel — the buffer seals the channel and the
# cavity becomes an enclosed HOLE (2 rings).
BUFFER_POLY_RADIUS = 0.5

BUFFER_POLYS = [
    ("a", [(0.0, 0.0), (4.0, 0.0), (4.0, 3.0), (0.0, 3.0)]),
    ("b", [(10.0, 0.0), (14.0, 0.0), (14.0, 1.0), (11.0, 1.0), (11.0, 4.0), (10.0, 4.0)]),
    ("c", [(20.0, 0.0), (22.0, 0.0), (22.0, 3.0), (20.0, 3.0)]),
    ("c", [(22.75, 0.0), (24.75, 0.0), (24.75, 3.0), (22.75, 3.0)]),
    (
        "d",
        [
            (30.0, 0.0),
            (34.0, 0.0),
            (34.0, 4.0),
            (30.0, 4.0),
            (30.0, 2.375),
            (31.0, 2.375),
            (31.0, 3.0),
            (33.0, 3.0),
            (33.0, 1.0),
            (31.0, 1.0),
            (31.0, 1.625),
            (30.0, 1.625),
        ],
    ),
]

# disjoint per-key rectangle decompositions (union == the polygons)
BUFFER_POLY_RECTS = [
    ("a", 0.0, 0.0, 4.0, 3.0),
    ("b", 10.0, 0.0, 14.0, 1.0),
    ("b", 10.0, 1.0, 11.0, 4.0),
    ("c", 20.0, 0.0, 22.0, 3.0),
    ("c", 22.75, 0.0, 24.75, 3.0),
    ("d", 30.0, 0.0, 34.0, 1.0),
    ("d", 33.0, 1.0, 34.0, 3.0),
    ("d", 30.0, 3.0, 34.0, 4.0),
    ("d", 30.0, 2.375, 31.0, 3.0),
    ("d", 30.0, 1.0, 31.0, 1.625),
]

BUFFER_POLY_RING_GOLDENS = [("a", 1), ("b", 1), ("c", 1), ("d", 2)]


def buffer_polys_pdf():
    import pandas as pd

    return pd.DataFrame(
        [
            {
                "feature_id": i,
                "key": k,
                "xs": [p[0] for p in ring],
                "ys": [p[1] for p in ring],
            }
            for i, (k, ring) in enumerate(BUFFER_POLYS)
        ],
        columns=["feature_id", "key", "xs", "ys"],
    )


def buffer_poly_rects_values_sql(name: str = "r") -> str:
    rows = ",".join(
        f"('{k}',{x0!r},{y0!r},{x1!r},{y1!r})" for k, x0, y0, x1, y1 in BUFFER_POLY_RECTS
    )
    return f"(VALUES {rows}) AS {name}(key, rx0, ry0, rx1, ry1)"


def buffer_poly_ring_goldens_sql(name: str = "g") -> str:
    rows = ",".join(f"('{k}',{n})" for k, n in BUFFER_POLY_RING_GOLDENS)
    return f"(VALUES {rows}) AS {name}(key, n_rings)"


# -inlay layer: boxes carved out of the holed targets (coords distinct
# from every holed-feature edge coordinate — general position)
INLAY_BOXES = [
    (-165.0, -75.0, -145.0, -55.0),  # straddles the donut body + hole
    (75.0, -65.0, 95.0, -45.0),      # across the ell's corner + hole
    (-25.0, 65.0, -5.0, 80.0),       # across two comb teeth
]


def inlay_boxes_values_sql(name: str = "ib") -> str:
    rows = ",".join(
        f"({x0!r},{y0!r},{x1!r},{y1!r})" for x0, y0, x1, y1 in INLAY_BOXES
    )
    return f"(VALUES {rows}) AS {name}(x0, y0, x1, y1)"


# convex clip windows that straddle feature bodies AND hole boundaries
CLIP_WINDOWS = [
    {"poly_id": 0, "x0": -175.5, "y0": -75.5, "x1": -145.5, "y1": -45.5},
    {"poly_id": 1, "x0": 70.5, "y0": -60.5, "x1": 90.5, "y1": -30.5},
    {"poly_id": 2, "x0": 140.5, "y0": 58.5, "x1": 172.5, "y1": 70.5},
    {"poly_id": 3, "x0": -45.5, "y0": 62.5, "x1": -15.5, "y1": 80.5},
]


def holed_rect_decomp_values_sql(name: str = "d") -> str:
    rows = ",".join(
        f"({p},{x0!r},{y0!r},{x1!r},{y1!r},{s})"
        for p, x0, y0, x1, y1, s in HOLED_RECT_DECOMP
    )
    return f"(VALUES {rows}) AS {name}(pid, x0, y0, x1, y1, sgn)"


def clip_windows_values_sql(name: str = "w") -> str:
    rows = ",".join(
        f"({b['poly_id']},{b['x0']!r},{b['y0']!r},{b['x1']!r},{b['y1']!r})"
        for b in CLIP_WINDOWS
    )
    return f"(VALUES {rows}) AS {name}(wid, wx0, wy0, wx1, wy1)"


def multiring_rings(feats: list[dict] | None = None) -> dict[int, list[np.ndarray]]:
    """poly_id → list of ring arrays, for the kernel closure path."""
    feats = feats if feats is not None else HOLED_FEATURES
    return {f["poly_id"]: [np.asarray(r) for r in f["rings"]] for f in feats}


# -join interpolate fixture: axis-aligned box layers. Source boxes are
# 16 x 8 (area 128 = 2^7) on integer coords; targets sit on .5 offsets.
# Interval-overlap areas are then multiples of 0.25, every term
# val * a_int / a_src is an EXACT double (no rounding), and the weighted
# sum is order-independent — so the engine's Sutherland-Hodgman pieces
# and the oracle's pure interval algebra agree bit-for-bit.
INTERP_SRC_BOXES = [
    {
        "poly_id": i,
        "x0": -40.0 + 16.0 * (i % 4),
        "y0": -20.0 + 8.0 * (i // 4),
        "x1": -40.0 + 16.0 * (i % 4) + 16.0,
        "y1": -20.0 + 8.0 * (i // 4) + 8.0,
        "val": 100 + 13 * i,
    }
    for i in range(12)
]

INTERP_TGT_BOXES = [
    {
        "poly_id": t,
        "x0": -38.5 + 11.0 * t,
        "y0": -19.5 + 4.0 * t,
        "x1": -38.5 + 11.0 * t + 20.0,
        "y1": -19.5 + 4.0 * t + 10.0,
    }
    for t in range(6)
]


def _box_ring(b: dict) -> list[tuple[float, float]]:
    return [(b["x0"], b["y0"]), (b["x1"], b["y0"]), (b["x1"], b["y1"]), (b["x0"], b["y1"])]


def interp_boxes_pdf(boxes: list[dict], with_val: bool):
    import pandas as pd

    d = {
        "poly_id": [b["poly_id"] for b in boxes],
        "xs": [[p[0] for p in _box_ring(b)] for b in boxes],
        "ys": [[p[1] for p in _box_ring(b)] for b in boxes],
    }
    if with_val:
        d["val"] = [b["val"] for b in boxes]
    return pd.DataFrame(d)


def interp_boxes_values_sql(boxes: list[dict], name: str, with_val: bool) -> str:
    cols = "poly_id, x0, y0, x1, y1" + (", val" if with_val else "")
    rows = ",".join(
        f"({b['poly_id']},{b['x0']!r},{b['y0']!r},{b['x1']!r},{b['y1']!r}"
        + (f",{b['val']}" if with_val else "")
        + ")"
        for b in boxes
    )
    return f"(VALUES {rows}) AS {name}({cols})"


# horizontal cross-lines spanning the lon domain at polygon-band
# latitudes — the -clip-on-lines fixture (guaranteed intersections)
CROSS_LINES = [
    {
        "arc_id": 100 + j,
        "xs": [float(x) for x in range(-180, 181, 2)],
        "ys": [float(y)] * 181,
    }
    for j, y in enumerate((-50.0, -15.0, 20.0, 55.0))
]


# -divide fixture: axis-aligned polylines divided by DISJOINT dyadic
# rectangles. Exactness contract (what lets the oracle hash-match):
# every segment span is a POWER OF TWO, rect edges and vertices are
# dyadic, and no vertex lies on a rect boundary — so each Cyrus–Beck
# crossing parameter t = (edge - ax)/dx is an exact power-of-two
# divide, crossing coordinates land exactly on the rect edge, and all
# piece lengths are dyadic (sums exact in any order). Each segment
# overlaps at most ONE rect (the oracle's outside-interval count
# formula depends on it).
DIVIDE_RECTS = [
    {"poly_id": 0, "x0": 2.0, "y0": 0.0, "x1": 6.0, "y1": 8.0},
    {"poly_id": 1, "x0": 8.0, "y0": 0.0, "x1": 12.0, "y1": 5.0},
    {"poly_id": 2, "x0": 2.0, "y0": 10.0, "x1": 10.0, "y1": 14.0},
    {"poly_id": 3, "x0": 14.0, "y0": 2.0, "x1": 18.0, "y1": 12.0},
]

DIVIDE_LINES = [
    # horizontal run through rects 0, 1, 3
    {
        "arc_id": 0,
        "xs": [0.0, 1.0, 3.0, 5.0, 7.0, 9.0, 11.0, 13.0, 15.0, 17.0, 19.0, 20.0],
        "ys": [3.0] * 12,
    },
    # vertical run through rects 0 and 2
    {"arc_id": 1, "xs": [4.0] * 9, "ys": [-1.0, 1.0, 3.0, 5.0, 7.0, 9.0, 11.0, 13.0, 15.0]},
    # staircase through rects 1 and 3 (multi-segment inside pieces)
    {
        "arc_id": 2,
        "xs": [7.5, 9.5, 9.5, 13.5, 13.5, 15.5, 15.5, 15.5],
        "ys": [1.0, 1.0, 3.0, 3.0, 7.0, 7.0, 11.0, 13.0],
    },
    # entirely outside every rect (bbox-candidate-free arc)
    {"arc_id": 3, "xs": [0.0, 1.0, 3.0, 5.0, 9.0, 13.0], "ys": [9.0] * 6},
    # entirely inside rect 2 (no outside row)
    {"arc_id": 4, "xs": [3.0, 5.0, 5.0, 9.0], "ys": [11.0, 11.0, 13.0, 13.0]},
]


def divide_rects_values_sql(name: str = "dr0") -> str:
    rows = ",".join(
        f"({b['poly_id']},{b['x0']!r},{b['y0']!r},{b['x1']!r},{b['y1']!r})"
        for b in DIVIDE_RECTS
    )
    return f"(VALUES {rows}) AS {name}(poly_id, rx0, ry0, rx1, ry1)"


def divide_segments_values_sql(name: str = "ds0") -> str:
    """(arc_id, seg_i, x1, y1, x2, y2) VALUES relation of line segments."""
    rows = []
    for a in DIVIDE_LINES:
        xs, ys = a["xs"], a["ys"]
        for i in range(len(xs) - 1):
            rows.append(
                f"({a['arc_id']},{i},{xs[i]!r},{ys[i]!r},{xs[i + 1]!r},{ys[i + 1]!r})"
            )
    return f"(VALUES {','.join(rows)}) AS {name}(arc_id, seg_i, x1, y1, x2, y2)"


def divide_verts_values_sql(name: str = "dv0") -> str:
    """(arc_id, vx, vy) VALUES relation of INTERNAL vertices — the
    oracle's piece-merge counters (a piece continues across a shared
    vertex iff that vertex is strictly inside the same region)."""
    rows = []
    for a in DIVIDE_LINES:
        xs, ys = a["xs"], a["ys"]
        for i in range(1, len(xs) - 1):
            rows.append(f"({a['arc_id']},{xs[i]!r},{ys[i]!r})")
    return f"(VALUES {','.join(rows)}) AS {name}(arc_id, vx, vy)"


# ------------------------------------------------------------- polylines ---


def _make_polylines(n_arcs: int = 6) -> list[dict]:
    """Deterministic noisy polylines (random-walk, 4-decimal coords) for
    the simplify kernels — mapshaper's test arcs are small hand fixtures;
    ours are seeded walks so threshold goldens are reproducible."""
    rng = np.random.Generator(np.random.PCG64(SEED + 7))
    arcs = []
    for aid in range(n_arcs):
        n = 40 + 25 * aid
        xs = np.round(np.cumsum(rng.uniform(0.05, 1.0, n)) + aid * 150.0, 4)
        ys = np.round(np.cumsum(rng.uniform(-1.0, 1.0, n)), 4)
        arcs.append({"arc_id": aid, "xs": xs.tolist(), "ys": ys.tolist()})
    return arcs


POLYLINES = _make_polylines()


def polyline_thresholds(method: str):
    """Driver-side golden thresholds for POLYLINES (same numpy kernels the
    executors run — used to build oracle literals and pytest goldens)."""
    from . import geometry

    kern = {
        "visvalingam": geometry.visvalingam_thresholds,
        "weighted": geometry.visvalingam_weighted_thresholds,
        "visvalingam_lonlat": geometry.visvalingam_thresholds_lonlat,
        "dp": geometry.dp_thresholds,
    }[method]
    out = []
    for a in POLYLINES:
        thr = np.minimum(
            kern(np.asarray(a["xs"]), np.asarray(a["ys"])), 1e308
        )
        out.append({"arc_id": a["arc_id"], "thr": thr.tolist()})
    return out


# two arcs that never cross until simplification collapses the first
# one's peak — the post-simplify repair fixture (tri areas 6 and 9, so
# level t=7 separates them)
REPAIR_ARCS = [
    {"arc_id": 0, "xs": [0.0, 5.0, 10.0], "ys": [0.0, 1.2, 0.0]},
    {"arc_id": 1, "xs": [0.0, 5.0, 10.0], "ys": [-1.0, 0.8, -1.0]},
]
REPAIR_T = 7.0


def repair_simplified_segments_sql(name: str = "sg") -> str:
    """Golden simplified segments of REPAIR_ARCS at REPAIR_T (driver-side
    kernel run → VALUES literals), for the crossing-detection oracle."""
    from . import geometry

    rows = []
    for a in REPAIR_ARCS:
        thr = geometry.visvalingam_thresholds(
            np.asarray(a["xs"]), np.asarray(a["ys"])
        )
        kept = [
            (x, y)
            for x, y, tv in zip(a["xs"], a["ys"], thr)
            if tv >= REPAIR_T
        ]
        for i in range(len(kept) - 1):
            x1, y1 = kept[i]
            x2, y2 = kept[i + 1]
            rows.append(f"({a['arc_id']},{i},{x1!r},{y1!r},{x2!r},{y2!r})")
    return f"(VALUES {','.join(rows)}) AS {name}(arc_id, seg_idx, x1, y1, x2, y2)"


def double_literal(t: float) -> str:
    """repr(t) forced to lex as a DOUBLE in both DuckDB and Spark SQL:
    append 'e0' unless the repr already carries an exponent (appending to
    '3.2e-05' would produce the unparseable '3.2e-05e0')."""
    r = repr(float(t))
    return r if "e" in r else r + "e0"


def polyline_thr_values_sql(method: str) -> str:
    """(arc_id, thr) VALUES relation of the golden thresholds — repr()
    round-trips doubles exactly, so DuckDB parses bit-identical values."""
    rows = []
    for a in polyline_thresholds(method):
        for t in a["thr"]:
            rows.append(f"({a['arc_id']},{double_literal(t)})")
    return f"(VALUES {','.join(rows)}) AS thrv(arc_id, thr)"


def polyline_median_threshold(method: str) -> float:
    """Median finite threshold — the fixture 'simplify level' literal."""
    vals = []
    for a in polyline_thresholds(method):
        vals.extend(t for t in a["thr"] if t < 1e308)
    return float(np.median(vals))


# ---------------------------------------------------------------- images ---

_NOUNS = ["harbor", "meadow", "skyline", "canyon", "market", "temple", "bridge", "forest"]
IMG_SIZES = [16, 32, 64]


def make_caption(i: int) -> str:
    return f"synthetic caption {i} {_NOUNS[i % len(_NOUNS)]}"


def make_image(i: int) -> dict:
    """Deterministic image row i — the single source of truth for pixels,
    caption, and phash; tests and Spark generators both call this."""
    rng = np.random.Generator(np.random.PCG64(SEED + i * 1_000_003))
    w = IMG_SIZES[i % 3]
    h = IMG_SIZES[(i // 3) % 3]
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    return {
        "image_id": f"img{i:09d}",
        "bytes": px.tobytes(),
        "w": w,
        "h": h,
        "fmt": "raw",
        "caption": make_caption(i),
        "phash": int(ahash64(px, w, h)),
    }


N_VIDEOS = 12
VIDEO_FRAMES = 6


def _video_frame_index(v: int, j: int) -> int:
    # stride 9 keeps both size classes constant → all frames 16x16
    return 9 * (v * VIDEO_FRAMES + j)


def make_video(v: int) -> dict:
    """Deterministic fake video v: VIDEO_FRAMES raw RGB frames (each a
    make_image raster of identical size) concatenated — the multimodal
    frame-sample container [task brief]."""
    frames = [make_image(_video_frame_index(v, j)) for j in range(VIDEO_FRAMES)]
    return {
        "video_id": f"vid{v:05d}",
        "bytes": b"".join(f["bytes"] for f in frames),
        "w": frames[0]["w"],
        "h": frames[0]["h"],
        "fmt": "raw",
        "frame_phashes": [f["phash"] for f in frames],
    }


def videos_pdf(n: int = N_VIDEOS):
    import pandas as pd

    vids = [make_video(v) for v in range(n)]
    return pd.DataFrame(
        {
            k: [v[k] for v in vids]
            for k in ("video_id", "bytes", "w", "h", "fmt")
        }
    )


def video_frame_golden_sql(every_k: int, name: str = "vf") -> str:
    """(video_id, frame_idx, frame_phash) VALUES of the sampled frames —
    driver-side goldens the executor recompute must match."""
    rows = []
    for v in range(N_VIDEOS):
        vid = make_video(v)
        for j in range(0, VIDEO_FRAMES, every_k):
            rows.append(f"('{vid['video_id']}',{j},{vid['frame_phashes'][j]})")
    return f"(VALUES {','.join(rows)}) AS {name}(video_id, frame_idx, frame_phash)"


N_AUDIOS = 8
AUDIO_WINDOWS = 4
AUDIO_FRAME = 1024


def make_audio(a: int) -> dict:
    """Deterministic fake audio clip a: AUDIO_WINDOWS·AUDIO_FRAME raw
    little-endian PCM16 samples."""
    rng = np.random.Generator(np.random.PCG64(SEED + 77_003 * (a + 1)))
    samples = rng.integers(-32768, 32768, size=AUDIO_WINDOWS * AUDIO_FRAME, dtype=np.int16)
    return {"audio_id": f"aud{a:05d}", "bytes": samples.astype("<i2").tobytes(), "fmt": "pcm16"}


def audios_pdf(n: int = N_AUDIOS):
    import pandas as pd

    auds = [make_audio(a) for a in range(n)]
    return pd.DataFrame({k: [x[k] for x in auds] for k in ("audio_id", "bytes", "fmt")})


def audio_feature_golden_sql(name: str = "af") -> str:
    """(audio_id, window_idx, rms, zero_crossings) golden VALUES —
    driver-side recompute of the exact window features (power-of-two
    frame → exact mean division; IEEE sqrt is correctly rounded, so the
    doubles hash bit-identically)."""
    rows = []
    for a in range(N_AUDIOS):
        aud = make_audio(a)
        samples = np.frombuffer(aud["bytes"], dtype="<i2")
        for wi in range(AUDIO_WINDOWS):
            w = samples[wi * AUDIO_FRAME : (wi + 1) * AUDIO_FRAME].astype(np.int64)
            rms = float(np.sqrt(float((w * w).sum()) / AUDIO_FRAME))
            zc = int(((w[:-1] < 0) != (w[1:] < 0)).sum())
            # 'e0' suffix forces DOUBLE lexing: bare literals become
            # DECIMAL (lossy column-scale unification) and DuckDB's
            # DECIMAL→DOUBLE cast DOUBLE-ROUNDS (measured: ...318 → ...32)
            suffix = "" if "e" in repr(rms) else "e0"
            rows.append(f"('{aud['audio_id']}',{wi},{rms!r}{suffix},{zc})")
    return f"(VALUES {','.join(rows)}) AS {name}(audio_id, window_idx, rms, zero_crossings)"


def ahash64(px: np.ndarray, w: int, h: int) -> np.int64:
    """64-bit average-hash of one (h, w, 3) uint8 image: the n = 1 case
    of :func:`ahash64_many`."""
    return ahash64_many(px.reshape(1, h, w, 3))[0]


def ahash64_many(px: np.ndarray) -> np.ndarray:
    """64-bit average-hashes of n same-size images ``px`` (n, h, w, 3)
    uint8, over an 8x8 grayscale downsample — exact integer arithmetic
    so recomputation matches bit-for-bit. The block sums of the 3x
    luminance proxy (R + G + B) are a row-band sum then a column-band
    sum over the interleaved channels (uint32, then uint64): no per-pixel
    channel reduction, no multi-axis sum (2,000 64x64 images: 14 ms
    against 40 ms for uint32 channel adds first)."""
    n, h, w, _ = px.shape
    bh, bw = h // 8, w // 8
    rows = px[:, : bh * 8, : bw * 8].reshape(n, 8, bh, bw * 24).sum(axis=2, dtype=np.uint32)
    blocks = rows.reshape(n, 8, 8, bw * 3).sum(axis=3, dtype=np.uint64).reshape(n, 64)
    # compare block means without division: block_sum * 64 vs total_sum
    bits = blocks * 64 > blocks.sum(axis=1)[:, None]
    # 64 bits, first bit most significant, read as one big-endian word
    return np.packbits(bits, axis=1, bitorder="big").view(">u8")[:, 0].astype(np.int64)


def image_lonlat(i: int) -> tuple[float, float]:
    """Same skewed placement rule as the SQL point derivation."""
    if i % 5 == 0:
        hx, hy = HOTSPOTS[(i % 15) // 5]
        return hx + (i * 31 % 100) / 1000.0, hy + (i * 17 % 100) / 1000.0
    return -180.0 + (i * 9973 % 36000) / 100.0, -85.0 + (i * 7919 % 17000) / 100.0


def images_df(spark, n: int = 10_000, partitions: int = 32):
    """Synthetic images table as a Spark DataFrame, generated
    distributively (mapInPandas over spark.range — no driver-side
    materialization, scales to any n)."""
    from pyspark.sql import functions as F

    schema = (
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long, lon double, lat double"
    )

    def gen(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["id"].tolist():
                r = make_image(i)
                r["lon"], r["lat"] = image_lonlat(i)
                rows.append(r)
            yield pd.DataFrame(rows)

    return (
        spark.range(0, n, 1, partitions)
        .mapInPandas(gen, schema=schema)
        .withColumn("w", F.col("w").cast("int"))
        .withColumn("h", F.col("h").cast("int"))
    )


# ------------------------------------------------------------ -stitch ---

# Antimeridian-split polygon pieces for -stitch [UPSTREAM
# mapshaper-stitch.mjs — joins polygons split at lon ±180, as produced
# by clipping a projected world layer at the antimeridian]. Exact
# integer coordinates keep every shoelace term IEEE-exact, so the
# area/vertex aggregates hash-match DuckDB. Construction invariants the
# oracle leans on (documented in operators/stitch.py):
#   * a seam edge is a vertical edge with both endpoints at x == +180
#     or both at x == -180;
#   * every seam-touched piece is rotated so its CLOSING edge
#     (last vertex -> first vertex) is a seam edge — non-seam edge runs
#     never wrap past the end of the vertex list, which keeps the
#     oracle's prefix-count run ids exact;
#   * within one feature, every junction y appears on exactly one path
#     END and one path START (consistent ring orientation guarantees
#     this for real split data; the kernel raises loudly otherwise).
STITCH_PIECES = [
    # f0: one rectangle split at the seam (west 10x10 + east 10x10).
    {"feature_id": 0, "piece_id": 0,
     "xs": [180.0, 170.0, 170.0, 180.0], "ys": [10.0, 10.0, 0.0, 0.0]},
    {"feature_id": 0, "piece_id": 1,
     "xs": [-180.0, -170.0, -170.0, -180.0], "ys": [0.0, 0.0, 10.0, 10.0]},
    # f1: untouched feature far from the seam (CCW outer + CW hole) —
    # must pass through bitwise.
    {"feature_id": 1, "piece_id": 0,
     "xs": [10.0, 20.0, 20.0, 10.0], "ys": [10.0, 10.0, 20.0, 20.0]},
    {"feature_id": 1, "piece_id": 1,
     "xs": [12.0, 12.0, 18.0, 18.0], "ys": [12.0, 18.0, 18.0, 12.0]},
    # f2: two separate lobes, each split at the seam (4 pieces -> 2
    # stitched rings).
    {"feature_id": 2, "piece_id": 0,
     "xs": [180.0, 170.0, 170.0, 180.0], "ys": [10.0, 10.0, 0.0, 0.0]},
    {"feature_id": 2, "piece_id": 1,
     "xs": [-180.0, -170.0, -170.0, -180.0], "ys": [0.0, 0.0, 10.0, 10.0]},
    {"feature_id": 2, "piece_id": 2,
     "xs": [180.0, 175.0, 175.0, 180.0], "ys": [30.0, 30.0, 20.0, 20.0]},
    {"feature_id": 2, "piece_id": 3,
     "xs": [-180.0, -176.0, -176.0, -180.0], "ys": [20.0, 20.0, 30.0, 30.0]},
    # f3: H-shaped west piece with TWO seam intervals + two east
    # rectangles (3 pieces, 4 seam edges -> ONE stitched ring; the
    # chain alternates sides twice).
    {"feature_id": 3, "piece_id": 0,
     "xs": [180.0, 174.0, 174.0, 180.0, 180.0, 176.0, 176.0, 180.0],
     "ys": [30.0, 30.0, 0.0, 0.0, 10.0, 10.0, 20.0, 20.0]},
    {"feature_id": 3, "piece_id": 1,
     "xs": [-180.0, -174.0, -174.0, -180.0], "ys": [0.0, 0.0, 10.0, 10.0]},
    {"feature_id": 3, "piece_id": 2,
     "xs": [-180.0, -174.0, -174.0, -180.0], "ys": [20.0, 20.0, 30.0, 30.0]},
    # f4: seam-crossing outer ring AND a seam-crossing CW hole (4
    # pieces -> 2 stitched rings, the hole staying negative-area).
    {"feature_id": 4, "piece_id": 0,
     "xs": [180.0, 168.0, 168.0, 180.0], "ys": [15.0, 15.0, -5.0, -5.0]},
    {"feature_id": 4, "piece_id": 1,
     "xs": [-180.0, -168.0, -168.0, -180.0], "ys": [-5.0, -5.0, 15.0, 15.0]},
    {"feature_id": 4, "piece_id": 2,
     "xs": [180.0, 176.0, 176.0, 180.0], "ys": [2.0, 2.0, 8.0, 8.0]},
    {"feature_id": 4, "piece_id": 3,
     "xs": [-180.0, -176.0, -176.0, -180.0], "ys": [8.0, 8.0, 2.0, 2.0]},
]


def stitch_vertices_values_sql(name: str = "sv0") -> str:
    """(fid, pid, vi, x, y) VALUES relation of the stitch fixture —
    the oracle re-derives seam edges, path runs and the path-cycle
    components from the raw vertices."""
    rows = []
    for p in STITCH_PIECES:
        for i, (x, y) in enumerate(zip(p["xs"], p["ys"])):
            rows.append(f"({p['feature_id']},{p['piece_id']},{i},{x!r},{y!r})")
    return f"(VALUES {','.join(rows)}) AS {name}(fid, pid, vi, x, y)"


# Antimeridian-split POLYLINE pieces for -stitch's line half. A cut
# line sheds no edges — pieces just end/start on the seam — so the
# oracle is pure counting: links = directed end→start junction matches,
# lines = pieces − links, vertices = Σ − links (each join dedupes the
# shared cut vertex). Integer coords, axis-aligned spans plus one 3-4-5
# diagonal keep every length IEEE-exact.
STITCH_LINE_PIECES = [
    # f0: one horizontal line cut once (len 10 + 6).
    {"feature_id": 0, "piece_id": 0, "xs": [170.0, 180.0], "ys": [1.0, 1.0]},
    {"feature_id": 0, "piece_id": 1, "xs": [-180.0, -174.0], "ys": [1.0, 1.0]},
    # f1: untouched polyline (3-4-5 diagonal + vertical) — passthrough.
    {"feature_id": 1, "piece_id": 0,
     "xs": [10.0, 13.0, 13.0], "ys": [0.0, 4.0, 8.0]},
    # f2: double crossing — west, a U in the east, back west (2 links).
    {"feature_id": 2, "piece_id": 0, "xs": [176.0, 180.0], "ys": [2.0, 2.0]},
    {"feature_id": 2, "piece_id": 1,
     "xs": [-180.0, -176.0, -176.0, -180.0], "ys": [2.0, 2.0, 6.0, 6.0]},
    {"feature_id": 2, "piece_id": 2, "xs": [180.0, 172.0], "ys": [6.0, 6.0]},
    # f3: one joined pair PLUS a line whose seam endpoint has no
    # partner — a legitimate terminal, not an error.
    {"feature_id": 3, "piece_id": 0, "xs": [178.0, 180.0], "ys": [10.0, 10.0]},
    {"feature_id": 3, "piece_id": 1, "xs": [-180.0, -179.0], "ys": [10.0, 10.0]},
    {"feature_id": 3, "piece_id": 2, "xs": [176.0, 180.0], "ys": [20.0, 20.0]},
]


def stitch_line_vertices_values_sql(name: str = "sl0") -> str:
    """(fid, pid, vi, x, y) VALUES relation of the polyline stitch
    fixture."""
    rows = []
    for p in STITCH_LINE_PIECES:
        for i, (x, y) in enumerate(zip(p["xs"], p["ys"])):
            rows.append(f"({p['feature_id']},{p['piece_id']},{i},{x!r},{y!r})")
    return f"(VALUES {','.join(rows)}) AS {name}(fid, pid, vi, x, y)"
