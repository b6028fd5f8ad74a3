#!/usr/bin/env python
"""Extended randomized hunt over the tiled ring emitters.

The checked-in hypothesis sweeps (tests/test_properties.py) run 8
examples per emitter as the per-commit gate; this script is the
budget-scaled hunt the r3->r4 rounds used to surface silent-wrong
kernel classes (multi-component mis-trace, denormal crossings,
orientation-offset overshoot). It samples random box layers across
regimes the fixtures never hit — mixed scales, offset-heavy
coordinates (catastrophic-cancellation class), many-box clusters —
and checks every emitter's stitched-geometry measure against the
exact interval-algebra decomposition.

Layers with coincident edge lines are re-dealt (the emitters raise
LOUDLY on eps-sliver faces by contract; the area-form sweeps cover
coincidence). Any failure prints a repro literal to pin in
tests/test_properties.py.

Three modes run per invocation: random BOX layers (interval-algebra
oracle, all three emitters), concave STAR layers (global-fold oracle —
arbitrary-angle cell-line crossings), and MIXED box+star layers (r5:
cell-line-parallel box edges and rotated star edges share the same
per-cell-line pairing groups; global-fold oracle, all three emitters
incl. clean via the min-id face assignment).

Usage: python scripts/emitter_hunt.py [n_layers] [seed]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from mapshaper_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402
from mapshaper_spark.operators import overlay as overlay_op  # noqa: E402


def interval_algebra(boxes):
    xs = sorted({v for x, y, s in boxes for v in (x, x + s)})
    ys = sorted({v for x, y, s in boxes for v in (y, y + s)})
    sig_area = {}
    for x0, x1 in zip(xs, xs[1:]):
        for y0, y1 in zip(ys, ys[1:]):
            cx, cy = (x0 + x1) / 2.0, (y0 + y1) / 2.0
            members = frozenset(
                i
                for i, (bx, by, s) in enumerate(boxes)
                if bx < cx < bx + s and by < cy < by + s
            )
            if members:
                sig_area[members] = sig_area.get(members, 0.0) + (x1 - x0) * (
                    y1 - y0
                )
    return sig_area


def sample_layer(rng: np.random.RandomState):
    """Random box layer: varied counts, scales, and coordinate offsets;
    distinct edge lines guaranteed by re-draw."""
    regime = rng.randint(4)
    n = rng.randint(2, 11)
    scale = 10.0 ** rng.uniform(-1, 3) if regime == 1 else 1.0
    off = rng.choice([0.0, 2.0e6, -5.0e5]) if regime == 2 else 0.0
    for _ in range(50):
        boxes = []
        for _i in range(n):
            x = rng.uniform(-8, 8) * scale + off
            y = rng.uniform(-8, 8) * scale + off
            s = rng.uniform(0.7, 5.0) * scale
            boxes.append((float(x), float(y), float(s)))
        ok = True
        for vals in (
            sorted(v for x, y, s in boxes for v in (x, x + s)),
            sorted(v for x, y, s in boxes for v in (y, y + s)),
        ):
            span = max(vals[-1] - vals[0], 1e-12)
            if any(b - a <= 1e-4 * span for a, b in zip(vals, vals[1:])):
                ok = False
                break
        if ok:
            return boxes
    return boxes  # pragma: no cover — 50 re-draws never all collide


def main() -> None:
    n_layers = int(sys.argv[1]) if len(sys.argv) > 1 else 40
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 20260818
    rng = np.random.RandomState(seed)
    spark = get_spark("emitter_hunt", cpus=DEFAULT_CPUS, shuffle_partitions=8)
    fails = 0
    for li in range(n_layers):
        boxes = sample_layer(rng)
        want = interval_algebra(boxes)
        total = max(sum(want.values()), 1e-12)
        floor = 1e-6 * total
        pdf = pd.DataFrame(
            [
                {
                    "feature_id": i,
                    "key": "h",
                    "xs": [x, x + s, x + s, x],
                    "ys": [y, y, y + s, y + s],
                }
                for i, (x, y, s) in enumerate(boxes)
            ]
        )
        feats = spark.createDataFrame(
            pdf,
            schema="feature_id int, key string, xs array<double>, ys array<double>",
        )
        errs = []
        try:
            got_u = sum(
                r["area"]
                for r in overlay_op.dissolve2_rings_tiled(
                    feats, res=2, max_rep_cells=2
                ).collect()
            )
            if abs(got_u - total) > max(1e-5 * total, floor):
                errs.append(f"dissolve2 {got_u!r} want {total!r}")
            raw = {}
            for r in overlay_op.mosaic_face_rings_tiled(
                feats, res=2, max_rep_cells=2
            ).collect():
                k = frozenset(int(v) for v in r["members_csv"].split(","))
                raw[k] = raw.get(k, 0.0) + r["area"]
            gsig = {k: a for k, a in raw.items() if a > floor}
            wsig = {k: a for k, a in want.items() if a > floor}
            if set(gsig) != set(wsig) or any(
                abs(gsig[k] - wsig[k]) > max(1e-5 * wsig[k], floor) for k in wsig
            ):
                errs.append("faces signature/area mismatch")
            rawc = {}
            for r in overlay_op.clean_rings_tiled(
                feats, res=2, max_rep_cells=2
            ).collect():
                rawc[int(r["feature_id"])] = rawc.get(int(r["feature_id"]), 0.0) + r["area"]
            wantc = {}
            for m, a in want.items():
                wantc[min(m)] = wantc.get(min(m), 0.0) + a
            gc = {k: a for k, a in rawc.items() if a > floor}
            wc = {k: a for k, a in wantc.items() if a > floor}
            if set(gc) != set(wc) or any(
                abs(gc[k] - wc[k]) > max(1e-5 * wc[k], floor) for k in wc
            ):
                errs.append("clean assignment/area mismatch")
        except Exception as e:  # loud raises are findings too
            errs.append(f"RAISED {type(e).__name__}: {e}")
        if errs:
            fails += 1
            print(f"FAIL layer {li}: boxes={boxes!r}")
            for e in errs:
                print(f"   {e}")
        else:
            print(f"ok layer {li} ({len(boxes)} boxes)")
    print(f"\n{n_layers - fails}/{n_layers} layers clean")
    fails += star_hunt(max(n_layers // 2, 10), seed + 1)
    fails += mixed_hunt(max(n_layers // 2, 10), seed + 2)
    fails += buffer_hunt(max(n_layers // 2, 10), seed + 3)
    sys.exit(1 if fails else 0)


def buffer_hunt(n_layers: int, seed: int) -> int:
    """Buffer-merge mode [late r5]: random rectilinear polylines run
    the REAL scale-path composition — buffer_polylines (codegen quad
    math) → dissolve2_tiled (distributed area form) — and the per-key
    union areas are checked against the exact Minkowski
    rectangle-union elementary-cell oracle (square caps on
    axis-aligned segments make every quad an exact rectangle).
    Connected caps, duplicate revisits, and collinear runs on a
    0.25-dyadic lattice make every layer coincidence-HEAVY: the tiled
    folds take their robust perturbed paths (including the A-SPREAD
    tier) in the area-canonical domain the adjacency contract pins."""
    from pyspark.sql import functions as F

    from mapshaper_spark.operators import overlay as ov
    from mapshaper_spark.operators import points as points_op

    spark = get_spark("emitter_hunt", cpus=DEFAULT_CPUS, shuffle_partitions=8)
    fails = 0
    for li in range(n_layers):
        rng = np.random.RandomState(seed + li)
        radius = float(rng.choice([0.25, 0.5]))
        rows = []
        rects: dict[str, list] = {}
        for fid in range(rng.randint(1, 5)):
            key = "ab"[rng.randint(0, 2)]
            x, y = float(rng.randint(0, 9)), float(rng.randint(0, 9))
            xs, ys = [x], [y]
            for _ in range(rng.randint(1, 6)):
                d = float(rng.choice([-3, -2, -1, 1, 2, 3]))
                if rng.randint(0, 2):
                    x += d
                else:
                    y += d
                xs.append(x)
                ys.append(y)
            rows.append(
                {"feature_id": fid, "key": key, "xs": xs, "ys": ys}
            )
            for (x1, y1, x2, y2) in zip(xs, ys, xs[1:], ys[1:]):
                rects.setdefault(key, []).append(
                    (
                        min(x1, x2) - radius,
                        max(x1, x2) + radius,
                        min(y1, y2) - radius,
                        max(y1, y2) + radius,
                    )
                )
        want = {}
        for key, rs in rects.items():
            ex = sorted({v for r in rs for v in (r[0], r[1])})
            ey = sorted({v for r in rs for v in (r[2], r[3])})
            tot = 0.0
            for x0, x1 in zip(ex, ex[1:]):
                for y0, y1 in zip(ey, ey[1:]):
                    cx, cy = (x0 + x1) / 2.0, (y0 + y1) / 2.0
                    if any(
                        r[0] < cx < r[1] and r[2] < cy < r[3] for r in rs
                    ):
                        tot += (x1 - x0) * (y1 - y0)
            want[key] = tot
        lines = spark.createDataFrame(
            pd.DataFrame(rows),
            schema="feature_id int, key string, xs array<double>, ys array<double>",
        )
        quads = points_op.buffer_polylines(lines, radius).select(
            (F.col("feature_id") * 100 + F.col("sseq")).alias("feature_id"),
            "key",
            "xs",
            "ys",
        )
        errs = []
        try:
            got = {
                r["key"]: r["area"]
                for r in ov.dissolve2_tiled(quads, res=2).collect()
            }
            for key, w in want.items():
                g = got.get(key, 0.0)
                if abs(g - w) > max(1e-5 * w, 1e-9):
                    errs.append(f"key {key}: got {g!r} want {w!r}")
        except Exception as e:  # loud raises are findings too
            errs.append(f"RAISED {type(e).__name__}: {str(e)[:200]}")
        if errs:
            fails += 1
            print(f"FAIL buffer layer {li} (seed {seed + li}): rows={rows!r}")
            for e in errs:
                print(f"   {e}")
        else:
            print(
                f"ok buffer layer {li} ({len(rows)} lines, r={radius})"
            )
    print(f"\nbuffer: {n_layers - fails}/{n_layers} layers clean")
    return fails



def _star(n, r1, r2, cx, cy, rot):
    ang = np.linspace(0.0, 2.0 * np.pi, 2 * n, endpoint=False) + rot
    r = np.where(np.arange(2 * n) % 2 == 0, r1, r2)
    return np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])


def _densify(ring: np.ndarray) -> np.ndarray:
    """Insert the exact midpoint ((a+b)/2 per coordinate — within half
    an ulp of the segment, NOT exactly on it) into every edge: the
    collinear-vertex shape of real simplified data, and a
    near-incidence stress at every inserted vertex."""
    nxt = np.roll(ring, -1, axis=0)
    mid = 0.5 * (ring + nxt)
    out = np.empty((2 * len(ring), 2))
    out[0::2] = ring
    out[1::2] = mid
    return out


def _global_faces(by_fid):
    from mapshaper_spark import geometry as G

    faces, processed = [], []
    for fid in sorted(by_fid):
        ring = by_fid[fid]
        nf = []
        for fr, ids in faces:
            inter, diff = G.gh_split_rings_robust(fr, [ring])
            if inter:
                nf.append((inter, ids | {fid}))
            if diff:
                nf.append((diff, ids))
        rem = [ring]
        for prev in processed:
            _, rem = G.gh_split_rings_robust(rem, prev)
            if not rem:
                break
        if rem:
            nf.append((rem, frozenset({fid})))
        faces = nf
        processed.append([ring])
    return faces


def _ring_stats(rings):
    from mapshaper_spark import geometry as G

    areas = sorted(G.shoelace_area_local(r[:, 0], r[:, 1]) for r in rings)
    per = sum(
        G.path_length(np.append(r[:, 0], r[0, 0]), np.append(r[:, 1], r[0, 1]))
        for r in rings
    )
    return len(rings), areas, per


def _check_layer_vs_global(
    spark, by_fid, measure_only: bool = False, check_perimeter: bool = True
) -> list:
    """Run all THREE tiled emitters on one layer and compare against
    the GLOBAL folds: dissolve2 rings vs ``union_many`` (ring count,
    sorted signed areas, perimeter), mosaic face rings vs
    :func:`_global_faces` (signatures + per-face ring stats), and
    clean vs the min-id face assignment derived from the same global
    faces (per-feature area sums). Returns the error list.

    ``measure_only`` relaxes the structural checks to MEASURE checks
    (total signed area + total perimeter per key/signature, signatures
    floor-filtered): at an exact pinch point the ring decomposition is
    NON-CANONICAL — one ring through the touch point twice, two rings
    touching there, and outer+eps-hole all describe the same point
    set, and the tiled vs global folds perturb with different content
    hashes so they legitimately land on different representations
    (touch-mode repro: areas/perimeters agree to ~1e-10 rel while ring
    counts differ). ``check_perimeter=False`` additionally drops the
    perimeter comparison for layers with coincident EDGE RUNS: the
    boundary representation of a shared-run union is non-canonical —
    the global fold may keep a zero-area slit (both sides of the
    shared edge traced; perimeter = clean + 2×run length) while the
    tiled emitter collapses the run to the clean joined boundary
    (adjacency-mode repro: tiled perimeter matches the EXACT clean
    value to 5e-9 while the global fold's slit adds 2×shared-run) —
    AREA is the canonical invariant there."""
    from mapshaper_spark import geometry as G

    pdf = pd.DataFrame(
        [
            {
                "feature_id": i,
                "key": "h",
                "xs": list(r[:, 0]),
                "ys": list(r[:, 1]),
            }
            for i, r in by_fid.items()
        ]
    )
    feats = spark.createDataFrame(
        pdf,
        schema="feature_id int, key string, xs array<double>, ys array<double>",
    )
    errs = []
    want_u = G.union_many(list(by_fid.values()))
    got_u = []
    for r in overlay_op.dissolve2_rings_tiled(
        feats, res=2, max_rep_cells=2
    ).collect():
        got_u.append(
            np.column_stack([np.asarray(r["xs"]), np.asarray(r["ys"])])
        )
    gn, ga, gp = _ring_stats(got_u)
    wn, wa, wp = _ring_stats(want_u)
    tot = max(abs(sum(wa)), 1.0)
    if measure_only:
        perim_bad = check_perimeter and abs(gp - wp) > 1e-6 * max(wp, 1.0)
        if abs(sum(ga) - sum(wa)) > 1e-6 * tot or perim_bad:
            errs.append(
                f"dissolve2 measure {sum(ga)!r}/{gp!r}"
                f" vs {sum(wa)!r}/{wp!r}"
            )
    elif gn != wn or any(
        abs(a - b) > 1e-6 * tot for a, b in zip(ga, wa)
    ) or abs(gp - wp) > 1e-6 * max(wp, 1.0):
        errs.append(f"dissolve2 rings {gn} vs {wn} / areas or perimeter")
    global_faces = _global_faces(by_fid)
    want_f = {
        ",".join(str(i) for i in sorted(ids)): fr
        for fr, ids in global_faces
    }
    got_f = {}
    for r in overlay_op.mosaic_face_rings_tiled(
        feats, res=2, max_rep_cells=2
    ).collect():
        got_f.setdefault(r["members_csv"], []).append(
            np.column_stack([np.asarray(r["xs"]), np.asarray(r["ys"])])
        )
    if measure_only:
        from mapshaper_spark import geometry as G2

        floor = 1e-6 * tot
        ga_f = {
            k: sum(G2.shoelace_area_local(r[:, 0], r[:, 1]) for r in v)
            for k, v in got_f.items()
        }
        wa_f = {
            k: sum(G2.shoelace_area_local(r[:, 0], r[:, 1]) for r in v)
            for k, v in want_f.items()
        }
        gsig = {k: a for k, a in ga_f.items() if a > floor}
        wsig = {k: a for k, a in wa_f.items() if a > floor}
        if set(gsig) != set(wsig) or any(
            abs(gsig[k] - wsig[k]) > max(1e-5 * wsig[k], floor) for k in wsig
        ):
            errs.append(f"faces measure {gsig} vs {wsig}")
    elif set(got_f) != set(want_f):
        errs.append(
            f"faces signatures {sorted(got_f)} vs {sorted(want_f)}"
        )
    else:
        for k in want_f:
            gn, ga, gp = _ring_stats(got_f[k])
            wn, wa, wp = _ring_stats(want_f[k])
            if gn != wn or any(
                abs(a - b) > 1e-6 * tot for a, b in zip(ga, wa)
            ) or abs(gp - wp) > 1e-6 * max(wp, 1.0):
                errs.append(f"face {k}: {gn} vs {wn} rings")
    # clean = min-id face assignment; compare per-feature area sums
    # against the same global faces the mosaic check used
    wantc = {}
    for fr, ids in global_faces:
        fa = sum(G.shoelace_area_local(r[:, 0], r[:, 1]) for r in fr)
        k = min(ids)
        wantc[k] = wantc.get(k, 0.0) + fa
    gotc = {}
    for r in overlay_op.clean_rings_tiled(
        feats, res=2, max_rep_cells=2
    ).collect():
        fid = int(r["feature_id"])
        gotc[fid] = gotc.get(fid, 0.0) + r["area"]
    floor = 1e-6 * tot
    gc = {k: a for k, a in gotc.items() if a > floor}
    wc = {k: a for k, a in wantc.items() if a > floor}
    if set(gc) != set(wc) or any(
        abs(gc[k] - wc[k]) > max(1e-5 * wc[k], floor) for k in wc
    ):
        errs.append(f"clean assignment {gc} vs {wc}")
    return errs


def star_hunt(n_layers: int, seed: int) -> int:
    """Concave-layer mode: diagonal edges cross cell lines at arbitrary
    angles (boxes only cross axis-parallel — a special case for the
    sorted-adjacency pairing). Ground truth = the GLOBAL folds; the
    tiled emitters must reproduce ring count, sorted signed areas, and
    total perimeter per key / signature."""
    rng = np.random.RandomState(seed)
    spark = get_spark("emitter_hunt", cpus=DEFAULT_CPUS, shuffle_partitions=8)
    fails = 0
    for li in range(n_layers):
        nf = rng.randint(2, 6)
        off = float(rng.choice([0.0, 2.0e6]))
        by_fid = {}
        for i in range(nf):
            by_fid[i] = _star(
                rng.randint(3, 8),
                rng.uniform(2.0, 6.0),
                rng.uniform(0.8, 1.9),
                rng.uniform(-6, 6) + off,
                rng.uniform(-6, 6) + off,
                rng.uniform(0.01, 3.0),
            )
        try:
            errs = _check_layer_vs_global(spark, by_fid)
        except Exception as e:
            errs = [f"RAISED {type(e).__name__}: {e}"]
        if errs:
            fails += 1
            print(f"FAIL star layer {li} (seed {seed}):")
            print(f"   regenerate: nf={nf} off={off}")
            for e in errs:
                print(f"   {e[:400]}")
        else:
            print(f"ok star layer {li} ({nf} stars, off {off})")
    print(f"\nstars: {n_layers - fails}/{n_layers} layers clean")
    return fails


def mixed_hunt(n_layers: int, seed: int) -> int:
    """Mixed-layer mode: axis-aligned boxes AND rotated concave stars
    in ONE layer. Box edges run exactly cell-line-PARALLEL while star
    edges cross the same cell lines at arbitrary angles, so a single
    per-cell-line sorted-adjacency pairing group sees endpoints from
    both the parallel special case and the general case — a regime
    neither single-shape mode exercises. Ground truth = the global
    folds via :func:`_check_layer_vs_global` (all three emitters,
    clean included)."""
    rng = np.random.RandomState(seed)
    spark = get_spark("emitter_hunt", cpus=DEFAULT_CPUS, shuffle_partitions=8)
    fails = 0
    for li in range(n_layers):
        nf = rng.randint(3, 7)
        off = float(rng.choice([0.0, 2.0e6]))
        # regime 1: per-feature SCALE SPREAD — tiny stars beside huge
        # boxes in one layer (the grid tolerance is layer-extent-
        # scaled; heterogeneous feature sizes probe whether a small
        # feature's crossings stay resolvable against it).
        # regime 2: TWO FAR-APART CLUSTERS — most grid cells empty,
        # features replicate near cluster bboxes only.
        # regime 3: DENSIFIED edges — every edge subdivided at exact
        # midpoints (half-ulp off the segment: near-incidence stress
        # at every collinear vertex; the shape of real simplified
        # data).
        regime = rng.randint(4)
        by_fid = {}
        n_box = 0
        for i in range(nf):
            sc = 10.0 ** rng.uniform(-1.5, 1.0) if regime == 1 else 1.0
            cx = rng.uniform(-7, 7)
            cy = rng.uniform(-7, 7)
            if regime == 2 and i % 2 == 1:
                cx += 400.0
                cy += 400.0
            if rng.rand() < 0.5 or (i == nf - 1 and n_box == 0):
                # axis-aligned box (full-precision uniforms: exact
                # edge-line coincidence has measure zero; the loud
                # sub-tolerance sliver contract needs gaps ~1e-45)
                w = rng.uniform(1.0, 6.0) * sc
                h = rng.uniform(1.0, 6.0) * sc
                x, y = cx + off, cy + off
                by_fid[i] = np.array(
                    [[x, y], [x + w, y], [x + w, y + h], [x, y + h]]
                )
                n_box += 1
            else:
                by_fid[i] = _star(
                    rng.randint(3, 8),
                    rng.uniform(2.0, 6.0) * sc,
                    rng.uniform(0.8, 1.9) * sc,
                    cx + off,
                    cy + off,
                    rng.uniform(0.01, 3.0),
                )
        if regime == 3:
            by_fid = {i: _densify(r) for i, r in by_fid.items()}
        try:
            errs = _check_layer_vs_global(spark, by_fid)
        except Exception as e:
            errs = [f"RAISED {type(e).__name__}: {e}"]
        if errs:
            fails += 1
            print(f"FAIL mixed layer {li} (seed {seed}):")
            print(f"   regenerate: nf={nf} off={off} n_box={n_box}"
                  f" regime={regime}")
            for e in errs:
                print(f"   {e[:400]}")
        else:
            print(
                f"ok mixed layer {li} ({n_box} boxes + {nf - n_box} stars,"
                f" off {off}, regime {regime})"
            )
    print(f"\nmixed: {n_layers - fails}/{n_layers} layers clean")
    return fails


def touch_hunt(n_layers: int, seed: int) -> int:
    """Coincidence mode: a star pair sharing an EXACT vertex (ring B
    translated so one vertex is bitwise equal to a vertex of A), or
    with a vertex of B on an edge MIDPOINT of A (within half an ulp of
    the segment — the NEAR-incidence regime the r4 trigger fix
    targets). These route through the robust perturb retry inside the
    per-cell folds AND the global oracle folds; the tiled emitters
    must either agree with the global MEASURE or raise LOUDLY (the
    sliver contract — counted separately, not a failure). A silent
    measure divergence is the finding. Checks run measure_only: at a
    pinch point the ring decomposition is non-canonical (see
    :func:`_check_layer_vs_global`), so structural ring counts are
    not comparable — total area/perimeter per key and floor-filtered
    per-signature areas are."""
    rng = np.random.RandomState(seed)
    spark = get_spark("emitter_hunt", cpus=DEFAULT_CPUS, shuffle_partitions=8)
    fails = raises = 0
    for li in range(n_layers):
        off = float(rng.choice([0.0, 2.0e6]))
        a = _star(
            rng.randint(3, 8),
            rng.uniform(2.5, 5.0),
            rng.uniform(1.0, 1.9),
            off,
            off,
            rng.uniform(0.01, 3.0),
        )
        b = _star(
            rng.randint(3, 8),
            rng.uniform(2.5, 5.0),
            rng.uniform(1.0, 1.9),
            0.0,
            0.0,
            rng.uniform(0.01, 3.0),
        )
        kind = rng.randint(2)
        ia = rng.randint(len(a))
        if kind == 0:  # exact vertex-on-vertex
            target = a[ia]
        else:  # vertex on an edge midpoint of A (half-ulp incidence)
            target = 0.5 * (a[ia] + a[(ia + 1) % len(a)])
        ib = rng.randint(len(b))
        # (b - b[ib]) zeroes vertex ib exactly; + target lands it
        # bitwise on the target point
        b = b - b[ib] + target
        by_fid = {0: a, 1: b}
        if rng.rand() < 0.4:  # a third, generic star keeps faces rich
            by_fid[2] = _star(
                rng.randint(3, 8),
                rng.uniform(2.0, 4.0),
                rng.uniform(0.8, 1.7),
                rng.uniform(-4, 4) + off,
                rng.uniform(-4, 4) + off,
                rng.uniform(0.01, 3.0),
            )
        try:
            errs = _check_layer_vs_global(spark, by_fid, measure_only=True)
        except Exception as e:
            raises += 1
            print(
                f"raise touch layer {li} (kind {kind}):"
                f" {type(e).__name__}: {str(e)[:160]}"
            )
            continue
        if errs:
            fails += 1
            print(f"FAIL touch layer {li} (seed {seed}, kind {kind}):")
            for e in errs:
                print(f"   {e[:400]}")
        else:
            print(
                f"ok touch layer {li} (kind {kind},"
                f" n={len(by_fid)}, off {off})"
            )
    print(
        f"\ntouch: {n_layers - fails - raises}/{n_layers} layers clean,"
        f" {raises} loud raises, {fails} FAILURES"
    )
    return fails


def adjacency_hunt(n_layers: int, seed: int) -> int:
    """Shared-border mode: features ADJACENT along an exact collinear
    edge run — the admin-boundary coverage shape. Boxes share a
    partial run of an edge LINE (B's left edge sits bitwise on A's
    right edge line with a different y-extent — interiors disjoint,
    union measure = exact area sum); stars share a FULL edge (B is A
    reflected across one edge's LINE, both endpoint pairs bitwise
    equal — a concave star usually straddles that line, so A and B
    also overlap away from the shared edge; the oracle is the global
    fold either way). The emitters' contract on coincident runs is
    clean-or-LOUD: a loud raise (the unstitchable-sliver contract)
    counts separately; the finding would be a SILENT measure
    divergence."""
    rng = np.random.RandomState(seed)
    spark = get_spark("emitter_hunt", cpus=DEFAULT_CPUS, shuffle_partitions=8)
    fails = raises = 0
    for li in range(n_layers):
        off = float(rng.choice([0.0, 2.0e6]))
        kind = rng.randint(2)
        if kind == 0:  # boxes sharing a partial vertical edge run
            x0 = rng.uniform(-5, 0) + off
            y0 = rng.uniform(-5, 0) + off
            w, h = rng.uniform(2, 5), rng.uniform(2, 5)
            x1 = x0 + w  # B's left edge sits EXACTLY on this line
            yb = y0 + rng.uniform(-0.5, 0.5) * h
            wb, hb = rng.uniform(2, 5), rng.uniform(2, 5)
            by_fid = {
                0: np.array(
                    [[x0, y0], [x1, y0], [x1, y0 + h], [x0, y0 + h]]
                ),
                1: np.array(
                    [[x1, yb], [x1 + wb, yb], [x1 + wb, yb + hb], [x1, yb + hb]]
                ),
            }
        else:  # star + its reflection across one edge (full shared
            # edge, both endpoint pairs bitwise equal)
            a = _star(
                rng.randint(3, 7),
                rng.uniform(2.5, 5.0),
                rng.uniform(1.2, 2.0),
                off,
                off,
                rng.uniform(0.01, 3.0),
            )
            k = rng.randint(len(a))
            p, q = a[k], a[(k + 1) % len(a)]
            d = q - p
            nrm = d / np.hypot(*d)
            # reflect every vertex of A across the p→q line; the
            # shared edge's endpoints reflect onto themselves only
            # approximately, so pin them bitwise afterwards
            rel = a - p
            along = rel @ nrm
            refl = p + np.outer(along, nrm) * 2 - rel
            b = refl[::-1].copy()  # reverse to keep CCW orientation
            # pin the shared endpoints bitwise
            for bi in range(len(b)):
                for src in (p, q):
                    if np.allclose(b[bi], src, atol=1e-9):
                        b[bi] = src
            by_fid = {0: a, 1: b}
        try:
            errs = _check_layer_vs_global(
                spark, by_fid, measure_only=True, check_perimeter=False
            )
        except Exception as e:
            raises += 1
            print(
                f"raise adj layer {li} (kind {kind}):"
                f" {type(e).__name__}: {str(e)[:160]}"
            )
            continue
        if errs:
            fails += 1
            print(f"FAIL adj layer {li} (seed {seed}, kind {kind}):")
            for e in errs:
                print(f"   {e[:400]}")
        else:
            print(f"ok adj layer {li} (kind {kind}, off {off})")
    print(
        f"\nadjacency: {n_layers - fails - raises}/{n_layers} layers clean,"
        f" {raises} loud raises, {fails} FAILURES"
    )
    return fails


if __name__ == "__main__":
    main()
