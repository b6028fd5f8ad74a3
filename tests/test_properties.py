"""Property-based kernel tests (hypothesis): randomized polygon pairs
must satisfy the boolean-algebra identities the oracle fixtures pin
pointwise. Random float coordinates put inputs in general position
with probability 1, so these sweep a far larger input space than the
hand-written cases — any violated identity is a real kernel bug, not a
tolerance artifact.

Invariants per (A, B) pair and ops (∩, \\, ∪):
  area(A∩B) + area(A\\B) == area(A)
  area(A∩B) + area(A∪B) == area(A) + area(B)
  0 <= area(A∩B) <= min(area(A), area(B))
  single-ring gh_clip == multi-ring gh_clip_rings on the same pair
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import (
    HealthCheck,
    assume,
    example,
    given,
    settings,
    strategies as st,
)

from mapshaper_spark import geometry as G


def _star(n, r1, r2, cx, cy, rot):
    ang = np.linspace(0.0, 2.0 * np.pi, 2 * n, endpoint=False) + rot
    r = np.where(np.arange(2 * n) % 2 == 0, r1, r2)
    ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return ring


def _area(rings):
    return sum(G.shoelace_area(r[:, 0], r[:, 1]) for r in rings)


_pair = st.tuples(
    st.integers(min_value=3, max_value=9),     # star points A
    st.integers(min_value=3, max_value=9),     # star points B
    st.floats(min_value=2.0, max_value=10.0),  # outer radius A
    st.floats(min_value=0.5, max_value=1.9),   # inner radius A
    st.floats(min_value=2.0, max_value=10.0),  # outer radius B
    st.floats(min_value=0.5, max_value=1.9),   # inner radius B
    st.floats(min_value=-6.0, max_value=6.0),  # B center x
    st.floats(min_value=-6.0, max_value=6.0),  # B center y
    st.floats(min_value=0.01, max_value=3.0),  # B rotation
)


@settings(max_examples=40, deadline=None)
@given(_pair)
def test_gh_boolean_identities_random_stars(p):
    na, nb, ra1, ra2, rb1, rb2, bx, by, rot = p
    a = _star(na, ra1, ra2, 0.0, 0.0, 0.017)
    b = _star(nb, rb1, rb2, bx, by, rot)
    area_a = G.shoelace_area(a[:, 0], a[:, 1])
    area_b = G.shoelace_area(b[:, 0], b[:, 1])
    inter = _area(G.gh_clip(a, b, "intersection"))
    diff = _area(G.gh_clip(a, b, "difference"))
    union = _area(G.gh_clip(a, b, "union"))
    scale = max(area_a, area_b)
    assert -1e-9 * scale <= inter <= min(area_a, area_b) + 1e-9 * scale
    assert inter + diff == pytest.approx(area_a, rel=1e-9, abs=1e-9 * scale)
    assert inter + union == pytest.approx(
        area_a + area_b, rel=1e-9, abs=1e-9 * scale
    )


@settings(max_examples=25, deadline=None)
@given(_pair)
def test_gh_single_ring_matches_ring_set(p):
    na, nb, ra1, ra2, rb1, rb2, bx, by, rot = p
    a = _star(na, ra1, ra2, 0.0, 0.0, 0.017)
    b = _star(nb, rb1, rb2, bx, by, rot)
    scale = max(
        G.shoelace_area(a[:, 0], a[:, 1]), G.shoelace_area(b[:, 0], b[:, 1])
    )
    for op in ("intersection", "difference", "union"):
        single = _area(G.gh_clip(a, b, op))
        rings = _area(G.gh_clip_rings([a], [b], op))
        assert single == pytest.approx(rings, rel=1e-9, abs=1e-9 * scale), op


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-8.0, max_value=8.0),
            st.floats(min_value=-8.0, max_value=8.0),
            st.floats(min_value=0.7, max_value=4.0),
        ),
        min_size=2,
        max_size=5,
    )
)
def test_union_many_upper_and_lower_bounds(boxes):
    """union_many over random axis-offset squares: the union area is
    bounded by max(single) and sum(all), and adding a box never shrinks
    the union (monotonicity)."""
    rings = [
        np.array([(x, y), (x + s, y), (x + s, y + s), (x, y + s)])
        for x, y, s in boxes
    ]
    # 1e-6 not 1e-9: duplicate/touching boxes route through the robust
    # wrapper's eps-perturb retry, which moves results by
    # O(eps * perimeter) ~ 1e-8 — documented contract, not a bug
    prev = 0.0
    for i in range(1, len(rings) + 1):
        u = _area(G.union_many(rings[:i]))
        singles = [_area([r]) for r in rings[:i]]
        tol = 1e-6 * max(1.0, sum(singles))
        assert max(singles) - tol <= u <= sum(singles) + tol
        assert u >= prev - tol
        prev = u


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=0, max_value=1023),
    st.integers(min_value=0, max_value=1023),
)
def test_morton_roundtrip_property(ix, iy):
    from mapshaper_spark import cells

    cid = int(cells.cell_id_from_xy_np(np.array([ix]), np.array([iy]), 10)[0])
    jx, jy, res = cells.cell_to_xy(cid)
    assert (jx, jy, res) == (ix, iy, 10)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-50.0, max_value=50.0),
            st.floats(min_value=-50.0, max_value=50.0),
        ),
        min_size=3,
        max_size=40,
    ),
    st.floats(min_value=0.0, max_value=100.0),
    st.floats(min_value=0.0, max_value=100.0),
)
def test_simplify_thresholds_nested_levels(pts, t1, t2):
    """Visvalingam and Douglas-Peucker threshold signatures: endpoints
    are always +inf (never removed), and the kept-vertex set at a
    higher threshold is a SUBSET of the set at a lower one — the
    multi-resolution `thr >= t` contract every simplify query filters
    by."""
    xs = np.array([p[0] for p in pts])
    ys = np.array([p[1] for p in pts])
    lo, hi = min(t1, t2), max(t1, t2)
    for fn in (G.visvalingam_thresholds, G.dp_thresholds):
        thr = fn(xs, ys)
        assert thr[0] == np.inf and thr[-1] == np.inf
        keep_lo = thr >= lo
        keep_hi = thr >= hi
        assert not np.any(keep_hi & ~keep_lo)  # nested levels


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=3, max_value=8),
    st.floats(min_value=1.0, max_value=8.0),
    st.floats(min_value=0.3, max_value=0.9),
    st.floats(min_value=-3.0, max_value=3.0),
    st.floats(min_value=-3.0, max_value=3.0),
    st.floats(min_value=0.5, max_value=6.0),
)
def test_clip_ring_bbox_bounds(n, r1, frac, bx, by, half):
    """Sutherland–Hodgman box clip: the clipped area is within
    [0, min(ring, box)], clipping by a box that contains the ring
    returns the EXACT ring, and clipping by a disjoint box returns
    empty."""
    ring = _star(n, r1, r1 * frac, 0.0, 0.0, 0.37)
    area_ring = G.shoelace_area(ring[:, 0], ring[:, 1])
    cx, cy = G.clip_ring_bbox(ring[:, 0], ring[:, 1], bx - half, by - half, bx + half, by + half)
    a = G.shoelace_area(cx, cy) if len(cx) >= 3 else 0.0
    box_area = (2 * half) * (2 * half)
    assert -1e-9 <= a <= min(area_ring, box_area) + 1e-9 * max(area_ring, 1.0)
    # containing box -> the same ring (possibly cyclically rotated, so
    # the shoelace SUM ORDER differs -> compare at 1e-12 rel, not ==)
    gx, gy = G.clip_ring_bbox(ring[:, 0], ring[:, 1], -100.0, -100.0, 100.0, 100.0)
    assert np.array_equal(np.sort(gx), np.sort(ring[:, 0]))
    assert G.shoelace_area(gx, gy) == pytest.approx(area_ring, rel=1e-12)
    # disjoint box -> empty
    dx, dy = G.clip_ring_bbox(ring[:, 0], ring[:, 1], 200.0, 200.0, 210.0, 210.0)
    assert len(dx) == 0 or G.shoelace_area(dx, dy) == 0.0


def _interval_algebra(boxes):
    """Exact covered-area reference for axis-aligned boxes: elementary-
    cell decomposition (the generalization of the hand-written mosaic
    oracles to arbitrary inputs). Returns {frozenset(member idx): area}
    over non-empty covering sets."""
    ex = sorted({v for x, y, s in boxes for v in (x, x + s)})
    ey = sorted({v for x, y, s in boxes for v in (y, y + s)})
    sig_area: dict[frozenset, float] = {}
    for x0, x1 in zip(ex, ex[1:]):
        for y0, y1 in zip(ey, ey[1:]):
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


_boxes = st.lists(
    st.tuples(
        st.floats(min_value=-8.0, max_value=8.0),
        st.floats(min_value=-8.0, max_value=8.0),
        st.floats(min_value=0.7, max_value=5.0),
    ),
    min_size=2,
    max_size=6,
)


@settings(max_examples=200, deadline=None)
@given(_boxes)
# r3 verdict counterexample [VERDICT r3 #1]: disjoint accumulator
# [A, B-with-perturbation-residue] meets C overlapping B while corner-
# touching A; the old fixed-direction eps*(1, phi) shift re-coincided
# C with B's residue exactly and the kernel silently dropped C
# (union=5.0, truth 7.0). Pinned with permutations (the bug was
# order-independent).
@example(boxes=[(0.0, 0.0, 1.0), (0.0, 1.0, 2.0), (1.0, 1.0, 2.0)])
@example(boxes=[(0.0, 1.0, 2.0), (0.0, 0.0, 1.0), (1.0, 1.0, 2.0)])
@example(boxes=[(1.0, 1.0, 2.0), (0.0, 1.0, 2.0), (0.0, 0.0, 1.0)])
# r5 sweep find [A-SPREAD tier, geometry._spread_shifts]: box1's top
# (y=0.0 exactly: -1.6625 + 1.6625) and box2's bottom (y subnormal
# 1.1e-308) enter the fold's accumulator 1e-308 apart via the strictly-
# disjoint concat; box3 then BRIDGES the gap — a coincidence INTERNAL
# to the subject set that no uniform clip-side shift can separate, so
# every b-shift attempt mis-traced and the fold raised after 5. The
# spread tier perturbs each subject ring by its own content-hash
# direction and resolves it to ~3e-11 rel.
@example(
    boxes=[
        (1.0, -1.6625, 1.6625),
        (0.0, 1.1125369292536007e-308, 3.0),
        (2.0, -0.5, 1.0),
    ]
)
def test_union_many_matches_interval_algebra(boxes):
    """union_many's measure equals the exact elementary-cell covered
    area for random box layers — an independent reference, not a
    kernel identity."""
    rings = [
        np.array([(x, y), (x + s, y), (x + s, y + s), (x, y + s)])
        for x, y, s in boxes
    ]
    want = sum(_interval_algebra(boxes).values())
    got = _area(G.union_many(rings))
    assert got == pytest.approx(want, rel=1e-6)


def _rect_polyline_segments(pls):
    """Materialize rectilinear polylines from (x0, y0, steps) walk
    specs into axis-aligned segments. Consecutive same-axis steps give
    exact collinear runs, and back-and-forth steps revisit a segment in
    the opposite direction — the connected-cap coincidence shapes."""
    segs = []
    for x0, y0, steps in pls:
        x, y = float(x0), float(y0)
        for horiz, d in steps:
            nx, ny = (x + d, y) if horiz else (x, y + d)
            segs.append((x, y, nx, ny))
            x, y = nx, ny
    return segs


def _quad_rings_exact(segs, radius, ext):
    """Numpy replication of points._segment_quads, bit-identical for
    AXIS-ALIGNED segments: ln is |dx| or |dy| exactly, dx/ln is +-1.0
    or +-0.0 exactly, so every vertex offset is the exact dyadic
    radius/ext — the sweep drives the same coordinates the Spark
    column math produces."""
    rings = []
    for sx1, sy1, sx2, sy2 in segs:
        dx, dy = sx2 - sx1, sy2 - sy1
        ln = np.sqrt(dx * dx + dy * dy)
        exn, eyn = dx / ln * ext, dy / ln * ext
        nxn, nyn = -dy / ln * radius, dx / ln * radius
        rings.append(
            np.array(
                [
                    (sx1 - exn + nxn, sy1 - eyn + nyn),
                    (sx1 - exn - nxn, sy1 - eyn - nyn),
                    (sx2 + exn - nxn, sy2 + eyn - nyn),
                    (sx2 + exn + nxn, sy2 + eyn + nyn),
                ]
            )
        )
    return rings


_rect_walks = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),
        st.integers(min_value=0, max_value=6),
        st.lists(
            st.tuples(
                st.booleans(),
                st.integers(min_value=-3, max_value=3).filter(lambda d: d != 0),
            ),
            min_size=1,
            max_size=4,
        ),
    ),
    min_size=1,
    max_size=3,
)


@settings(max_examples=200, deadline=None)
@given(pls=_rect_walks, radius=st.sampled_from([0.25, 0.5]))
def test_buffer_quad_union_matches_minkowski_rectangles(pls, radius):
    """-buffer scale-path stress [late r5]: square-cap segment quads of
    rectilinear polylines are exact Minkowski rectangles, so their
    union_many measure must equal the exact rectangle-union elementary-
    cell area. Connected, duplicated, and reverse-revisited segments
    make the layer coincidence-HEAVY (shared cap runs, exact duplicate
    quads, collinear overlaps on a 0.25-dyadic lattice — separations
    are 0 or >= 0.25, inside the sweeps' documented domain), driving
    the robust fold's perturbed paths including the A-SPREAD tier."""
    segs = _rect_polyline_segments(pls)
    rings = _quad_rings_exact(segs, radius, radius)
    rects = []
    for sx1, sy1, sx2, sy2 in segs:
        if sy1 == sy2:
            rects.append(
                (
                    min(sx1, sx2) - radius,
                    max(sx1, sx2) + radius,
                    sy1 - radius,
                    sy1 + radius,
                )
            )
        else:
            rects.append(
                (
                    sx1 - radius,
                    sx1 + radius,
                    min(sy1, sy2) - radius,
                    max(sy1, sy2) + radius,
                )
            )
    exs = sorted({v for x0, x1, _, _ in rects for v in (x0, x1)})
    eys = sorted({v for _, _, y0, y1 in rects for v in (y0, y1)})
    want = 0.0
    for x0, x1 in zip(exs, exs[1:]):
        for y0, y1 in zip(eys, eys[1:]):
            cx, cy = (x0 + x1) / 2.0, (y0 + y1) / 2.0
            if any(
                rx0 < cx < rx1 and ry0 < cy < ry1
                for rx0, rx1, ry0, ry1 in rects
            ):
                want += (x1 - x0) * (y1 - y0)
    got = _area(G.union_many(rings))
    assert got == pytest.approx(want, rel=1e-6)


def test_split_robust_disjoint_accumulator_bridge():
    """Deterministic regression for the r3 verdict repro: the subject
    set carries a prior fold's perturbation residue (A exact, B shifted
    by the OLD fixed eps*(1, phi) vector), and the incoming clip C
    overlaps B while corner-touching A. The old wrapper re-shifted C by
    the identical vector, making C exactly coincident with B again —
    split returned inter=4/diff=1 where truth is 2/3."""
    A = np.array([(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)])
    old_residue = np.array([2e-9, 2e-9 * (1.0 + 5.0**0.5) / 2.0])
    B = np.array([(0.0, 1.0), (2.0, 1.0), (2.0, 3.0), (0.0, 3.0)]) + old_residue
    C = np.array([(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0)])
    inter, diff = G.gh_split_rings_robust([A, B], [C])
    assert _area(inter) == pytest.approx(2.0, rel=1e-6)
    assert _area(diff) == pytest.approx(3.0, rel=1e-6)
    union = G.gh_clip_rings_robust([A, B], [C], "union")
    assert _area(union) == pytest.approx(7.0, rel=1e-6)


@settings(max_examples=30, deadline=None)
@given(_boxes)
@example(boxes=[(0.5, 0.5, 1.0), (0.5, 0.5, 1.0), (0.0, 0.0, 1.0)])
@example(boxes=[(0.5, -0.5, 1.0), (0.25, 0.0, 2.0), (0.0, 1.175494351e-38, 1.0)])
@example(boxes=[(0.0, 0.0, 1.0), (0.0, 0.0, 1.0)])
@example(boxes=[(0.0, 0.0, 0.75), (0.0, 0.5, 1.0)])
@example(boxes=[(0.0, 0.0, 1.0), (0.0, 1.0, 2.0), (1.0, 1.0, 2.0)])
# r4 sweep find: denormal-scale offsets (5e-324) are not EXACTLY
# incident, but every true crossing's parameter rounds to 1.0 and is
# rejected — caught by widening the incidence trigger to near-incidence
@example(boxes=[(-1.0, 5e-324, 1.25), (-1.175494351e-38, 0.5, 1.0), (0.0, 0.0, 1.0)])
@example(boxes=[(1.0, 0.0, 2.0), (1.0, 0.0, 0.75), (0.0, -1.0, 2.0)])
# r4 hunt class: offset-heavy coordinates (anchored robust wrappers +
# stabilized output areas — raw shoelace lost ~5 digits here)
@example(
    boxes=[
        (1999997.9430420464, 1999993.70471332, 2.8046050440074515),
        (2000004.1773626024, 2000005.3580586198, 4.75071844596936),
        (1999999.31, 1999996.07, 3.11),
    ]
)
def test_mosaic_faces_matches_interval_algebra(boxes):
    """Operator-level randomized check: mosaic_faces' per-signature
    areas equal the exact elementary-cell decomposition on random box
    layers — membership AND measure, not just totals (the session-
    scoped get_spark is a process singleton, so this reuses the test
    session)."""
    from mapshaper_spark.operators import overlay as overlay_op
    from mapshaper_spark.session import get_spark
    import pandas as pd

    spark = get_spark("mapshaper_spark_tests", shuffle_partitions=8)
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
        pdf, schema="feature_id int, key string, xs array<double>, ys array<double>"
    )
    raw = {}
    for r in overlay_op.mosaic_faces(feats).collect():
        k = frozenset(int(v) for v in r["members_csv"].split(","))
        raw[k] = raw.get(k, 0.0) + r["area"]
    want = _interval_algebra(boxes)
    # coincident inputs (duplicate boxes, shared edge runs) route
    # through the eps-perturb retry, which can leave O(eps)-area sliver
    # faces — drop them before comparing membership sets
    total = sum(want.values())
    got = {k: a for k, a in raw.items() if a > 1e-6 * max(total, 1.0)}
    assert set(got) == {k for k, a in want.items() if a > 1e-6 * max(total, 1.0)}
    for k, a in got.items():
        assert a == pytest.approx(want[k], rel=1e-5, abs=1e-6 * total), sorted(k)


def _boxes_feats_df(boxes):
    """(feature_id, key, xs, ys) layer over random boxes — shared input
    shape of the overlay-family operator sweeps."""
    from mapshaper_spark.session import get_spark
    import pandas as pd

    spark = get_spark("mapshaper_spark_tests", shuffle_partitions=8)
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
    return spark.createDataFrame(
        pdf, schema="feature_id int, key string, xs array<double>, ys array<double>"
    )


@settings(max_examples=30, deadline=None)
@given(_boxes)
@example(boxes=[(0.0, 0.0, 1.0), (0.0, 1.0, 2.0), (1.0, 1.0, 2.0)])
@example(boxes=[(0.5, 0.5, 1.0), (0.5, 0.5, 1.0), (0.0, 0.0, 1.0)])
# r4 hunt class: offset-heavy coordinates
@example(
    boxes=[
        (-500005.30273913516, -500007.6979211225, 3.9928509318300778),
        (-499994.2959732347, -499994.26815660764, 2.730661378695502),
        (-499992.95944617654, -500006.35324174433, 2.1189843118996374),
    ]
)
def test_dissolve2_matches_interval_algebra(boxes):
    """Operator-level randomized check [VERDICT r3 #2]: dissolve2's
    per-key union measure equals the exact elementary-cell covered
    area — the operator folds multi-component ring sets through the
    same robust kernel the r3 counterexample broke."""
    from mapshaper_spark.operators import topology as topo_op

    rows = topo_op.dissolve2(_boxes_feats_df(boxes)).collect()
    want = sum(_interval_algebra(boxes).values())
    assert len(rows) == 1
    assert rows[0]["area"] == pytest.approx(want, rel=1e-5, abs=1e-6 * want)


@settings(max_examples=30, deadline=None)
@given(_boxes)
@example(boxes=[(0.0, 0.0, 1.0), (0.0, 1.0, 2.0), (1.0, 1.0, 2.0)])
@example(boxes=[(0.0, 0.0, 1.0), (0.0, 0.0, 1.0)])
# r4 sweep find: corner-coincident B leaves a near-tangent residue hole
# in face[0]; the old span*1e-7 interior-point offset overshot into it
# and mis-oriented the A∩C piece (consistent, identity-proof)
@example(boxes=[(1.0, 0.0, 2.0), (1.0, 0.0, 0.75), (0.0, -1.0, 2.0)])
# r5 sweep find: the raw-shoelace orientation sign cancelled to 0.0 on
# a REAL 1.2e-7 x 1.1e-9 difference piece (residue finger corner), so
# _near_boundary_interior_point offset OUTWARD and every perturbed
# attempt failed loudly; sign decisions now use shoelace_area_local
@example(
    boxes=[(1.0, 0.0, 2.00001),
     (0.0, 0.8836389325395206, 2.00001),
     (1.192092896e-07, -0.0, 2.00001)],
)
def test_clean_assign_matches_interval_algebra(boxes):
    """Operator-level randomized check [VERDICT r3 #2]: -clean's
    min-member face assignment equals assigning every elementary cell
    to its lowest covering box — membership AND per-feature measure."""
    from mapshaper_spark.operators import overlay as overlay_op

    raw: dict[int, float] = {}
    for r in overlay_op.clean_assign_areas(_boxes_feats_df(boxes)).collect():
        raw[int(r["feature_id"])] = raw.get(int(r["feature_id"]), 0.0) + r["clean_area"]
    want: dict[int, float] = {}
    for members, a in _interval_algebra(boxes).items():
        fid = min(members)
        want[fid] = want.get(fid, 0.0) + a
    total = sum(want.values())
    floor = 1e-6 * max(total, 1.0)
    got = {k: a for k, a in raw.items() if a > floor}
    assert set(got) == {k for k, a in want.items() if a > floor}
    for k, a in got.items():
        assert a == pytest.approx(want[k], rel=1e-5, abs=floor), k


@settings(max_examples=30, deadline=None)
@given(_boxes)
@example(boxes=[(0.0, 0.0, 1.0), (0.0, 1.0, 2.0), (1.0, 1.0, 2.0)])
def test_inlay_matches_interval_algebra(boxes):
    """Operator-level randomized check [VERDICT r3 #2]: -inlay carving
    the first box by the rest equals the cells covered by the target
    and by NO inlay."""
    from mapshaper_spark.operators import overlay as overlay_op
    from mapshaper_spark.session import get_spark
    import pandas as pd

    spark = get_spark("mapshaper_spark_tests", shuffle_partitions=8)
    tx, ty, ts = boxes[0]
    a_feats = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "poly_id": 0,
                    "ring_idx": 0,
                    "xs": [tx, tx + ts, tx + ts, tx],
                    "ys": [ty, ty, ty + ts, ty + ts],
                }
            ]
        ),
        schema="poly_id int, ring_idx int, xs array<double>, ys array<double>",
    )
    b_feats = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "inlay_id": i,
                    "xs": [x, x + s, x + s, x],
                    "ys": [y, y, y + s, y + s],
                }
                for i, (x, y, s) in enumerate(boxes[1:])
            ]
        ),
        schema="inlay_id int, xs array<double>, ys array<double>",
    )
    rows = overlay_op.inlay_area(a_feats, b_feats).collect()
    want = sum(
        a for m, a in _interval_algebra(boxes).items() if m == frozenset({0})
    )
    assert len(rows) == 1
    total = max(ts * ts, 1.0)
    assert rows[0]["area"] == pytest.approx(want, rel=1e-5, abs=1e-6 * total)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.filter_too_much],
)
@given(_boxes)
@example(boxes=[(0.0, 0.0, 1.0), (0.0, 1.0, 2.0), (1.0, 1.0, 2.0)])
@example(boxes=[(0.5, 0.5, 1.0), (0.5, 0.5, 1.0), (0.0, 0.0, 1.0)])
# r4 hunt find (scripts/emitter_hunt.py): offset-heavy layers lost ~5
# significant digits in the emitters' raw-shoelace area columns
# (2e6-magnitude coords, ~20-unit² rings) — fixed by the translation-
# stabilized shoelace_area_local
@example(
    boxes=[
        (1999997.9430420464, 1999993.70471332, 2.8046050440074515),
        (2000004.1773626024, 2000005.3580586198, 4.75071844596936),
    ]
)
def test_dissolve2_rings_tiled_measure_matches(boxes):
    """Randomized end-to-end sweep of the tiled ring EMITTER (8
    examples — each drives the full Spark replicate→fold→crop→pair→
    CC→assemble pipeline): the union measure recomputed from the
    STITCHED ring geometry equals the interval-algebra truth. res=2
    keeps the job data small while exercising multi-cell stitching;
    coincident inputs (duplicate boxes) route through the perturb
    retry, so compare measure, not ring structure.

    Domain: edge lines either EXACTLY coincide (duplicate features —
    they collapse inside the per-cell union fold, the pinned example
    above) or sit > 1e-3 apart. An r5 sweep found the remaining class:
    edges separated by a SUB-TOLERANCE gap (1.4e-45) form an
    eps-sliver the union cannot collapse and the stitch cannot pair —
    the emitter raises LOUDLY on those by contract
    (test_dissolve2_rings_tiled_subtolerance_gap_raises pins it)."""
    from mapshaper_spark.operators import overlay as overlay_op

    for vals in (
        sorted(v for x, y, s in boxes for v in (x, x + s)),
        sorted(v for x, y, s in boxes for v in (y, y + s)),
    ):
        assume(all(b == a or b - a > 1e-3 for a, b in zip(vals, vals[1:])))
    rows = overlay_op.dissolve2_rings_tiled(
        _boxes_feats_df(boxes), res=2, max_rep_cells=2
    ).collect()
    want = sum(_interval_algebra(boxes).values())
    got = sum(r["area"] for r in rows)
    assert got == pytest.approx(want, rel=1e-5, abs=1e-6 * max(want, 1.0))


def test_dissolve2_rings_tiled_subtolerance_gap_raises():
    """r5 sweep find, pinned as CONTRACT: two features whose vertical
    edges sit 1.4e-45 apart (below any tolerance) leave an eps-sliver
    the per-cell union folds keep as two regions but whose boundary
    crossings cluster within the pairing tolerance on every grid
    origin — residue-scale in-pair gaps dominate the real 1.4e-45
    separation, so separation-dominated pairing refuses on all four
    retries and the emitter raises LOUDLY (never a silent mis-stitch;
    the area forms tolerate the same layer because slivers cancel in
    sums). Remedy for real layers: snap/dedup edges first."""
    from mapshaper_spark.operators import overlay as overlay_op

    boxes = [
        (1.401298464324817e-45, -1.1, 5.0),
        (1.5, -1.9, 0.7000000000000001),
        (-1.9, 0.0, 1.9),
    ]
    with pytest.raises(Exception, match="dissolve2_rings_tiled"):
        overlay_op.dissolve2_rings_tiled(
            _boxes_feats_df(boxes), res=2, max_rep_cells=2
        ).collect()
    # companion contract: the class is SPECIFIC to single-key union
    # stitching. The clean/face emitters pair endpoints per
    # (feature/signature) key, so the clustered crossings land in
    # DIFFERENT groups and both return the exact decomposition on the
    # same layer (areas tile the union measure); the dissolve2 AREA
    # form tolerates it too (slivers cancel in sums).
    want = sum(_interval_algebra(boxes).values())
    clean = overlay_op.clean_rings_tiled(
        _boxes_feats_df(boxes), res=2, max_rep_cells=2
    ).collect()
    assert sum(r["area"] for r in clean) == pytest.approx(want, rel=1e-9)
    faces = overlay_op.mosaic_face_rings_tiled(
        _boxes_feats_df(boxes), res=2, max_rep_cells=2
    ).collect()
    assert sum(r["area"] for r in faces) == pytest.approx(want, rel=1e-9)
    area_form = overlay_op.dissolve2_tiled(_boxes_feats_df(boxes), res=2).collect()
    assert sum(r["area"] for r in area_form) == pytest.approx(want, rel=1e-9)


# filter_too_much suppressed: the distinct-edge assume() below is a
# DELIBERATE domain restriction (coincident layers raise loudly by
# contract), and hypothesis's duplicate-loving generator can trip the
# health check on unlucky runs even though 8 examples always complete
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.filter_too_much],
)
@given(_boxes)
# r4 hunt find: same offset-heavy area-cancellation class as the
# dissolve2 emitter pin above
@example(
    boxes=[
        (1999992.8194666354, 1999997.138123497, 4.1336284906786265),
        (1999998.167920792, 1999993.2704071887, 4.586725300790401),
    ]
)
def test_face_and_clean_rings_tiled_measure_matches(boxes):
    """Randomized end-to-end sweep of the FACE and CLEAN ring emitters:
    per-signature / per-assignee areas recomputed from stitched rings
    equal the interval-algebra decomposition. max_rep_cells=2 forces
    the bounded-crop replication path on most layers.

    Edge lines are assumed pairwise distinct (1e-3): duplicate features
    / shared edge runs make the per-cell face folds produce eps-width
    SLIVER faces whose cell-line crossings cluster at perturbation
    scale — inherently ambiguous to stitch, and the emitters raise
    LOUDLY on them by contract (the area-form sweeps above keep
    covering coincident inputs, where slivers cancel in sums)."""
    from mapshaper_spark.operators import overlay as overlay_op

    for vals in (
        sorted(v for x, y, s in boxes for v in (x, x + s)),
        sorted(v for x, y, s in boxes for v in (y, y + s)),
    ):
        assume(all(b - a > 1e-3 for a, b in zip(vals, vals[1:])))
    feats = _boxes_feats_df(boxes)
    want = _interval_algebra(boxes)
    total = max(sum(want.values()), 1.0)
    floor = 1e-6 * total

    raw: dict[frozenset, float] = {}
    for r in overlay_op.mosaic_face_rings_tiled(
        feats, res=2, max_rep_cells=2
    ).collect():
        k = frozenset(int(v) for v in r["members_csv"].split(","))
        raw[k] = raw.get(k, 0.0) + r["area"]
    got = {k: a for k, a in raw.items() if a > floor}
    assert set(got) == {k for k, a in want.items() if a > floor}
    for k, a in got.items():
        assert a == pytest.approx(want[k], rel=1e-5, abs=floor), sorted(k)

    want_clean: dict[int, float] = {}
    for members, a in want.items():
        fid = min(members)
        want_clean[fid] = want_clean.get(fid, 0.0) + a
    raw_clean: dict[int, float] = {}
    for r in overlay_op.clean_rings_tiled(feats, res=2, max_rep_cells=2).collect():
        fid = int(r["feature_id"])
        raw_clean[fid] = raw_clean.get(fid, 0.0) + r["area"]
    got_clean = {k: a for k, a in raw_clean.items() if a > floor}
    assert set(got_clean) == {k for k, a in want_clean.items() if a > floor}
    for k, a in got_clean.items():
        assert a == pytest.approx(want_clean[k], rel=1e-5, abs=floor), k


def _global_faces_seq(by_fid):
    """Sequential global face fold (the non-tiled ground truth the
    emitter hunts use): split each accumulated face by the next ring
    through the robust kernel, tracking member sets."""
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


def _ring_set_stats(rings):
    areas = sorted(G.shoelace_area_local(r[:, 0], r[:, 1]) for r in rings)
    per = sum(
        G.path_length(np.append(r[:, 0], r[0, 0]), np.append(r[:, 1], r[0, 1]))
        for r in rings
    )
    return len(rings), areas, per


def test_mixed_box_star_emitters_match_global():
    """Deterministic MIXED-shape layer through all three ring emitters
    (per-commit pin of scripts/emitter_hunt.py's mixed mode): two
    axis-aligned boxes and two rotated concave stars overlap across
    cell lines, so one per-cell-line sorted-adjacency pairing group
    holds endpoints from cell-line-PARALLEL box edges and
    arbitrary-angle star edges at once — a regime the single-shape
    sweeps never combine. Ground truth is the GLOBAL folds: union_many
    for dissolve2 rings (count, sorted signed areas, perimeter), the
    sequential face fold for mosaic signatures, and its min-id
    assignment for clean."""
    from mapshaper_spark.operators import overlay as overlay_op
    from mapshaper_spark.session import get_spark
    import pandas as pd

    spark = get_spark("mapshaper_spark_tests", shuffle_partitions=8)
    by_fid = {
        0: np.array([[-3.0, -3.0], [1.0, -3.0], [1.0, 2.0], [-3.0, 2.0]]),
        1: np.array([[1.2, 0.3], [4.3, 0.3], [4.3, 2.5], [1.2, 2.5]]),
        2: _star(5, 4.0, 1.5, 0.5, 0.5, 0.3),
        3: _star(7, 3.0, 1.2, -2.0, 2.0, 1.1),
    }
    pdf = pd.DataFrame(
        [
            {"feature_id": i, "key": "h", "xs": list(r[:, 0]), "ys": list(r[:, 1])}
            for i, r in by_fid.items()
        ]
    )
    feats = spark.createDataFrame(
        pdf, schema="feature_id int, key string, xs array<double>, ys array<double>"
    )

    want_u = G.union_many(list(by_fid.values()))
    got_u = [
        np.column_stack([np.asarray(r["xs"]), np.asarray(r["ys"])])
        for r in overlay_op.dissolve2_rings_tiled(
            feats, res=2, max_rep_cells=2
        ).collect()
    ]
    gn, ga, gp = _ring_set_stats(got_u)
    wn, wa, wp = _ring_set_stats(want_u)
    tot = max(abs(sum(wa)), 1.0)
    assert gn == wn
    for a, b in zip(ga, wa):
        assert a == pytest.approx(b, abs=1e-6 * tot)
    assert gp == pytest.approx(wp, rel=1e-6)

    global_faces = _global_faces_seq(by_fid)
    want_f = {
        ",".join(str(i) for i in sorted(ids)): fr for fr, ids in global_faces
    }
    got_f: dict[str, list] = {}
    for r in overlay_op.mosaic_face_rings_tiled(
        feats, res=2, max_rep_cells=2
    ).collect():
        got_f.setdefault(r["members_csv"], []).append(
            np.column_stack([np.asarray(r["xs"]), np.asarray(r["ys"])])
        )
    assert set(got_f) == set(want_f)
    for k in want_f:
        gn, ga, gp = _ring_set_stats(got_f[k])
        wn, wa, wp = _ring_set_stats(want_f[k])
        assert gn == wn, k
        for a, b in zip(ga, wa):
            assert a == pytest.approx(b, abs=1e-6 * tot), k
        assert gp == pytest.approx(wp, rel=1e-6), k

    want_clean: dict[int, float] = {}
    for fr, ids in global_faces:
        fa = sum(G.shoelace_area_local(r[:, 0], r[:, 1]) for r in fr)
        want_clean[min(ids)] = want_clean.get(min(ids), 0.0) + fa
    got_clean: dict[int, float] = {}
    for r in overlay_op.clean_rings_tiled(feats, res=2, max_rep_cells=2).collect():
        got_clean[int(r["feature_id"])] = got_clean.get(
            int(r["feature_id"]), 0.0
        ) + r["area"]
    floor = 1e-6 * tot
    gc = {k: a for k, a in got_clean.items() if a > floor}
    wc = {k: a for k, a in want_clean.items() if a > floor}
    assert set(gc) == set(wc)
    for k in wc:
        assert gc[k] == pytest.approx(wc[k], rel=1e-5, abs=floor), k


def test_vertex_touching_stars_tiled_measure_matches_global():
    """r5 touch-hunt pin (scripts/emitter_hunt.py touch mode): two
    stars sharing an EXACT vertex — the r3 headline corner-touching
    class — through the FULL tiled emitter pipeline. At a pinch point
    the ring decomposition is NON-CANONICAL: one ring through the
    touch point twice, two rings touching there, and outer+eps-hole
    all describe the same point set, and the tiled per-cell folds
    perturb with different content hashes than the global fold, so
    they legitimately land on different representations (hunt repro:
    tiled [outer 35.79, hole −5.95] vs global [one ring 29.83]). The
    INVARIANT is the measure: total signed area and total perimeter
    agree to ~1e-10 rel. Ring counts are deliberately NOT asserted."""
    from mapshaper_spark.operators import overlay as overlay_op
    from mapshaper_spark.session import get_spark
    import pandas as pd

    spark = get_spark("mapshaper_spark_tests", shuffle_partitions=8)
    a = _star(5, 4.0, 1.5, 0.0, 0.0, 0.3)
    b = _star(6, 3.0, 1.2, 0.0, 0.0, 1.1)
    # (b - b[2]) zeroes vertex 2 exactly; + a[0] lands it bitwise on
    # A's vertex 0 — an exact shared point, not a near-incidence
    b = b - b[2] + a[0]
    by_fid = {0: a, 1: b}
    pdf = pd.DataFrame(
        [
            {"feature_id": i, "key": "h", "xs": list(r[:, 0]), "ys": list(r[:, 1])}
            for i, r in by_fid.items()
        ]
    )
    feats = spark.createDataFrame(
        pdf, schema="feature_id int, key string, xs array<double>, ys array<double>"
    )
    want_u = G.union_many([a, b])
    got_u = [
        np.column_stack([np.asarray(r["xs"]), np.asarray(r["ys"])])
        for r in overlay_op.dissolve2_rings_tiled(
            feats, res=2, max_rep_cells=2
        ).collect()
    ]
    _, ga, gp = _ring_set_stats(got_u)
    _, wa, wp = _ring_set_stats(want_u)
    tot = max(abs(sum(wa)), 1.0)
    assert sum(ga) == pytest.approx(sum(wa), abs=1e-6 * tot)
    assert gp == pytest.approx(wp, rel=1e-6)

    global_faces = _global_faces_seq(by_fid)
    floor = 1e-6 * tot
    wa_f: dict[str, float] = {}
    for fr, ids in global_faces:
        k = ",".join(str(i) for i in sorted(ids))
        wa_f[k] = wa_f.get(k, 0.0) + sum(
            G.shoelace_area_local(r[:, 0], r[:, 1]) for r in fr
        )
    ga_f: dict[str, float] = {}
    for r in overlay_op.mosaic_face_rings_tiled(
        feats, res=2, max_rep_cells=2
    ).collect():
        ga_f[r["members_csv"]] = ga_f.get(r["members_csv"], 0.0) + r["area"]
    gsig = {k: v for k, v in ga_f.items() if v > floor}
    wsig = {k: v for k, v in wa_f.items() if v > floor}
    assert set(gsig) == set(wsig)
    for k in wsig:
        assert gsig[k] == pytest.approx(wsig[k], rel=1e-5, abs=floor), k


def test_shared_edge_run_tiled_area_canonical():
    """r5 adjacency-hunt pin (scripts/emitter_hunt.py adjacency mode):
    two boxes ADJACENT along a partial shared vertical edge run — the
    admin-boundary coverage shape. The boundary representation of a
    shared-run union is NON-CANONICAL: the global robust fold may keep
    a zero-area slit (both sides of the shared edge traced; perimeter
    = clean + 2×run length, area exact), and the tiled emitter may
    COLLAPSE the run fully (hunt layer-4 repro: perimeter == exact
    clean value to 4.7e-9) or carry a PARTIAL zero-area slit ending at
    a cell boundary (this fixture: +3.35 of the ≤2×run=4.4 bound —
    verified by reading the emitted coordinates: the doubled segment
    runs down and back up x=x1, signed area cancelling exactly). AREA
    is the cross-representation invariant — pin it exactly, and pin
    the perimeter to the [clean, clean + 2×run] envelope every valid
    representation satisfies."""
    from mapshaper_spark.operators import overlay as overlay_op
    from mapshaper_spark.session import get_spark
    import pandas as pd

    spark = get_spark("mapshaper_spark_tests", shuffle_partitions=8)
    x0, y0, w, h = -2.25, -1.5, 3.5, 4.0
    x1 = x0 + w
    yb, wb, hb = 0.3, 2.75, 3.25  # B's left edge sits EXACTLY on x=x1
    a = np.array([[x0, y0], [x1, y0], [x1, y0 + h], [x0, y0 + h]])
    b = np.array([[x1, yb], [x1 + wb, yb], [x1 + wb, yb + hb], [x1, yb + hb]])
    pdf = pd.DataFrame(
        [
            {"feature_id": i, "key": "h", "xs": list(r[:, 0]), "ys": list(r[:, 1])}
            for i, r in ((0, a), (1, b))
        ]
    )
    feats = spark.createDataFrame(
        pdf, schema="feature_id int, key string, xs array<double>, ys array<double>"
    )
    got_u = [
        np.column_stack([np.asarray(r["xs"]), np.asarray(r["ys"])])
        for r in overlay_op.dissolve2_rings_tiled(
            feats, res=2, max_rep_cells=2
        ).collect()
    ]
    n, areas, perim = _ring_set_stats(got_u)
    shared = min(y0 + h, yb + hb) - max(y0, yb)  # the shared run length
    area_true = w * h + wb * hb
    perim_clean = 2 * (w + h) + 2 * (wb + hb) - 2 * shared
    assert n in (1, 2)  # joined ring, possibly pinched at the slit
    assert sum(areas) == pytest.approx(area_true, rel=1e-9)
    assert perim_clean - 1e-6 <= perim <= perim_clean + 2 * shared + 1e-6


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=3, max_value=10),
    st.floats(min_value=1.0, max_value=8.0),
    st.floats(min_value=0.3, max_value=0.95),
    st.lists(
        st.tuples(
            st.floats(min_value=-9.0, max_value=9.0),
            st.floats(min_value=-9.0, max_value=9.0),
        ),
        min_size=5,
        max_size=40,
    ),
)
def test_pip_ray_matches_winding_number(n, r1, frac, pts):
    """Independent-reference PIP check: for SIMPLE polygons the
    even-odd crossing parity must equal the winding-number test
    (coded here from the signed-angle formulation, sharing nothing
    with pip_ray). Random points are on the boundary with probability
    0, so exact agreement is required."""
    ring = _star(n, r1, r1 * frac, 0.4, -0.3, 0.23)
    px = np.array([p[0] for p in pts])
    py = np.array([p[1] for p in pts])
    got = G.pip_ray(px, py, ring)
    # winding number via summed signed angles
    vx = ring[:, 0][None, :] - px[:, None]
    vy = ring[:, 1][None, :] - py[:, None]
    wx = np.concatenate([vx[:, 1:], vx[:, :1]], axis=1)
    wy = np.concatenate([vy[:, 1:], vy[:, :1]], axis=1)
    ang = np.arctan2(vx * wy - vy * wx, vx * wx + vy * wy)
    winding = np.rint(ang.sum(axis=1) / (2.0 * np.pi)).astype(int)
    assert np.array_equal(got, winding != 0)


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=3, max_value=8),
    st.floats(min_value=2.0, max_value=8.0),
    st.floats(min_value=0.4, max_value=0.95),
)
def test_rasterize_ring_area_converges(n, r1, frac):
    """Scanline rasterization: pixel-count area approximates the
    shoelace area within O(perimeter * pixel) at a 128-px grid — an
    independent cross-check of the raster<->vector kernel against the
    analytic area."""
    ring = _star(n, r1, r1 * frac, 0.0, 0.0, 0.41)
    pad = 0.5
    xmin, xmax = ring[:, 0].min() - pad, ring[:, 0].max() + pad
    ymin, ymax = ring[:, 1].min() - pad, ring[:, 1].max() + pad
    w = h = 128
    mask = G.rasterize_ring(ring[:, 0], ring[:, 1], xmin, ymin, xmax, ymax, w, h)
    pixel_area = ((xmax - xmin) / w) * ((ymax - ymin) / h)
    raster_area = float(mask.sum()) * pixel_area
    true_area = G.shoelace_area(ring[:, 0], ring[:, 1])
    # perimeter bound on the boundary-pixel error band
    per = float(np.hypot(np.diff(np.append(ring[:, 0], ring[0, 0])),
                         np.diff(np.append(ring[:, 1], ring[0, 1]))).sum())
    band = per * max((xmax - xmin) / w, (ymax - ymin) / h)
    assert abs(raster_area - true_area) <= band


def test_split_robust_offset_heavy_frame():
    """r4 hunt find (scripts/emitter_hunt.py seed 314159): at 5e5-
    magnitude coordinates with ~3-unit boxes, the robust wrappers'
    extent-scaled thresholds sank below the magnitude-scaled arithmetic
    noise and EVERY perturbed attempt failed ('degenerate input not
    resolved after 5 perturbed attempts'). The wrappers now trace in a
    floor(bbox-min)-anchored local frame when magnitude > 64x extent;
    small-coordinate inputs keep their bitwise-identical path."""
    bx0 = (-499992.00022174855, -499994.47518901294, 2.623700249172818)
    bx1 = (-499994.2959732347, -499994.26815660764, 2.730661378695502)
    rects = []
    for x, y, s in (bx0, bx1):
        rects.append(
            np.array([(x, y), (x + s, y), (x + s, y + s), (x, y + s)])
        )
    ox = max(
        0.0,
        min(bx0[0] + bx0[2], bx1[0] + bx1[2]) - max(bx0[0], bx1[0]),
    )
    oy = max(
        0.0,
        min(bx0[1] + bx0[2], bx1[1] + bx1[2]) - max(bx0[1], bx1[1]),
    )
    want_inter = ox * oy
    want_a = bx0[2] * bx0[2]
    inter, diff = G.gh_split_rings_robust([rects[0]], [rects[1]])
    got_i = sum(G.shoelace_area_local(g[:, 0], g[:, 1]) for g in inter)
    got_d = sum(G.shoelace_area_local(g[:, 0], g[:, 1]) for g in diff)
    assert got_i == pytest.approx(want_inter, rel=1e-6)
    assert got_d == pytest.approx(want_a - want_inter, rel=1e-6)
    union = G.gh_clip_rings_robust([rects[0]], [rects[1]], "union")
    got_u = sum(G.shoelace_area_local(g[:, 0], g[:, 1]) for g in union)
    assert got_u == pytest.approx(
        want_a + bx1[2] * bx1[2] - want_inter, rel=1e-6
    )


# --------------------------------------------------------- gap fill sweep

_gap_frame = st.tuples(
    st.floats(min_value=1.0, max_value=6.0),   # hole width w
    st.floats(min_value=1.0, max_value=6.0),   # hole height h
    st.floats(min_value=0.5, max_value=1.5),   # bar thickness t
    st.floats(min_value=0.15, max_value=0.85),  # u1: right-strip bottom
    st.floats(min_value=0.15, max_value=0.85),  # u2: top-strip left
    st.floats(min_value=0.35, max_value=0.9),   # u3: strip width a/t
    st.floats(min_value=0.35, max_value=0.9),   # u4: strip height b/t
    st.floats(min_value=0.1, max_value=0.9),    # u5/u6: bottom-bar ends
    st.floats(min_value=0.1, max_value=0.9),
    st.floats(min_value=0.05, max_value=0.8),   # u7: left-bar bottom inset
    st.sampled_from([0.01, 1.0, 100.0]),        # scale
    st.sampled_from([0.0, -1000.0, 2.0e6]),     # offset
)


def _gap_frame_feats(p):
    """One randomized gap frame: bottom bar, left bar, L-shaped
    top+right neighbor (the unique longest-border winner, margin
    min(w, h)); returns (features_df, hole_area, scale)."""
    import pandas as pd

    from mapshaper_spark.session import get_spark

    w, h, t, u1, u2, u3, u4, u5, u6, u7, s, off = p
    a, b = t * u3, t * u4
    yb, xl = -t * u1, -t * u2
    rings = [
        # bottom bar: top edge y=0 under the hole
        [(-t - t * u5, -t), (w + t + t * u6, -t),
         (w + t + t * u6, 0.0), (-t - t * u5, 0.0)],
        # left bar: right edge x=0; bottom inset keeps lines distinct
        [(-t, -t + t * u7 * 0.8), (0.0, -t + t * u7 * 0.8),
         (0.0, h + t), (-t, h + t)],
        # L: right strip x in [w, w+a] from yb, top strip y in [h, h+b]
        # from xl — borders the hole on TWO sides (blen w + h)
        [(w, yb), (w + a, yb), (w + a, h + b), (xl, h + b),
         (xl, h), (w, h)],
    ]
    tx = lambda v: off + s * v  # noqa: E731
    pdf = pd.DataFrame(
        [
            {
                "feature_id": i,
                "key": "g",
                "xs": [tx(x) for x, _ in ring],
                "ys": [tx(y) for _, y in ring],
            }
            for i, ring in enumerate(rings)
        ]
    )
    spark = get_spark("mapshaper_spark_tests", shuffle_partitions=8)
    feats = spark.createDataFrame(
        pdf, schema="feature_id int, key string, xs array<double>, ys array<double>"
    )
    return feats, (w * h) * s * s, s


@settings(max_examples=12, deadline=None)
@given(_gap_frame)
@example(p=(1.0, 6.0, 0.5, 0.15, 0.85, 0.35, 0.9, 0.1, 0.9, 0.05, 100.0, 2.0e6))
@example(p=(6.0, 1.0, 1.5, 0.5, 0.5, 0.6, 0.6, 0.5, 0.5, 0.4, 0.01, -1000.0))
def test_gap_fill_matches_clean_plus_hole(p):
    """Operator-level randomized check for -clean gap fill: on a frame
    whose L-shaped neighbor borders the hole on two sides (unique
    longest-border winner, margin min(w,h)·s), clean_gap_fill equals
    clean_assign_areas with EXACTLY the hole area added to the L's row
    — across scales 0.01..100 and offsets up to 2e6 (the crediting join
    runs in the per-key local frame; offset-heavy crossing solves carry
    ~1e-9-relative residue, hence the rel tolerance)."""
    from mapshaper_spark.operators import overlay as overlay_op

    feats, hole_area, s = _gap_frame_feats(p)
    base = {
        int(r["feature_id"]): r["clean_area"]
        for r in overlay_op.clean_assign_areas(feats).collect()
    }
    got = {
        int(r["feature_id"]): r["clean_area_r"]
        for r in overlay_op.clean_gap_fill(
            feats, gap_fill_area=2.0 * hole_area
        ).collect()
    }
    assert set(got) == set(base) == {0, 1, 2}
    tol = 1e-8 * max(hole_area, 1.0) + 1e-7 * abs(p[11]) * s
    assert got[0] == pytest.approx(base[0], abs=tol)
    assert got[1] == pytest.approx(base[1], abs=tol)
    assert got[2] == pytest.approx(base[2] + hole_area, abs=tol)


_convex_layer = st.tuples(
    st.lists(st.integers(min_value=3, max_value=64), min_size=0, max_size=3),
    st.floats(min_value=0.5, max_value=40.0),      # radius
    st.floats(min_value=-120.0, max_value=120.0),  # center x
    st.floats(min_value=-60.0, max_value=60.0),    # center y
    st.integers(min_value=0, max_value=2**32 - 1),  # angle / point seed
)


@settings(max_examples=25, deadline=None)
@given(_convex_layer)
@example(p=([], 1.0, 0.0, 0.0, 0))
def test_convex_pip_filter_matches_pip_convex(p):
    """The JVM half-plane filter of the convex PIP path equals
    ``geometry.pip_convex`` row for row. One layer holds a triangle, a
    64-gon and 0-3 more convex rings, so short rings are padded against
    a large K. Points include exact vertices, edge midpoints, random
    points around each ring, and NaN / ±inf coordinates, all in PARTIAL
    cells; FULL rows must pass untested."""
    from mapshaper_spark.operators import spatial_join as sj
    from mapshaper_spark.session import get_spark

    sizes, r, cx, cy, seed = p
    rng = np.random.Generator(np.random.PCG64(seed))
    rings = {}
    for pid, n in enumerate([3, 64, *sizes]):
        # distinct sorted angles on a circle: convex and CCW
        ang = np.sort(rng.choice(4096, size=n, replace=False)) * (2.0 * np.pi / 4096)
        rr = r * (0.5 + pid / 4.0)
        rings[pid] = np.column_stack([cx + rr * np.cos(ang), cy + rr * np.sin(ang)])
    special = [np.nan, np.inf, -np.inf]
    px, py = [], []
    for ring in rings.values():
        mid = (ring + np.roll(ring, -1, axis=0)) / 2.0
        rnd = rng.uniform(-1.5, 1.5, (40, 2)) * r * 1.5 + (cx, cy)
        for pts in (ring, mid, rnd):
            px.extend(pts[:, 0])
            py.extend(pts[:, 1])
    for a in special + [cx]:
        for b in special + [cy]:
            if a == cx and b == cy:
                continue
            px.append(a)
            py.append(b)
    px, py = np.asarray(px), np.asarray(py)
    pids = np.array(sorted(rings))
    full = rng.random((len(px), len(pids))) < 0.1
    with np.errstate(invalid="ignore"):  # inf - inf in the numpy reference
        want = full | np.column_stack([G.pip_convex(px, py, rings[q]) for q in pids])

    spark = get_spark("mapshaper_spark_tests", shuffle_partitions=8)
    # one candidate row per (point, polygon), edges gathered by polygon
    pt, pi = np.divmod(np.arange(full.size), len(pids))
    with_e = sj._local_frame(
        spark,
        {
            "point_id": pt.astype(np.int32),
            "poly_id": pids[pi].astype(np.int32),
            "lon": px[pt],
            "lat": py[pt],
            "coverage": np.where(full.ravel(), sj.FULL, sj.PARTIAL),
        },
        sj._half_planes([rings[q] for q in pids])[pi],
    )
    assert sum(c.startswith("_hdx") for c in with_e.columns) == 64
    got_df = sj.keep_inside(with_e)
    assert got_df.columns == ["point_id", "poly_id", "lon", "lat"]
    got = {(row["point_id"], row["poly_id"]) for row in got_df.collect()}
    idx = np.argwhere(want)
    assert got == {(int(i), int(pids[c])) for i, c in idx}
