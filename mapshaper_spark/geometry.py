"""Vectorized numpy geometry kernels.

These are the engine's compute primitives, invoked only inside
Arrow-batched pandas UDFs (no per-row Python in any Spark path
[BASELINE.json input_hint]). Each is a from-scratch implementation of the
textbook algorithm mapshaper uses [SURVEY.md §2.7, §4.1]:

- point-in-polygon: ray crossing (general) + half-plane (convex);
- shoelace area / centroid;
- Visvalingam effective-area thresholds (mapshaper's default simplify);
- Douglas-Peucker max-distance thresholds;
- Sutherland-Hodgman polygon clip (convex clip window);
- scanline polygon rasterization (raster<->vector tiles);
- planar / haversine point distances.
"""

from __future__ import annotations

import zlib

import numpy as np


# ------------------------------------------------------------------- PIP ---


def pip_convex(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Points inside a convex CCW ring (boundary counts as inside).

    ring: (k, 2) open ring. Vectorized over points: inside iff every edge
    cross product is >= 0 — the same test the DuckDB oracle runs in SQL,
    so results agree exactly.
    """
    inside = np.ones(px.shape, dtype=bool)
    k = len(ring)
    for j in range(k):
        x1, y1 = ring[j]
        x2, y2 = ring[(j + 1) % k]
        inside &= (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) >= 0.0
    return inside


def rot1(a: np.ndarray) -> np.ndarray:
    """``np.roll(a, -1, axis=0)`` as two slice assignments. Produces the
    IDENTICAL array (so every downstream dot/sum is bit-equal) without
    roll's generic axis machinery — which profiling showed dominating
    the GH kernels' per-piece orientation work (45k roll calls per
    dense-pair boolean)."""
    out = np.empty_like(a)
    out[:-1] = a[1:]
    out[-1] = a[0]
    return out


def pip_ray(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """General even-odd ray-crossing test, vectorized over points AND
    edges (points (N,1) broadcast against the edge arrays (K,), edge
    blocks chunked so the N×K intermediate stays bounded — the r3 fix
    for the GH kernels' 1-point × dense-ring calls, which the old
    per-edge Python loop made O(K) interpreter rounds each).

    Arithmetic is expression-identical to the classic per-edge
    crossing-count [SURVEY.md §2.3], so results are bit-equal.
    """
    px = np.asarray(px)
    py = np.asarray(py)
    ring = np.asarray(ring, dtype=float)
    x1 = ring[:, 0]
    y1 = ring[:, 1]
    x2 = rot1(x1)
    y2 = rot1(y1)
    inside = np.zeros(px.shape, dtype=bool)
    pxc = px[..., None]
    pyc = py[..., None]
    k = len(ring)
    chunk = max(1, int(4_000_000 // max(1, px.size)))
    for s in range(0, k, chunk):
        e = slice(s, min(s + chunk, k))
        cross = (y1[e] > pyc) != (y2[e] > pyc)
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            xint = x1[e] + (pyc - y1[e]) * (x2[e] - x1[e]) / (y2[e] - y1[e])
            # overflow rescue [VERDICT r4 #3]: the true crossing x lies
            # BETWEEN x1 and x2, so a nonfinite xint is always an
            # overflowed intermediate — (py-y1)*(x2-x1) past float max
            # (inf miscounts every point left of the edge as crossing) or
            # inf*0 = NaN on a vertical edge (drops the crossing
            # entirely, silently flipping parity). The halved ratio is
            # exact (power-of-two scaling) and bounded in [0,1] whenever
            # cross holds, and the convex combination stays inside
            # [min(x1,x2), max(x1,x2)] — neither can overflow.
            bad = cross & ~np.isfinite(xint)
            if bad.any():
                ratio = (0.5 * pyc - 0.5 * y1[e]) / (0.5 * y2[e] - 0.5 * y1[e])
                xint = np.where(
                    bad, x1[e] * (1.0 - ratio) + x2[e] * ratio, xint
                )
        hits = cross & (pxc < np.where(cross, xint, np.inf))
        inside ^= np.bitwise_xor.reduce(hits, axis=-1)
    return inside


def pip_rings(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd PIP over a MULTI-RING feature (outer rings + holes +
    disjoint parts): XOR of per-ring crossing parities. A point inside an
    outer ring and inside a hole ring has even total parity → outside,
    with no need to tag which ring is the hole — exactly the even-odd
    fill rule mapshaper's polygon module applies [SURVEY.md §2.3]."""
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        inside ^= pip_ray(px, py, ring)
    return inside


def edges_intersect_rects(
    edges: np.ndarray,
    x_lo: np.ndarray,
    y_lo: np.ndarray,
    x_hi: np.ndarray,
    y_hi: np.ndarray,
) -> np.ndarray:
    """For each of M axis-aligned rects, does ANY of the K segments
    intersect it? Vectorized Liang-Barsky clip acceptance over the
    (K, M) broadcast — the boundary test behind winding-aware FULL-cell
    classification (a cell no edge crosses has uniform parity).

    edges: (K, 4) rows [x1, y1, x2, y2]. Returns bool (M,).
    """
    if len(edges) == 0:
        return np.zeros(len(x_lo), dtype=bool)
    x1 = edges[:, 0:1]
    y1 = edges[:, 1:2]
    dx = edges[:, 2:3] - x1
    dy = edges[:, 3:4] - y1
    m = len(x_lo)
    k = len(edges)
    t0 = np.zeros((k, m))
    t1 = np.ones((k, m))
    ok = np.ones((k, m), dtype=bool)
    for p, q in (
        (-dx, x1 - x_lo[None, :]),
        (dx, x_hi[None, :] - x1),
        (-dy, y1 - y_lo[None, :]),
        (dy, y_hi[None, :] - y1),
    ):
        pz = p == 0.0
        ok &= ~(pz & (q < 0.0))  # parallel and fully outside this side
        with np.errstate(divide="ignore", invalid="ignore"):
            r = q / np.where(pz, 1.0, p)
        t0 = np.where(~pz & (p < 0.0), np.maximum(t0, r), t0)
        t1 = np.where(~pz & (p > 0.0), np.minimum(t1, r), t1)
    return (ok & (t0 <= t1)).any(axis=0)


def _seg_intersect(p1, p2, q1, q2):
    """Proper intersection of open segments (p1,p2) x (q1,q2): returns
    (t, u, point) with t,u in (0,1), or None. General position only —
    collinear overlaps and endpoint touches return None. Coordinates in
    the overflow regime (cross products past float max) reroute through
    the exact power-of-two rescale [VERDICT r4 #3]."""
    rx, ry = p2[0] - p1[0], p2[1] - p1[1]
    sx, sy = q2[0] - q1[0], q2[1] - q1[1]
    with np.errstate(over="ignore", invalid="ignore", divide="ignore"):
        den = rx * sy - ry * sx
        if den == 0.0:
            return None
        qpx, qpy = q1[0] - p1[0], q1[1] - p1[1]
        tn = qpx * sy - qpy * sx
        un = qpx * ry - qpy * rx
        if not (np.isfinite(den) and np.isfinite(tn) and np.isfinite(un)):
            return _seg_intersect_scaled(p1, p2, q1, q2)
        t = tn / den
        u = un / den
    if 0.0 < t < 1.0 and 0.0 < u < 1.0:
        return t, u, (p1[0] + t * rx, p1[1] + t * ry)
    return None


def _seg_intersect_scaled(p1, p2, q1, q2):
    """Overflow rescue for the segment-intersection kernels [VERDICT r4
    #3 — an unguarded inf/NaN path here is exactly where the r3 class
    of silent-wrong lived: a cross product past float max made t/u NaN
    and a TRUE proper crossing silently vanish]. Scaling every
    coordinate by one common power of two is exact (exponent shift
    only) and leaves t and u invariant (num and den both scale by s²),
    so recomputing at unit scale finds the crossing the raw expressions
    lost; the point maps back by the exact inverse scale."""
    m = max(
        abs(p1[0]), abs(p1[1]), abs(p2[0]), abs(p2[1]),
        abs(q1[0]), abs(q1[1]), abs(q2[0]), abs(q2[1]),
    )
    if not np.isfinite(m) or m == 0.0:
        return None
    s = 2.0 ** -np.floor(np.log2(m))
    a1 = (p1[0] * s, p1[1] * s)
    a2 = (p2[0] * s, p2[1] * s)
    b1 = (q1[0] * s, q1[1] * s)
    b2 = (q2[0] * s, q2[1] * s)
    rx, ry = a2[0] - a1[0], a2[1] - a1[1]
    sx, sy = b2[0] - b1[0], b2[1] - b1[1]
    den = rx * sy - ry * sx
    if den == 0.0:
        return None
    qpx, qpy = b1[0] - a1[0], b1[1] - a1[1]
    t = (qpx * sy - qpy * sx) / den
    u = (qpx * ry - qpy * rx) / den
    if 0.0 < t < 1.0 and 0.0 < u < 1.0:
        return t, u, ((a1[0] + t * rx) / s, (a1[1] + t * ry) / s)
    return None


def _seg_intersections_bulk(ra: np.ndarray, rb: np.ndarray):
    """All PROPER intersections between ring ra's edges and ring rb's
    edges, vectorized: returns (ia, ja, t, u, px, py) arrays. The
    broadcast twin of :func:`_seg_intersect` — same open-interval
    (general-position) semantics, O(Ka·Kb) numpy instead of Python."""
    p1 = ra
    p2 = rot1(ra)
    q1 = rb
    q2 = rot1(rb)
    with np.errstate(over="ignore", divide="ignore", invalid="ignore"):
        r = p2 - p1  # (K,2)
        s = q2 - q1  # (M,2)
        den = r[:, None, 0] * s[None, :, 1] - r[:, None, 1] * s[None, :, 0]
        qp = q1[None, :, :] - p1[:, None, :]  # (K,M,2)
        tn = qp[:, :, 0] * s[None, :, 1] - qp[:, :, 1] * s[None, :, 0]
        un = qp[:, :, 0] * r[:, None, 1] - qp[:, :, 1] * r[:, None, 0]
        t = tn / den
        u = un / den
        ok = (den != 0.0) & (t > 0.0) & (t < 1.0) & (u > 0.0) & (u < 1.0)
        # overflow rescue [VERDICT r4 #3]: a cross product past float
        # max makes den/tn/un inf (or inf-inf = NaN), every comparison
        # above comes out False, and a TRUE proper crossing silently
        # vanishes — the exact failure shape the r3 silent-wrong class
        # lived in. Nonfinite entries recompute pairwise at an exact
        # power-of-two rescale (t/u are scale-invariant); entries that
        # were finite keep their bit-identical fast-path values.
        sus = ~(np.isfinite(den) & np.isfinite(tn) & np.isfinite(un))
        ia, ja = np.nonzero(ok)
        tt = t[ia, ja]
        uu = u[ia, ja]
        px = p1[ia, 0] + tt * r[ia, 0]
        py = p1[ia, 1] + tt * r[ia, 1]
    if sus.any():
        extra = []
        for i, j in zip(*np.nonzero(sus)):
            res = _seg_intersect_scaled(p1[i], p2[i], q1[j], q2[j])
            if res is not None:
                extra.append((int(i), int(j), res[0], res[1], *res[2]))
        if extra:
            ia = np.concatenate([ia, np.array([e[0] for e in extra])])
            ja = np.concatenate([ja, np.array([e[1] for e in extra])])
            tt = np.concatenate([tt, np.array([e[2] for e in extra])])
            uu = np.concatenate([uu, np.array([e[3] for e in extra])])
            px = np.concatenate([px, np.array([e[4] for e in extra])])
            py = np.concatenate([py, np.array([e[5] for e in extra])])
            # canonical row-major order, as np.nonzero alone produced
            o = np.lexsort((ja, ia))
            ia, ja, tt, uu, px, py = ia[o], ja[o], tt[o], uu[o], px[o], py[o]
    return ia, ja, tt, uu, px, py


class _GHNode:
    __slots__ = ("xy", "inter", "entry", "nbr", "nxt", "prv", "visited", "t")

    def __init__(self, xy, inter=False, t=0.0):
        self.xy = xy
        self.inter = inter
        self.entry = False
        self.nbr = None
        self.nxt = None
        self.prv = None
        self.visited = False
        self.t = t


def _gh_build(ring: np.ndarray, inters_per_edge: dict[int, list]):
    """Doubly-linked circular list of ring vertices with intersection
    nodes spliced into each edge in parameter order."""
    nodes = []
    k = len(ring)
    for i in range(k):
        nodes.append(_GHNode((float(ring[i][0]), float(ring[i][1]))))
        for t, node in sorted(inters_per_edge.get(i, []), key=lambda x: x[0]):
            nodes.append(node)
    for i, n in enumerate(nodes):
        n.nxt = nodes[(i + 1) % len(nodes)]
        n.prv = nodes[i - 1]
    return nodes


def gh_intersection(subj: np.ndarray, clip: np.ndarray) -> list[np.ndarray]:
    """A ∩ B — see :func:`gh_clip`."""
    return gh_clip(subj, clip, "intersection")


def gh_difference(subj: np.ndarray, clip: np.ndarray) -> list[np.ndarray]:
    """A \\ B — see :func:`gh_clip`. A hole cut into the subject comes
    back as an extra ring; consumers interpret rings even-odd (the
    engine's multi-ring model)."""
    return gh_clip(subj, clip, "difference")


def gh_union(subj: np.ndarray, clip: np.ndarray) -> list[np.ndarray]:
    """A ∪ B — see :func:`gh_clip`."""
    return gh_clip(subj, clip, "union")


def gh_clip(subj: np.ndarray, clip: np.ndarray, op: str) -> list[np.ndarray]:
    """Greiner–Hormann boolean of two SIMPLE polygons (concave ok;
    multi-ring inputs and degenerate touches out of scope —
    general-position inputs; the engine's exact-area paths
    cross-validate it in pytest).

    Returns a list of (m, 2) rings (possibly several disjoint pieces; a
    difference/union result containing a hole yields the hole as an
    additional ring — even-odd interpretation). Classic three phases:
    (1) pairwise proper edge intersections spliced into both rings,
    (2) entry/exit flags by alternation from the initial inside/outside
    status — the op selects the flag polarity (GH's one-bit trick:
    intersection = both normal, union = both flipped, difference =
    clip's flags flipped), (3) piece tracing — forward from entries,
    backward from exits, switching rings at every intersection.
    """
    flip_subj, flip_clip = {
        "intersection": (False, False),
        "union": (True, True),
        "difference": (True, False),
    }[op]
    subj = np.asarray(subj, dtype=float)
    clip = np.asarray(clip, dtype=float)
    subj_edges: dict[int, list] = {}
    clip_edges: dict[int, list] = {}
    ia, ja, ts, us, pxs, pys = _seg_intersections_bulk(subj, clip)
    found = len(ia) > 0
    for i, j, t, u, px, py in zip(ia, ja, ts, us, pxs, pys):
        a = _GHNode((float(px), float(py)), inter=True, t=float(t))
        b = _GHNode((float(px), float(py)), inter=True, t=float(u))
        a.nbr, b.nbr = b, a
        subj_edges.setdefault(int(i), []).append((float(t), a))
        clip_edges.setdefault(int(j), []).append((float(u), b))

    if not found:
        # containment / disjoint, per op
        subj_in = bool(pip_ray(subj[:1, 0], subj[:1, 1], clip)[0])
        clip_in = bool(pip_ray(clip[:1, 0], clip[:1, 1], subj)[0])
        if op == "intersection":
            if subj_in:
                return [subj.copy()]
            if clip_in:
                return [clip.copy()]
            return []
        if op == "union":
            if subj_in:
                return [clip.copy()]
            if clip_in:
                return [subj.copy()]
            return [subj.copy(), clip.copy()]
        # difference
        if subj_in:
            return []
        if clip_in:
            # clip becomes a hole ring: reversed orientation, so signed
            # shoelace sums over the rings give the region area directly
            return [subj.copy(), clip[::-1].copy()]
        return [subj.copy()]

    snodes = _gh_build(subj, subj_edges)
    cnodes = _gh_build(clip, clip_edges)

    # phase 2: alternate entry/exit from the start vertex's status;
    # the op's polarity bit flips one or both lists (GH boolean trick)
    for nodes, other, flip in ((snodes, clip, flip_subj), (cnodes, subj, flip_clip)):
        inside = bool(
            pip_ray(
                np.array([nodes[0].xy[0]]), np.array([nodes[0].xy[1]]), other
            )[0]
        )
        status = (not inside) ^ flip
        for n in nodes:
            if n.inter:
                n.entry = status
                status = not status

    # phase 3: trace — forward from entries, backward from exits,
    # switch rings at every intersection, stop on return to the start
    traced: list[np.ndarray] = []
    inters = [n for n in snodes if n.inter]
    max_steps = 4 * (len(snodes) + len(cnodes))
    for start in inters:
        if start.visited:
            continue
        ring = [start.xy]
        start.visited = True
        start.nbr.visited = True
        start_pair = (start, start.nbr)
        cur = start
        steps = 0
        while True:
            steps += 1
            if steps > max_steps:
                raise ValueError(
                    "gh_intersection: non-terminating trace (degenerate "
                    "input outside general position?)"
                )
            forward = cur.entry
            while True:
                cur = cur.nxt if forward else cur.prv
                if cur.inter:
                    break
                ring.append(cur.xy)
            cur.visited = True
            cur.nbr.visited = True
            cur = cur.nbr
            if cur is start_pair[0] or cur is start_pair[1]:
                break
            ring.append(cur.xy)
        if len(ring) >= 3:
            traced.append(np.array(ring))
    # hole-aware orientation, batched (r3): a traced ring whose interior
    # belongs to the result region is an outer boundary (CCW); one whose
    # interior is outside the result is a hole the result wraps around
    # (e.g. a U's notch closed off by a union) — oriented CW so signed
    # sums and even-odd agree. Membership of ALL pieces against subj and
    # clip runs in two vectorized pip_ray calls (was 2 per piece).
    # NEAR-BOUNDARY interior points, not centroids [r3 review fix]: a
    # donut-forming union traces an outer ring whose centroid lies in
    # the enclosed hole, and testing membership THERE flips the outer
    # boundary to CW, corrupting every signed-area consumer. The
    # near-boundary point is inside the traced ring and inside the
    # region it bounds (same contract gh_clip_rings already uses).
    pieces = []
    if traced:
        pts = np.array([_near_boundary_interior_point(arr) for arr in traced])
        in_a = pip_ray(pts[:, 0], pts[:, 1], subj)
        in_b = pip_ray(pts[:, 0], pts[:, 1], clip)
        in_result = {
            "intersection": in_a & in_b,
            "union": in_a | in_b,
            "difference": in_a & ~in_b,
        }[op]
        for i, arr in enumerate(traced):
            # translation-stabilized sign [r5 sweep find]: the raw form
            # cancels to 0.0 on eps-sliver pieces at |coord| ~ 2 (true
            # area ~1e-16), silently reversing the traced orientation
            ccw = shoelace_area_local(arr[:, 0], arr[:, 1]) > 0.0
            pieces.append(arr if bool(in_result[i]) == ccw else arr[::-1])
    return pieces


def gh_clip_rings(
    a_rings: list[np.ndarray], b_rings: list[np.ndarray], op: str
) -> list[np.ndarray]:
    """Greiner–Hormann boolean of two MULTI-RING even-odd features
    (outer rings CCW, holes CW, disjoint parts — the engine's feature
    model). Returns the result's ring set, even-odd interpreted.

    Construction on top of the single-ring kernel's machinery:

    - intersections are spliced across EVERY (a-ring, b-ring) pair;
      entry/exit flags alternate from the ring's first-vertex parity
      against the WHOLE other ring set (`pip_rings`), with the op's
      polarity bit;
    - crossed-ring pieces trace exactly as in :func:`gh_clip`, and each
      traced ring is oriented by a near-boundary interior point tested
      against the op's membership predicate (near-boundary, not
      centroid: a traced region may contain another ring as a hole);
    - UNCROSSED rings are included whole by the parity rule
      (intersection: a-ring iff inside B, b-ring iff inside A; union:
      iff outside the other; difference: a-ring iff outside B, b-ring
      iff inside A) and keep their original orientation — except
      difference REVERSES included b-rings (the complement flips hole
      and outer roles: a hole of B inside A becomes an island of A∖B).

    General-position inputs (no tangency/collinear overlap) — raises
    loudly otherwise, like the single-ring kernel."""
    flip_a, flip_b = {
        "intersection": (False, False),
        "union": (True, True),
        "difference": (True, False),
    }[op]
    a_rings = [np.asarray(r, dtype=float) for r in a_rings]
    b_rings = [np.asarray(r, dtype=float) for r in b_rings]

    a_edges: list[dict[int, list]] = [{} for _ in a_rings]
    b_edges: list[dict[int, list]] = [{} for _ in b_rings]
    a_crossed = [False] * len(a_rings)
    b_crossed = [False] * len(b_rings)
    for ai, ra in enumerate(a_rings):
        for bi, rb in enumerate(b_rings):
            ia, ja, ts, us, pxs, pys = _seg_intersections_bulk(ra, rb)
            for i, j, t, u, px, py in zip(ia, ja, ts, us, pxs, pys):
                na = _GHNode((float(px), float(py)), inter=True, t=float(t))
                nb = _GHNode((float(px), float(py)), inter=True, t=float(u))
                na.nbr, nb.nbr = nb, na
                a_edges[ai].setdefault(int(i), []).append((float(t), na))
                b_edges[bi].setdefault(int(j), []).append((float(u), nb))
                a_crossed[ai] = b_crossed[bi] = True

    def _member(px, py, rings):
        return bool(pip_rings(np.array([px]), np.array([py]), rings)[0])

    def _member_checked(ring, others):
        """Membership of an UNCROSSED ring in the other ring set, with
        an independent consistency check [r3 verdict #1]: an uncrossed
        ring's boundary never crosses the other set's boundary, so ALL
        its boundary points share one membership parity — test TWO
        well-separated vertices and raise on disagreement (a vertex
        sitting within rounding of the other boundary reads an
        arbitrary side; the robust wrapper's retry then re-perturbs
        instead of silently keeping/dropping the whole ring)."""
        m0 = _member(ring[0][0], ring[0][1], others)
        j = len(ring) // 2
        if j > 0:
            m1 = _member(ring[j][0], ring[j][1], others)
            if m0 != m1:
                raise ValueError(
                    "uncrossed-ring membership inconsistent (near-"
                    "coincident boundary?)"
                )
        return m0

    out: list[np.ndarray] = []

    # uncrossed rings: whole-ring parity inclusion
    for ai, ra in enumerate(a_rings):
        if a_crossed[ai]:
            continue
        inside_b = _member_checked(ra, b_rings)
        keep = inside_b if op == "intersection" else not inside_b
        if keep:
            out.append(ra.copy())
    for bi, rb in enumerate(b_rings):
        if b_crossed[bi]:
            continue
        inside_a = _member_checked(rb, a_rings)
        keep = inside_a if op in ("intersection", "difference") else not inside_a
        if keep:
            out.append(rb[::-1].copy() if op == "difference" else rb.copy())

    # crossed rings: build node lists, flag, trace
    all_a_nodes = []
    ring_nodes = []
    for ai, ra in enumerate(a_rings):
        if not a_crossed[ai]:
            continue
        nodes = _gh_build(ra, a_edges[ai])
        ring_nodes.append((nodes, b_rings, flip_a))
        all_a_nodes.extend(n for n in nodes if n.inter)
    for bi, rb in enumerate(b_rings):
        if not b_crossed[bi]:
            continue
        nodes = _gh_build(rb, b_edges[bi])
        ring_nodes.append((nodes, a_rings, flip_b))

    for nodes, other, flip in ring_nodes:
        n_inter = sum(1 for n in nodes if n.inter)
        if n_inter % 2:
            # proper crossings of a closed curve with another closed
            # curve set always pair up; an odd count means a crossing
            # was found on one side but not its partner (numerically
            # marginal input) — the alternation below would be garbage
            raise ValueError("odd crossing count on ring (marginal input)")
        inside = _member(nodes[0].xy[0], nodes[0].xy[1], other)
        status = (not inside) ^ flip
        for n in nodes:
            if n.inter:
                n.entry = status
                status = not status

    max_steps = 8 * sum(len(nodes) for nodes, _o, _f in ring_nodes)
    traced: list[np.ndarray] = []
    for start in all_a_nodes:
        if start.visited:
            continue
        ring = [start.xy]
        start.visited = True
        start.nbr.visited = True
        start_pair = (start, start.nbr)
        cur = start
        steps = 0
        while True:
            steps += 1
            if steps > max_steps:
                raise ValueError(
                    "gh_clip_rings: non-terminating trace (degenerate input?)"
                )
            forward = cur.entry
            while True:
                cur = cur.nxt if forward else cur.prv
                if cur.inter:
                    break
                ring.append(cur.xy)
            cur.visited = True
            cur.nbr.visited = True
            cur = cur.nbr
            if cur is start_pair[0] or cur is start_pair[1]:
                break
            ring.append(cur.xy)
        if len(ring) >= 3:
            traced.append(np.array(ring))
    if traced:
        # batched orientation (r3): one near-boundary interior point per
        # traced piece, then membership of ALL pieces against each ring
        # set in two vectorized pip_rings calls — was 2 single-point
        # calls per piece, the dominant kernel cost on dense inputs.
        # Per-point arithmetic is broadcast-identical to the 1-point
        # calls, so orientations are bit-equal.
        pts = np.array([_near_boundary_interior_point(arr) for arr in traced])
        in_a = pip_rings(pts[:, 0], pts[:, 1], a_rings)
        in_b = pip_rings(pts[:, 0], pts[:, 1], b_rings)
        in_res = {
            "intersection": in_a & in_b,
            "union": in_a | in_b,
            "difference": in_a & ~in_b,
        }[op]
        for i, arr in enumerate(traced):
            # translation-stabilized sign (see gh_clip's twin comment)
            ccw = shoelace_area_local(arr[:, 0], arr[:, 1]) > 0.0
            out.append(arr if bool(in_res[i]) == ccw else arr[::-1])
    return out


def _near_boundary_interior_point(ring: np.ndarray) -> tuple[float, float]:
    """A point just inside the ring NEAR its boundary — robust when the
    region bounded by the ring contains other rings (a centroid could
    land in a contained hole): offset an edge midpoint along the inward
    normal by eps scaled to the ring's extent. All edge-midpoint
    candidates are tested in ONE vectorized pip_ray call (r3 — was a
    per-edge Python loop of 1-point calls); the first passing candidate
    in edge order is returned, bit-identical to the sequential scan."""
    span = max(
        float(ring[:, 0].max() - ring[:, 0].min()),
        float(ring[:, 1].max() - ring[:, 1].min()),
    )
    # offset scale: far enough above float rounding for the pip test
    # (>= ~500 ulp of the coordinate magnitude), but far BELOW any
    # boundary gap other rings of the arrangement may leave — an r4
    # clean-sweep counterexample had a perturbation-residue hole ring
    # 1.4e-10 from the outer boundary, and the old span*1e-7 offset
    # overshot INTO the hole, flipping the traced piece's orientation
    # (a consistent mis-orientation no identity check can see).
    coord_mag = max(
        abs(float(ring[:, 0].max())),
        abs(float(ring[:, 0].min())),
        abs(float(ring[:, 1].max())),
        abs(float(ring[:, 1].min())),
    )
    eps = 1e-13 * max(span, coord_mag)
    # translation-stabilized sign [r5 sweep find — the counterexample
    # that pinned this was a REAL 1.2e-7 x 1.1e-9 difference piece at
    # |coord| ~ 2 whose raw shoelace cancelled to exactly 0.0: sgn
    # flipped to -1, every candidate offset OUTWARD, and the robust
    # wrapper burned all five perturbed attempts on a non-error]
    sgn = 1.0 if shoelace_area_local(ring[:, 0], ring[:, 1]) > 0 else -1.0
    # fast path: the first edge's candidate almost always lands inside —
    # one scalar construction + one 1-point pip test (the batched
    # all-candidates fallback below is O(k^2) on the piece)
    ax, ay = float(ring[0, 0]), float(ring[0, 1])
    bx, by = float(ring[1, 0]), float(ring[1, 1])
    d0 = float(np.hypot(bx - ax, by - ay))
    if d0 > 0.0:
        # inward normal of a CCW ring edge is (-dy, dx)/ln
        m0x = (ax + bx) / 2.0 + sgn * (-(by - ay) / d0) * eps
        m0y = (ay + by) / 2.0 + sgn * ((bx - ax) / d0) * eps
        if pip_ray(np.array([m0x]), np.array([m0y]), ring)[0]:
            return float(m0x), float(m0y)
    x1 = ring[:, 0]
    y1 = ring[:, 1]
    x2 = rot1(x1)
    y2 = rot1(y1)
    dx = x2 - x1
    dy = y2 - y1
    ln = np.hypot(dx, dy)
    ok = ln > 0.0
    with np.errstate(divide="ignore", invalid="ignore"):
        mx = (x1 + x2) / 2.0 + sgn * (-dy / ln) * eps
        my = (y1 + y2) / 2.0 + sgn * (dx / ln) * eps
    hits = ok & pip_ray(np.where(ok, mx, 0.0), np.where(ok, my, 0.0), ring)
    i = int(np.argmax(hits))
    if hits[i]:
        return float(mx[i]), float(my[i])
    raise ValueError("no interior point found near ring boundary")


def _near_incidence(
    a_rings: list[np.ndarray], b_rings: list[np.ndarray], rel: float = 1e-12
) -> bool:
    """True iff any vertex of one ring set lies ON or NEAR (within
    rel·span perpendicular distance) an edge of the other
    (vertex-on-vertex included) — the coincidence class the GH kernel's
    general-position contract excludes.

    NEAR, not just exact [r4, found by the raised mosaic sweep]: a
    layer carrying denormal-scale offsets (vertex 5e-324 from the other
    side's edge) is not EXACTLY incident, but every true crossing's
    line parameter rounds to exactly 0.0/1.0 and gets rejected as
    non-proper — both rings then read "uncrossed" and the
    classification is consistent enough to pass every identity check.
    Any vertex within rel·span of an edge routes to the perturbed
    attempt, whose ~1e-9·span shift turns sub-resolution gaps into
    honest crossings. rel=1e-12 is far above float-rounding scale yet
    far below real-data feature separation, so clean fixtures keep
    their exact unperturbed results."""
    span = max(
        (
            max(
                float(r[:, 0].max() - r[:, 0].min()),
                float(r[:, 1].max() - r[:, 1].min()),
            )
            for r in a_rings + b_rings
        ),
        default=1.0,
    )
    tol = rel * max(span, 1e-300)

    def _hit(pts: np.ndarray, rings: list[np.ndarray]) -> bool:
        for ring in rings:
            # bbox prefilter (padded by tol): only points near the
            # ring's bbox can be near one of its edges — on dense
            # layers this collapses the candidate set before the
            # (N x K) cross-product broadcast
            sel = (
                (pts[:, 0] >= ring[:, 0].min() - tol)
                & (pts[:, 0] <= ring[:, 0].max() + tol)
                & (pts[:, 1] >= ring[:, 1].min() - tol)
                & (pts[:, 1] <= ring[:, 1].max() + tol)
            )
            cand = pts[sel]
            if len(cand) == 0:
                continue
            x1 = ring[:, 0]
            y1 = ring[:, 1]
            x2 = rot1(x1)
            y2 = rot1(y1)
            elen = np.hypot(x2 - x1, y2 - y1)
            k = len(ring)
            # chunk the point axis so the N*K float64 intermediate stays
            # ~4M elements (the same bound pip_ray uses) — this helper
            # runs as a pre-trigger on EVERY robust boolean call, and an
            # unchunked dense-pair call allocates multi-GB temporaries
            # [ADVICE r3 #1]
            chunk = max(1, int(4_000_000 // max(1, k)))
            for s in range(0, len(cand), chunk):
                px = cand[s : s + chunk, 0][:, None]
                py = cand[s : s + chunk, 1][:, None]
                cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
                # |cross| / edge_len = perpendicular distance; padded
                # bbox test bounds it to the segment (and catches
                # vertex-near-vertex when the edge is degenerate)
                on = (
                    (np.abs(cross) <= tol * elen)
                    & (px >= np.minimum(x1, x2) - tol)
                    & (px <= np.maximum(x1, x2) + tol)
                    & (py >= np.minimum(y1, y2) - tol)
                    & (py <= np.maximum(y1, y2) + tol)
                )
                if on.any():
                    return True
        return False

    a_pts = np.concatenate(a_rings) if a_rings else np.empty((0, 2))
    b_pts = np.concatenate(b_rings) if b_rings else np.empty((0, 2))
    return _hit(b_pts, a_rings) or _hit(a_pts, b_rings)


# historical name — the trigger class widened from exact to near in r4
_exact_incidence = _near_incidence


def _verification_frame(rings: list[np.ndarray]) -> np.ndarray:
    """Translation for the robust wrappers' identity checks: the bbox
    min of the combined ring set. Shoelace sums at offset-heavy
    coordinates (a cell-sized crop at WebMercator 2e6-scale offsets)
    cancel catastrophically — the identity residual of a CORRECT trace
    reaches ~2e-9 of the piece area, tripping rel_tol=1e-9 and burning
    every retry on a non-error [r4, found by the projected-coordinates
    regression test]. Evaluating the checks on translated copies makes
    the residual scale with span², not |coord|²; output geometry is
    never translated, so exact-path results stay bit-identical."""
    if not rings:
        return np.zeros(2)
    return np.array(
        [
            min(float(r[:, 0].min()) for r in rings),
            min(float(r[:, 1].min()) for r in rings),
        ]
    )


def _area_sum(rings: list[np.ndarray], frame: np.ndarray) -> float:
    return sum(
        shoelace_area(r[:, 0] - frame[0], r[:, 1] - frame[1]) for r in rings
    )


_GOLDEN_ANGLE = 2.399963229728653


def _attempt_shift(
    k: int, span: float, a_rings: list[np.ndarray], b_rings: list[np.ndarray]
) -> np.ndarray:
    """Perturbation vector for robust-retry attempt k >= 1. Magnitude
    grows 10x per attempt (span-scaled); DIRECTION is derived from a
    deterministic content hash of BOTH ring sets plus a golden-angle
    step per attempt — never a fixed direction.

    Why [r3 verdict counterexample]: with the old fixed eps*(1, phi)
    shift, an accumulator carrying a PRIOR fold's perturbation residue
    could meet an incoming ring perturbed by the exact same vector,
    re-manufacturing exact coincidence between them — the raw kernel
    then silently mis-traced (no proper intersections on coincident
    edge runs; vertex-exactly-on-edge parity reads), and the mis-trace
    was self-consistent enough to pass every identity check. Hashing
    the actual ring bytes decorrelates the direction from any residue
    (the residue itself changes the hash), and the golden-angle step
    decorrelates successive attempts. crc32, not hash(): results must
    be deterministic across Python workers (PYTHONHASHSEED varies)."""
    seed = 0
    for r in a_rings:
        seed = zlib.crc32(r.tobytes(), seed)
    for r in b_rings:
        seed = zlib.crc32(r.tobytes(), seed)
    eps = span * 1e-9 * (10.0 ** (k - 1))
    theta = 2.0 * np.pi * (seed / 4294967296.0) + k * _GOLDEN_ANGLE
    return np.array([eps * np.cos(theta), eps * np.sin(theta)])


def _spread_shifts(
    a_rings: list[np.ndarray], k: int, span: float, eps_rel: float = 1e-10
) -> list[np.ndarray]:
    """Per-ring perturbation vectors for the A-SPREAD last-resort tier
    of the robust wrappers [r5 sweep find: a subject SET whose own
    rings carry a SUB-TOLERANCE edge gap (boxes 1e-308 apart entered
    the union fold's accumulator via the strictly-disjoint concat, a
    third box then bridged the gap) mis-traces on EVERY b-shift
    attempt — shifting the clip side uniformly can never separate a
    coincidence internal to the subject set]. Each A ring gets its own
    content-hash + golden-angle direction (ring INDEX mixed into the
    seed so exact-duplicate rings still separate), at a FIXED
    eps_rel·span magnitude: far above the 1e-12·span near-incidence
    window, far below the 1e-9 identity-tolerance budget — growth is
    pointless because the class this tier resolves is by definition
    below the near-incidence window."""
    eps = max(span, 1e-300) * eps_rel
    shifts = []
    for i, r in enumerate(a_rings):
        seed = zlib.crc32(r.tobytes(), (i * 2654435761) & 0xFFFFFFFF)
        theta = 2.0 * np.pi * (seed / 4294967296.0) + k * _GOLDEN_ANGLE
        shifts.append(np.array([eps * np.cos(theta), eps * np.sin(theta)]))
    return shifts


def _local_anchor(rings: list[np.ndarray]):
    """Offset-heavy detection for the robust wrappers: when coordinate
    MAGNITUDE dwarfs the ring EXTENT (|x| > 64·span), the kernel's
    extent-scaled thresholds (near-incidence 1e-12·span, perturbation
    eps from span·1e-9) sink below the magnitude-scaled arithmetic
    noise (~100 ulp of |x|) and every perturbed attempt fails [r4 hunt
    find: 5e5-offset 3-unit boxes exhausted all 5 attempts]. Returns
    the floor of the joint bbox min to trace in a local frame, or None
    when magnitude ≈ extent — so every small-coordinate input keeps its
    bitwise-identical path. floor(): integer anchors keep
    integer-coordinate fixtures exact through translate + trace +
    translate-back."""
    if not rings:
        return None
    x_lo = min(float(r[:, 0].min()) for r in rings)
    x_hi = max(float(r[:, 0].max()) for r in rings)
    y_lo = min(float(r[:, 1].min()) for r in rings)
    y_hi = max(float(r[:, 1].max()) for r in rings)
    span = max(x_hi - x_lo, y_hi - y_lo, 1e-300)
    mag = max(abs(x_lo), abs(x_hi), abs(y_lo), abs(y_hi))
    if mag <= 64.0 * span:
        return None
    return np.array([np.floor(x_lo), np.floor(y_lo)])


def gh_clip_rings_robust(
    a_rings: list[np.ndarray],
    b_rings: list[np.ndarray],
    op: str,
    rel_tol: float = 1e-9,
    max_tries: int = 5,
) -> list[np.ndarray]:
    """gh_clip_rings with a degeneracy net for real-world layers
    [NEXT r3 #2]: the kernel assumes general position — tangency,
    collinear overlap, or vertex-on-edge can either raise or silently
    mis-trace. This wrapper (1) verifies the boolean identity
    |A∩B| + |A∖B| = |A| on every attempt (a mis-trace breaks it), and
    (2) on failure retries with the clip side nudged by a tiny
    content-hash-directed translation (:func:`_attempt_shift`, ε scaled
    to the data and growing per try) that breaks symbolic coincidences
    while moving results by O(ε·perimeter) — far below rel_tol for real
    data. Every PERTURBED attempt re-checks exact incidence on the
    shifted geometry before calling the raw kernel [r3 verdict: a fold
    accumulator carrying a prior attempt's residue met an identically-
    shifted clip and became exactly coincident again — the raw kernel
    mis-traced consistently enough to pass all identity checks].
    Raises only if every perturbed attempt still fails."""
    a_rings = [np.asarray(r, dtype=float) for r in a_rings]
    b_rings = [np.asarray(r, dtype=float) for r in b_rings]
    anchor = _local_anchor(a_rings + b_rings)
    if anchor is not None:
        moved = gh_clip_rings_robust(
            [r - anchor for r in a_rings],
            [r - anchor for r in b_rings],
            op,
            rel_tol,
            max_tries,
        )
        return [g + anchor for g in moved]
    frame = _verification_frame(a_rings + b_rings)
    area_a = _area_sum(a_rings, frame)
    area_b = _area_sum(b_rings, frame)
    span = max(
        (
            max(float(r[:, 0].max() - r[:, 0].min()), float(r[:, 1].max() - r[:, 1].min()))
            for r in a_rings + b_rings
        ),
        default=1.0,
    )
    last_err: Exception | None = None
    # SYMBOLIC-COINCIDENCE pre-trigger [found by the hypothesis sweep]:
    # a vertex of one side lying EXACTLY on an edge of the other (axis-
    # aligned real data does this constantly) can make the no-crossing
    # classification mis-read CONSISTENTLY — two offset boxes sharing
    # collinear edge runs returned union=|A| with every identity AND
    # measure bound satisfied. Exact incidence is a float-equality
    # event, so detect it directly and start at the perturbed attempt;
    # clean disjoint/crossing geometry keeps its exact unperturbed
    # result.
    start = 1 if _exact_incidence(a_rings, b_rings) else 0
    # A-SPREAD last-resort tier [r5 sweep find — see _spread_shifts]:
    # after the b-shift attempts exhaust, perturb each SUBJECT ring by
    # its own direction (a coincidence INTERNAL to the subject set —
    # sub-tolerance gaps between accumulator rings — is invariant under
    # any uniform clip-side shift, so without this tier every attempt
    # is doomed). Only multi-ring subjects can carry the class.
    spread_tries = 3 if len(a_rings) > 1 else 0
    for k in range(start, max_tries + spread_tries):
        if k == 0:
            a_try, b_try = a_rings, b_rings
            area_ref = area_a
        elif k < max_tries:
            a_try = a_rings
            area_ref = area_a
            shift = _attempt_shift(k, span, a_rings, b_rings)
            b_try = [r + shift for r in b_rings]
            if _exact_incidence(a_rings, b_try):
                # the shift re-manufactured an exact coincidence (e.g.
                # against a prior fold's residue) — never hand that to
                # the raw kernel; the next attempt's direction differs
                last_err = ValueError("perturbed attempt still incident")
                continue
        else:
            a_try = [
                r + s for r, s in zip(a_rings, _spread_shifts(a_rings, k, span))
            ]
            b_try = b_rings
            # per-ring translation keeps each signed ring area; the
            # identity must still compare against the SPREAD subject
            area_ref = _area_sum(a_try, frame)
            if _exact_incidence(a_try, b_try):
                last_err = ValueError("spread attempt still incident")
                continue
        try:
            inter = gh_clip_rings(a_try, b_try, "intersection")
            diff = gh_clip_rings(a_try, b_try, "difference")
            got = _area_sum(inter + diff, frame)
            scale = max(abs(area_ref), 1.0)
            if abs(got - area_ref) > rel_tol * scale:
                raise ValueError(
                    f"boolean identity violated (|got-area|={abs(got - area_ref)!r})"
                )
            # measure-monotonicity net [found by the hypothesis sweep]:
            # FULLY COINCIDENT boundaries (duplicate features) mis-trace
            # in a way the sum identities are blind to — identical boxes
            # gave inter=2|A|, diff=-|A| (sums to |A|!), union=0. These
            # bounds hold for ANY regions, so a violation is always a
            # mis-trace; the perturb retry then resolves it to within
            # O(eps * perimeter). Exact results on clean adjacent
            # geometry are untouched (bounds hold there unperturbed).
            i_got = _area_sum(inter, frame)
            d_got = got - i_got
            tol = rel_tol * max(abs(area_ref) + abs(area_b), 1.0)
            if not (-tol <= i_got <= min(area_ref, area_b) + tol):
                raise ValueError("intersection measure out of bounds")
            if not (-tol <= d_got <= area_ref + tol):
                raise ValueError("difference measure out of bounds")
            if op == "intersection":
                return inter
            if op == "difference":
                return diff
            union = gh_clip_rings(a_try, b_try, "union")
            u_got = _area_sum(union, frame)
            if abs(u_got - (area_ref + area_b - i_got)) > tol:
                raise ValueError("union identity violated")
            if u_got < max(area_ref, area_b) - tol:
                raise ValueError("union measure out of bounds")
            return union
        except ValueError as e:
            last_err = e
            continue
    raise ValueError(
        f"gh_clip_rings_robust: degenerate input not resolved after "
        f"{max_tries} perturbed attempts"
    ) from last_err


def union_many(rings: list[np.ndarray]) -> list[np.ndarray]:
    """Union of MANY simple polygons — the -dissolve2 kernel
    (overlap-tolerant dissolve [upstream -dissolve2]; arc-cancellation
    dissolve assumes clean shared borders, this one merges genuinely
    overlapping shapes).

    Even-odd ring-set fold [VERDICT r2 #3]: the accumulator is a
    multi-ring even-odd feature (outer rings CCW, holes CW), and each
    incoming polygon joins it through the multi-ring GH union — so
    donut-forming merges (two C-shapes closing a ring) produce the hole
    ring instead of raising. Every step goes through
    :func:`gh_clip_rings_robust`, which verifies the boolean identities
    and ε-perturb-retries degenerate touches.

    Returns the union's ring set; Σ signed ring areas = the union
    measure (holes subtract)."""
    acc: list[np.ndarray] = []
    boxes: list[tuple] = []
    for ring in rings:
        ring = np.asarray(ring, dtype=float)
        # each input is a polygon boundary, not a hole — normalize CCW
        # so uncrossed-kept rings contribute positive signed area
        # (translation-stabilized: raw shoelace can cancel to 0.0 or
        # flip sign on tiny rings away from the origin)
        if shoelace_area_local(ring[:, 0], ring[:, 1]) < 0.0:
            ring = ring[::-1]
        bb = (
            float(ring[:, 0].min()),
            float(ring[:, 1].min()),
            float(ring[:, 0].max()),
            float(ring[:, 1].max()),
        )
        if not acc:
            acc = [ring.copy()]
            boxes = [bb]
            continue
        # STRICTLY bbox-disjoint from EVERY accumulator ring → the ring
        # lies outside the region (ring bboxes cover their interiors,
        # so being inside any face would intersect that ring's bbox):
        # the union is the disjoint concatenation, kernel skipped — the
        # dominant win on multi-cluster layers, where the robust
        # kernel's per-call verification is the fold's cost
        if all(
            bb[2] < b[0] or b[2] < bb[0] or bb[3] < b[1] or b[3] < bb[1]
            for b in boxes
        ):
            acc.append(ring.copy())
            boxes.append(bb)
            continue
        acc = gh_clip_rings_robust(acc, [ring], "union")
        boxes = [
            (
                float(g[:, 0].min()),
                float(g[:, 1].min()),
                float(g[:, 0].max()),
                float(g[:, 1].max()),
            )
            for g in acc
        ]
    return acc


def union_ring_sets(ring_sets: list[list[np.ndarray]]) -> list[np.ndarray]:
    """Union of MANY even-odd ring SETS (each a feature: outer rings
    CCW, holes CW) — the holed-input generalization of
    :func:`union_many`, which normalizes every input ring CCW and so
    would flip a hole into a positive polygon. Every step goes through
    :func:`gh_clip_rings_robust`; adjacent sets sharing coincident
    boundary runs (e.g. the faces of one planar arrangement) are
    exactly the degeneracy class the robust wrapper perturb-retries."""
    acc: list[np.ndarray] = []
    for rs in ring_sets:
        rs = [np.asarray(r, dtype=float) for r in rs]
        if not acc:
            acc = [r.copy() for r in rs]
            continue
        # same disjoint-concatenation short-circuit as union_many: the
        # incoming SET's bbox strictly missing every accumulator ring's
        # bbox makes the regions disjoint, and even-odd sets union by
        # concatenation
        x0 = min(float(r[:, 0].min()) for r in rs)
        y0 = min(float(r[:, 1].min()) for r in rs)
        x1 = max(float(r[:, 0].max()) for r in rs)
        y1 = max(float(r[:, 1].max()) for r in rs)
        if all(
            x1 < float(g[:, 0].min())
            or float(g[:, 0].max()) < x0
            or y1 < float(g[:, 1].min())
            or float(g[:, 1].max()) < y0
            for g in acc
        ):
            acc = acc + [r.copy() for r in rs]
            continue
        acc = gh_clip_rings_robust(acc, rs, "union")
    return acc


def shoelace_area(xs: np.ndarray, ys: np.ndarray) -> float:
    """Signed area of a ring (positive = CCW)."""
    return 0.5 * float(np.dot(xs, rot1(ys)) - np.dot(rot1(xs), ys))


def shoelace_area_local(xs: np.ndarray, ys: np.ndarray) -> float:
    """Translation-stabilized signed area: shoelace about the ring's
    first vertex. The raw form's cross products are ~|coord|² while the
    area is ~extent², so offset-heavy coordinates (|x| ≫ extent) cancel
    catastrophically — a 2e6-offset 20-unit² ring loses 5 significant
    digits [the same class the robust kernel's identity checks already
    translate for]. Used for OUTPUT area columns whose oracles round
    (the ring emitters); raw :func:`shoelace_area` stays the kernel for
    exact-hash oracles whose integer fixtures keep it exact."""
    return shoelace_area(xs - xs[0], ys - ys[0])


def ring_centroid(xs: np.ndarray, ys: np.ndarray) -> tuple[float, float]:
    cross = xs * rot1(ys) - rot1(xs) * ys
    a = cross.sum() / 2.0
    if a == 0.0:
        return float(xs.mean()), float(ys.mean())
    cx = float(((xs + rot1(xs)) * cross).sum() / (6.0 * a))
    cy = float(((ys + rot1(ys)) * cross).sum() / (6.0 * a))
    return cx, cy


def shoelace_seq_local(xs, ys) -> tuple[float, float, float]:
    """Gated translation-stabilized :func:`shoelace_seq`: BITWISE
    identical when |coord| <= 64·span — every oracle fixture, so the
    SQL-sequential-sum matching contract is untouched — and computed
    about floor(min) anchors when magnitude dwarfs extent [r4 faces
    probe: a 12×12 unit grid shifted to 2e6 returned per-face areas of
    1.0 ± 4.9e-4 through the raw form]. The centroid accumulators map
    back exactly: centroid_global = centroid_local + anchor, so
    sx = sx_local + 3·a2·ax (and likewise sy)."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0.0
    fx = [float(v) for v in xs]
    fy = [float(v) for v in ys]
    x_lo, x_hi = min(fx), max(fx)
    y_lo, y_hi = min(fy), max(fy)
    span = max(x_hi - x_lo, y_hi - y_lo, 1e-300)
    mag = max(abs(x_lo), abs(x_hi), abs(y_lo), abs(y_hi))
    if mag <= 64.0 * span:
        return shoelace_seq(xs, ys)
    ax, ay = float(np.floor(x_lo)), float(np.floor(y_lo))
    a2, sx, sy = shoelace_seq([v - ax for v in fx], [v - ay for v in fy])
    return a2, sx + 3.0 * a2 * ax, sy + 3.0 * a2 * ay


def shoelace_seq(xs, ys) -> tuple[float, float, float]:
    """Sequential-order shoelace accumulators (a2, sx, sy):
    a2 = Σ cross_i, sx = Σ (x_i+x_j)·cross_i, sy = Σ (y_i+y_j)·cross_i.

    Plain left-to-right float accumulation in ring order — bit-identical
    to a SQL ``sum()`` over the edge relation in ring order, which is
    what the DuckDB oracle computes (np.sum's pairwise summation would
    NOT match). centroid = (sx/(3·a2), sy/(3·a2)); area = a2/2.
    """
    a2 = sx = sy = 0.0
    n = len(xs)
    for i in range(n):
        x1, y1 = float(xs[i]), float(ys[i])
        x2, y2 = float(xs[(i + 1) % n]), float(ys[(i + 1) % n])
        cr = x1 * y2 - x2 * y1
        a2 += cr
        sx += (x1 + x2) * cr
        sy += (y1 + y2) * cr
    return a2, sx, sy


def path_length(xs: np.ndarray, ys: np.ndarray) -> float:
    return float(np.hypot(np.diff(xs), np.diff(ys)).sum())


# --------------------------------------------------------------- simplify ---


def visvalingam_thresholds(xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Per-vertex removal thresholds (effective areas), Visvalingam.

    mapshaper's signature trick [SURVEY.md §2.7]: compute once, then any
    simplification level is a filter ``thr >= t``. Endpoints get +inf.
    Thresholds are made monotonic along the removal order (each removed
    vertex's threshold >= the previous one) exactly as upstream does, so
    filtering by any t yields a consistent vertex set.

    O(n^2) worst case in this simple argmin loop; arcs are short (<< 1e4
    vertices) so a heap buys nothing at our arc sizes.
    """
    n = len(xs)
    thr = np.full(n, np.inf)
    if n <= 2:
        return thr
    # doubly linked list over surviving vertices
    prev = np.arange(-1, n - 1)
    nxt = np.arange(1, n + 1)
    alive = np.ones(n, dtype=bool)
    alive_area = np.full(n, np.inf)

    def tri_area(a: int, b: int, c: int) -> float:
        return 0.5 * abs(
            (xs[b] - xs[a]) * (ys[c] - ys[a]) - (xs[c] - xs[a]) * (ys[b] - ys[a])
        )

    for i in range(1, n - 1):
        alive_area[i] = tri_area(i - 1, i, i + 1)
    max_so_far = 0.0
    for _ in range(n - 2):
        i = int(np.argmin(alive_area))
        a = alive_area[i]
        if not np.isfinite(a):
            break
        max_so_far = max(max_so_far, a)
        thr[i] = max_so_far  # monotonic enforcement
        alive[i] = False
        alive_area[i] = np.inf
        p, q = prev[i], nxt[i]
        nxt[p], prev[q] = q, p
        if p > 0 and alive[p]:
            alive_area[p] = tri_area(prev[p], p, nxt[p])
        if q < n - 1 and alive[q]:
            alive_area[q] = tri_area(prev[q], q, nxt[q])
    return thr


def visvalingam_weighted_thresholds(
    xs: np.ndarray, ys: np.ndarray, coeff: float = 0.7
) -> np.ndarray:
    """Weighted Visvalingam — upstream's default ``-simplify`` method
    [SURVEY.md §2.7 'weighted' variant; public mapshaper docs describe it
    as Visvalingam with preferential spike removal].

    Effective area is scaled by an angle weight before entering the
    removal queue: weight = 1 − coeff·cosθ, where θ is the angle at the
    vertex between the vectors to its neighbors. A spike (both vectors
    nearly parallel, cosθ→1) gets weight 1−coeff → removed earlier than
    its raw area implies; a gentle bend (cosθ→−1) gets 1+coeff. Same
    monotonic-threshold and linked-list structure as the unweighted
    kernel, so ``thr >= t`` levels stay nested."""
    n = len(xs)
    thr = np.full(n, np.inf)
    if n <= 2:
        return thr
    prev = np.arange(-1, n - 1)
    nxt = np.arange(1, n + 1)
    alive = np.ones(n, dtype=bool)
    alive_area = np.full(n, np.inf)

    def weighted_area(a: int, b: int, c: int) -> float:
        area = 0.5 * abs(
            (xs[b] - xs[a]) * (ys[c] - ys[a]) - (xs[c] - xs[a]) * (ys[b] - ys[a])
        )
        ux, uy = xs[a] - xs[b], ys[a] - ys[b]
        vx, vy = xs[c] - xs[b], ys[c] - ys[b]
        den = np.hypot(ux, uy) * np.hypot(vx, vy)
        cos = (ux * vx + uy * vy) / den if den > 0 else 0.0
        return area * (1.0 - coeff * cos)

    for i in range(1, n - 1):
        alive_area[i] = weighted_area(i - 1, i, i + 1)
    max_so_far = 0.0
    for _ in range(n - 2):
        i = int(np.argmin(alive_area))
        a = alive_area[i]
        if not np.isfinite(a):
            break
        max_so_far = max(max_so_far, a)
        thr[i] = max_so_far
        alive[i] = False
        alive_area[i] = np.inf
        p, q = prev[i], nxt[i]
        nxt[p], prev[q] = q, p
        if p > 0 and alive[p]:
            alive_area[p] = weighted_area(prev[p], p, nxt[p])
        if q < n - 1 and alive[q]:
            alive_area[q] = weighted_area(prev[q], q, nxt[q])
    return thr


def visvalingam_thresholds_lonlat(xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """planar=false mode for geographic coordinates [upstream applies a
    spherical-area variant when input is lonlat, SURVEY.md §2.7]:
    effective areas on an equirectangular projection with longitudes
    scaled by cos(mean arc latitude), so a high-latitude arc's east-west
    extent doesn't inflate its retention thresholds. Adequate for
    arc-sized extents (the per-arc mean-latitude approximation);
    thresholds are in scaled deg² — rows-only territory (cos is
    transcendental)."""
    xs = np.asarray(xs, dtype=float)
    ys = np.asarray(ys, dtype=float)
    return visvalingam_thresholds(xs * np.cos(np.deg2rad(ys.mean())), ys)


def dp_thresholds(xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Douglas-Peucker per-vertex max perpendicular distances.

    Iterative stack (no recursion limits). Endpoints +inf. Like upstream,
    child thresholds are capped at the parent's so the retained set is
    nested across levels.
    """
    n = len(xs)
    thr = np.full(n, np.inf)
    if n <= 2:
        return thr
    stack = [(0, n - 1, np.inf)]
    while stack:
        lo, hi, cap = stack.pop()
        if hi - lo < 2:
            continue
        x1, y1, x2, y2 = xs[lo], ys[lo], xs[hi], ys[hi]
        dx, dy = x2 - x1, y2 - y1
        seg = np.hypot(dx, dy)
        ix = np.arange(lo + 1, hi)
        if seg == 0.0:
            d = np.hypot(xs[ix] - x1, ys[ix] - y1)
        else:
            d = np.abs(dy * xs[ix] - dx * ys[ix] + x2 * y1 - y2 * x1) / seg
        krel = int(np.argmax(d))
        k = lo + 1 + krel
        dmax = min(float(d[krel]), cap)
        thr[k] = dmax
        stack.append((lo, k, dmax))
        stack.append((k, hi, dmax))
    return thr


def apply_threshold(
    xs: np.ndarray, ys: np.ndarray, thr: np.ndarray, t: float
) -> tuple[np.ndarray, np.ndarray]:
    keep = thr >= t
    keep[0] = keep[-1] = True
    return xs[keep], ys[keep]


# ------------------------------------------------------------------- clip ---


def clip_ring_convex(
    xs: np.ndarray, ys: np.ndarray, clip_ring: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Sutherland-Hodgman: clip a subject ring by a convex CCW window."""
    sx, sy = list(xs), list(ys)
    k = len(clip_ring)
    for j in range(k):
        if not sx:
            break
        x1, y1 = clip_ring[j]
        x2, y2 = clip_ring[(j + 1) % k]
        ex, ey = x2 - x1, y2 - y1
        nx_, ny_ = [], []
        m = len(sx)
        for i in range(m):
            ax, ay = sx[i], sy[i]
            bx, by = sx[(i + 1) % m], sy[(i + 1) % m]
            da = ex * (ay - y1) - ey * (ax - x1)
            db = ex * (by - y1) - ey * (bx - x1)
            if da >= 0:
                nx_.append(ax)
                ny_.append(ay)
            if (da >= 0) != (db >= 0):
                t = da / (da - db)
                nx_.append(ax + t * (bx - ax))
                ny_.append(ay + t * (by - ay))
        sx, sy = nx_, ny_
    return np.asarray(sx), np.asarray(sy)


def clip_ring_bbox(
    xs: np.ndarray, ys: np.ndarray, xmin: float, ymin: float, xmax: float, ymax: float
) -> tuple[np.ndarray, np.ndarray]:
    box = np.array([[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax]])
    return clip_ring_convex(xs, ys, box)


def clip_polyline_convex(
    xs: np.ndarray, ys: np.ndarray, ring: np.ndarray
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Clip an open polyline by a convex CCW window (Cyrus–Beck per
    segment, pieces chained back into maximal sub-polylines).

    Returns a list of (xs, ys) pieces, each with >= 2 vertices.
    """
    k = len(ring)
    ex = rot1(ring[:, 0]) - ring[:, 0]
    ey = rot1(ring[:, 1]) - ring[:, 1]
    # inward normal of a CCW edge = (-ey, ex)
    nx_, ny_ = -ey, ex
    pieces: list[tuple[list, list]] = []
    cur_x: list = []
    cur_y: list = []
    prev_exit = False
    for i in range(len(xs) - 1):
        ax, ay, bx, by = xs[i], ys[i], xs[i + 1], ys[i + 1]
        dx, dy = bx - ax, by - ay
        t0, t1 = 0.0, 1.0
        ok = True
        for j in range(k):
            D = dx * nx_[j] + dy * ny_[j]
            W = (ax - ring[j, 0]) * nx_[j] + (ay - ring[j, 1]) * ny_[j]
            if D == 0.0:
                if W < 0.0:
                    ok = False
                    break
            else:
                t = -W / D
                if D > 0.0:
                    if t > t0:
                        t0 = t
                else:
                    if t < t1:
                        t1 = t
            if t0 > t1:
                ok = False
                break
        if not ok:
            prev_exit = False
            continue
        px0, py0 = ax + t0 * dx, ay + t0 * dy
        px1, py1 = ax + t1 * dx, ay + t1 * dy
        if t0 == 0.0 and prev_exit and cur_x:
            cur_x.append(px1)
            cur_y.append(py1)
        else:
            if cur_x:
                pieces.append((cur_x, cur_y))
            cur_x, cur_y = [px0, px1], [py0, py1]
        prev_exit = t1 == 1.0
    if cur_x:
        pieces.append((cur_x, cur_y))
    return [(np.asarray(a), np.asarray(b)) for a, b in pieces if len(a) >= 2]


# -------------------------------------------------------------- rasterize ---


def rasterize_ring(
    xs: np.ndarray,
    ys: np.ndarray,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
    w: int,
    h: int,
) -> np.ndarray:
    """Even-odd scanline fill of a ring onto a w x h grid over the bbox.

    Row 0 is the TOP of the tile (image convention). Pixel centers are
    sampled; returns uint8 mask. This is the raster<->vector tile sink
    kernel [BASELINE.json north_rule "raster<->vector"].
    """
    out = np.zeros((h, w), dtype=np.uint8)
    if len(xs) < 3:
        return out
    px_y = ymax - (np.arange(h) + 0.5) * (ymax - ymin) / h
    x1s, y1s = xs, ys
    x2s, y2s = rot1(xs), rot1(ys)
    for r in range(h):
        yc = px_y[r]
        crosses = (y1s > yc) != (y2s > yc)
        if not crosses.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1s[crosses] + (yc - y1s[crosses]) * (x2s[crosses] - x1s[crosses]) / (
                y2s[crosses] - y1s[crosses]
            )
        xint.sort()
        cols = np.floor((xint - xmin) * w / (xmax - xmin) - 0.5).astype(np.int64)
        for a, b in zip(cols[0::2], cols[1::2]):
            lo, hi = max(a + 1, 0), min(b, w - 1)
            if hi >= lo:
                out[r, lo : hi + 1] = 1
    return out


# -------------------------------------------------------------- distances ---


def haversine_km(ax, ay, bx, by) -> np.ndarray:
    la1, lo1, la2, lo2 = map(np.radians, (ay, ax, by, bx))
    h = np.sin((la2 - la1) / 2) ** 2 + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2
    return 2 * 6371.0088 * np.arcsin(np.sqrt(h))


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio between two uint8 pixel arrays."""
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def gh_split_rings_robust(
    a_rings: list[np.ndarray],
    b_rings: list[np.ndarray],
    rel_tol: float = 1e-9,
    max_tries: int = 5,
    want_union: bool = False,
):
    """(A ∩ B, A ∖ B) in ONE verified pass — the face-split primitive
    the mosaic family folds over [hypothesis sweep r3: the raw kernel
    crashes or silently corrupts on coincident layers — duplicate
    features, shared edge runs — which the general-position fixture
    oracles never exercise]. Same net as :func:`gh_clip_rings_robust`:
    symbolic-incidence pre-trigger, boolean-identity + measure-bound
    verification, ε-perturb retry on failure — but both outputs come
    from the same attempt, so the split costs one verification instead
    of two wrapped calls."""
    a_rings = [np.asarray(r, dtype=float) for r in a_rings]
    b_rings = [np.asarray(r, dtype=float) for r in b_rings]
    if not a_rings:
        empty_u = [r.copy() for r in b_rings]
        return ([], [], empty_u) if want_union else ([], [])
    if not b_rings:
        keep = [r.copy() for r in a_rings]
        return (
            ([], keep, [r.copy() for r in a_rings]) if want_union else ([], keep)
        )
    anchor = _local_anchor(a_rings + b_rings)
    if anchor is not None:
        moved = gh_split_rings_robust(
            [r - anchor for r in a_rings],
            [r - anchor for r in b_rings],
            rel_tol,
            max_tries,
            want_union,
        )
        return tuple([g + anchor for g in part] for part in moved)
    frame = _verification_frame(a_rings + b_rings)
    area_a = _area_sum(a_rings, frame)
    area_b = _area_sum(b_rings, frame)
    span = max(
        (
            max(float(r[:, 0].max() - r[:, 0].min()), float(r[:, 1].max() - r[:, 1].min()))
            for r in a_rings + b_rings
        ),
        default=1.0,
    )
    last_err: Exception | None = None
    start = 1 if _exact_incidence(a_rings, b_rings) else 0
    # A-SPREAD last-resort tier — see gh_clip_rings_robust / _spread_shifts
    spread_tries = 3 if len(a_rings) > 1 else 0
    for k in range(start, max_tries + spread_tries):
        if k == 0:
            a_try, b_try = a_rings, b_rings
            area_ref = area_a
        elif k < max_tries:
            a_try = a_rings
            area_ref = area_a
            shift = _attempt_shift(k, span, a_rings, b_rings)
            b_try = [r + shift for r in b_rings]
            if _exact_incidence(a_rings, b_try):
                # see gh_clip_rings_robust: residue re-coincidence guard
                last_err = ValueError("perturbed attempt still incident")
                continue
        else:
            a_try = [
                r + s for r, s in zip(a_rings, _spread_shifts(a_rings, k, span))
            ]
            b_try = b_rings
            area_ref = _area_sum(a_try, frame)
            if _exact_incidence(a_try, b_try):
                last_err = ValueError("spread attempt still incident")
                continue
        try:
            inter = gh_clip_rings(a_try, b_try, "intersection")
            diff = gh_clip_rings(a_try, b_try, "difference")
            got = _area_sum(inter + diff, frame)
            scale = max(abs(area_ref), 1.0)
            if abs(got - area_ref) > rel_tol * scale:
                raise ValueError("boolean identity violated")
            i_got = _area_sum(inter, frame)
            d_got = got - i_got
            tol = rel_tol * max(abs(area_ref) + abs(area_b), 1.0)
            if not (-tol <= i_got <= min(area_ref, area_b) + tol):
                raise ValueError("intersection measure out of bounds")
            if not (-tol <= d_got <= area_ref + tol):
                raise ValueError("difference measure out of bounds")
            if not want_union:
                return inter, diff
            union = gh_clip_rings(a_try, b_try, "union")
            u_got = _area_sum(union, frame)
            if abs(u_got - (area_ref + area_b - i_got)) > tol:
                raise ValueError("union identity violated")
            if u_got < max(area_ref, area_b) - tol:
                raise ValueError("union measure out of bounds")
            return inter, diff, union
        except ValueError as e:
            last_err = e
            continue
    raise ValueError(
        f"gh_split_rings_robust: degenerate input not resolved after "
        f"{max_tries} perturbed attempts"
    ) from last_err
