"""Polygon clip / overlap joins — the convex-window overlay family
[SURVEY.md §2.3 polygon↔polygon join, §2.6 -clip on polygon layers].

Scope: clip windows are convex (Sutherland–Hodgman is exact there);
general planar overlay (-union/-mosaic/-clean) is explicitly out of MVS
[SURVEY.md §7.5]. Distribution shape: bbox-candidate equi-pairs via the
cell grid, then the numpy S-H kernel per candidate pair inside
``applyInPandas`` — the same two-phase prune-then-exact pattern as PIP.

largest-overlap attribution (upstream ``-join`` polygon↔polygon with the
largest-overlap option) = intersection-area kernel → window argmax with
a stable (area desc, source_id) tiebreak.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import geometry


def _bbox_cols(df: DataFrame, prefix: str) -> DataFrame:
    return (
        df.withColumn(f"{prefix}_xmin", F.array_min("xs"))
        .withColumn(f"{prefix}_xmax", F.array_max("xs"))
        .withColumn(f"{prefix}_ymin", F.array_min("ys"))
        .withColumn(f"{prefix}_ymax", F.array_max("ys"))
    )


def _candidate_pairs(subject: DataFrame, clip: DataFrame) -> DataFrame:
    """bbox-overlap candidate pairs (broadcast the clip layer — it is the
    dim side; at scale swap for the cell-grid equi-join)."""
    s = _bbox_cols(subject, "s").select(
        F.col("poly_id").alias("subject_id"),
        F.col("xs").alias("sxs"),
        F.col("ys").alias("sys"),
        "s_xmin",
        "s_xmax",
        "s_ymin",
        "s_ymax",
    )
    c = _bbox_cols(clip, "c").select(
        F.col("poly_id").alias("clip_id"),
        F.col("xs").alias("cxs"),
        F.col("ys").alias("cys"),
        "c_xmin",
        "c_xmax",
        "c_ymin",
        "c_ymax",
    )
    cond = (
        (F.col("s_xmin") <= F.col("c_xmax"))
        & (F.col("s_xmax") >= F.col("c_xmin"))
        & (F.col("s_ymin") <= F.col("c_ymax"))
        & (F.col("s_ymax") >= F.col("c_ymin"))
    )
    return s.join(F.broadcast(c), cond).select(
        "subject_id", "sxs", "sys", "clip_id", "cxs", "cys"
    )


def clip_polygons(subject: DataFrame, clip: DataFrame) -> DataFrame:
    """-clip with a (convex) polygon clip layer on polygon subjects:
    every (subject ∩ clip) piece with its ring and area.

    Output: (subject_id, clip_id, n_vertices, area, xs, ys)."""
    pairs = _candidate_pairs(subject, clip)

    def run(it):
        for pdf in it:
            out = []
            for _, r in pdf.iterrows():
                cx, cy = geometry.clip_ring_convex(
                    np.asarray(r["sxs"]),
                    np.asarray(r["sys"]),
                    np.column_stack([r["cxs"], r["cys"]]),
                )
                if len(cx) >= 3:
                    a2, _, _ = geometry.shoelace_seq_local(cx, cy)
                    out.append(
                        {
                            "subject_id": r["subject_id"],
                            "clip_id": r["clip_id"],
                            "n_vertices": len(cx),
                            "area": a2 / 2.0,
                            "xs": cx.tolist(),
                            "ys": cy.tolist(),
                        }
                    )
            yield pd.DataFrame(
                out, columns=["subject_id", "clip_id", "n_vertices", "area", "xs", "ys"]
            )

    return pairs.mapInPandas(
        run,
        schema=(
            "subject_id int, clip_id int, n_vertices int, area double, "
            "xs array<double>, ys array<double>"
        ),
    )


def erase_polygons_area(subject: DataFrame, clip: DataFrame) -> DataFrame:
    """-erase area accounting for convex clip layers: per subject, the
    remaining area = own area − Σ intersection areas (valid when clip
    polygons don't overlap each other within a subject)."""
    from . import points as points_op

    own = points_op.areas(subject).withColumnRenamed("poly_id", "subject_id")
    cut = (
        clip_polygons(subject, clip)
        .groupBy("subject_id")
        .agg(F.sum("area").alias("cut_area"))
    )
    return own.join(cut, "subject_id", "left").select(
        "subject_id",
        (F.col("area") - F.coalesce(F.col("cut_area"), F.lit(0.0))).alias("remaining_area"),
    )


def clip_polylines(lines: DataFrame, clip: DataFrame) -> DataFrame:
    """-clip on a polyline layer: every (line ∩ clip-polygon) piece via
    the Cyrus–Beck kernel, same bbox-candidate prune as polygons.

    lines: (arc_id, xs, ys); output (arc_id, clip_id, n_pieces,
    total_len, n_vertices)."""
    s = _bbox_cols(lines, "s").select(
        F.col("arc_id"),
        F.col("xs").alias("sxs"),
        F.col("ys").alias("sys"),
        "s_xmin",
        "s_xmax",
        "s_ymin",
        "s_ymax",
    )
    c = _bbox_cols(clip, "c").select(
        F.col("poly_id").alias("clip_id"),
        F.col("xs").alias("cxs"),
        F.col("ys").alias("cys"),
        "c_xmin",
        "c_xmax",
        "c_ymin",
        "c_ymax",
    )
    cond = (
        (F.col("s_xmin") <= F.col("c_xmax"))
        & (F.col("s_xmax") >= F.col("c_xmin"))
        & (F.col("s_ymin") <= F.col("c_ymax"))
        & (F.col("s_ymax") >= F.col("c_ymin"))
    )
    pairs = s.join(F.broadcast(c), cond).select("arc_id", "sxs", "sys", "clip_id", "cxs", "cys")

    def run(it):
        for pdf in it:
            out = []
            for _, r in pdf.iterrows():
                pieces = geometry.clip_polyline_convex(
                    np.asarray(r["sxs"]),
                    np.asarray(r["sys"]),
                    np.column_stack([r["cxs"], r["cys"]]),
                )
                if pieces:
                    total = sum(geometry.path_length(a, b) for a, b in pieces)
                    nv = sum(len(a) for a, _b in pieces)
                    out.append(
                        {
                            "arc_id": r["arc_id"],
                            "clip_id": r["clip_id"],
                            "n_pieces": len(pieces),
                            "total_len": float(total),
                            "n_vertices": nv,
                        }
                    )
            yield pd.DataFrame(
                out, columns=["arc_id", "clip_id", "n_pieces", "total_len", "n_vertices"]
            )

    return pairs.mapInPandas(
        run,
        schema="arc_id long, clip_id int, n_pieces int, total_len double, n_vertices int",
    )


def _cb_interval(ax, ay, dx, dy, ring, nx_, ny_):
    """Cyrus–Beck parameter interval of one segment vs a convex CCW
    ring — the ``geometry.clip_polyline_convex`` inner loop, kept
    standalone so the frozen clip kernel stays untouched bitwise.
    Returns (t0, t1) or None when the segment misses the window."""
    t0, t1 = 0.0, 1.0
    for j in range(len(ring)):
        D = dx * nx_[j] + dy * ny_[j]
        W = (ax - ring[j, 0]) * nx_[j] + (ay - ring[j, 1]) * ny_[j]
        if D == 0.0:
            if W < 0.0:
                return None
        else:
            t = -W / D
            if D > 0.0:
                if t > t0:
                    t0 = t
            else:
                if t < t1:
                    t1 = t
        if t0 > t1:
            return None
    return t0, t1


def _divide_walk(
    xs: np.ndarray, ys: np.ndarray, cands: list[tuple[int, np.ndarray]]
) -> dict[int, list]:
    """The per-arc -divide walk: Cyrus–Beck intervals per candidate
    convex CCW window (disjoint interiors ⇒ non-overlapping), gaps are
    outside pieces (pid −1), pieces merge across a shared vertex iff
    the previous segment's last assignment reaches t=1 and the next
    starts at t=0 with the same pid. Returns {pid: [n_pieces, len]}.
    Standalone so the hypothesis sweep can drive it without Spark."""
    prepped = []
    seen = set()
    for pid, ring in cands:
        # a polygon layer with several rows per poly_id delivers the
        # same pid once per row — keep the first, here where it's free
        if pid in seen:
            continue
        seen.add(pid)
        ex = geometry.rot1(ring[:, 0]) - ring[:, 0]
        ey = geometry.rot1(ring[:, 1]) - ring[:, 1]
        prepped.append((pid, ring, -ey, ex))
    agg: dict[int, list] = {}
    prev_pid = None
    for i in range(len(xs) - 1):
        ax, ay, bx, by = xs[i], ys[i], xs[i + 1], ys[i + 1]
        dx, dy = bx - ax, by - ay
        if dx == 0.0 and dy == 0.0:
            continue
        ivs = []
        for pid, ring, nx_, ny_ in prepped:
            iv = _cb_interval(ax, ay, dx, dy, ring, nx_, ny_)
            if iv is not None and iv[1] > iv[0]:
                ivs.append((iv[0], iv[1], pid))
        ivs.sort()
        subs = []
        t = 0.0
        for t0, t1, pid in ivs:
            if t0 > t:
                subs.append((t, t0, -1))
            subs.append((t0, t1, pid))
            t = t1
        if t < 1.0:
            subs.append((t, 1.0, -1))
        for u0, u1, pid in subs:
            px0, py0 = ax + u0 * dx, ay + u0 * dy
            px1, py1 = ax + u1 * dx, ay + u1 * dy
            ln = float(np.hypot(px1 - px0, py1 - py0))
            e = agg.setdefault(pid, [0, 0.0])
            if not (u0 == 0.0 and prev_pid == pid):
                e[0] += 1
            e[1] += ln
            prev_pid = pid
    return agg


def divide_polylines(lines: DataFrame, polygons: DataFrame) -> DataFrame:
    """``-divide``: split a polyline layer by a polygon layer.

    [UPSTREAM ``src/commands/mapshaper-divide.mjs`` — public knowledge
    of mbloch/mapshaper; /root/reference is empty, SURVEY.md §0]:
    upstream cuts every line where it crosses polygon boundaries and
    copies the containing polygon's data onto each piece; pieces
    outside every polygon keep null attributes. Requires polygons with
    disjoint interiors (upstream divides against a mosaic/clean layer —
    compose with ``clean_assign_areas`` first otherwise).

    Engine shape: bbox-candidate LEFT broadcast join (candidate-free
    arcs still emit their outside piece), then ONE grouped-Arrow fold
    per arc — per segment, the Cyrus–Beck parameter interval against
    each candidate window (disjoint interiors ⇒ intervals don't
    overlap), gaps between intervals are outside pieces, and a piece
    continues across a shared vertex iff the previous segment's last
    assignment reaches t=1 and the next starts at t=0 with the same
    region. Group count scales with the data (one group per arc), so
    the fold routes through ``_fold_parallel`` [CLAUDE.md invariant],
    with the per-arc groups BATCHED via collect_list + mapInPandas
    (per-group applyInPandas measured 4.3k arcs/s vs 16.3k/s batched
    at 100k arcs, 294k/s at 1M — BENCH/divide_probe.json).

    Returns (arc_id, poly_id, n_pieces, len_sum); poly_id = -1 marks
    the pieces outside every polygon.
    """
    s = _bbox_cols(lines, "s").select(
        "arc_id",
        F.col("xs").alias("sxs"),
        F.col("ys").alias("sys"),
        "s_xmin",
        "s_xmax",
        "s_ymin",
        "s_ymax",
    )
    c = _bbox_cols(polygons, "c").select(
        F.col("poly_id").alias("cand_poly"),
        F.col("xs").alias("cxs"),
        F.col("ys").alias("cys"),
        "c_xmin",
        "c_xmax",
        "c_ymin",
        "c_ymax",
    )
    cond = (
        (F.col("s_xmin") <= F.col("c_xmax"))
        & (F.col("s_xmax") >= F.col("c_xmin"))
        & (F.col("s_ymin") <= F.col("c_ymax"))
        & (F.col("s_ymax") >= F.col("c_ymin"))
    )
    pairs = s.join(F.broadcast(c), cond, "left").select(
        "arc_id", "sxs", "sys", "cand_poly", "cxs", "cys"
    )

    def fold(batches):
        # BATCHED like the stitch folds: candidates pre-aggregate per
        # arc with collect_list, so many arcs share one Arrow exchange
        # instead of paying a per-group round-trip — the walk is
        # microseconds per short arc and the per-group applyInPandas
        # form measured 4.3k arcs/s at 100k arcs vs 16.3k/s batched,
        # same-session A/B (BENCH/divide_probe.json)
        for pdf in batches:
            rows = []
            for arc_id, sxs, sys_, cl in zip(
                pdf["arc_id"], pdf["sxs"], pdf["sys"], pdf["cands"]
            ):
                xs = np.asarray(sxs, dtype=np.float64)
                ys = np.asarray(sys_, dtype=np.float64)
                cands = [
                    (
                        int(c["cand_poly"]),
                        np.column_stack(
                            [
                                np.asarray(c["cxs"], dtype=np.float64),
                                np.asarray(c["cys"], dtype=np.float64),
                            ]
                        ),
                    )
                    for c in cl
                    if c["cand_poly"] is not None
                ]
                agg = _divide_walk(xs, ys, cands)
                rows.extend(
                    (int(arc_id), pid, n, ln)
                    for pid, (n, ln) in sorted(agg.items())
                )
            yield pd.DataFrame(
                rows, columns=["arc_id", "poly_id", "n_pieces", "len_sum"]
            )

    grouped = (
        _fold_parallel(pairs, "arc_id")
        .groupBy("arc_id")
        .agg(
            F.first("sxs").alias("sxs"),
            F.first("sys").alias("sys"),
            F.collect_list(F.struct("cand_poly", "cxs", "cys")).alias("cands"),
        )
    )
    return grouped.mapInPandas(
        fold, schema="arc_id long, poly_id int, n_pieces int, len_sum double"
    )


def join_interpolate(
    sources: DataFrame, targets: DataFrame, value_col: str = "val"
) -> DataFrame:
    """-join interpolate: area-weighted transfer of a source-polygon
    value onto target polygons [upstream src/join/mapshaper-interpolate
    behavior, SURVEY.md §2.3]:

        tgt_val = Σ_src  val_src · area(src ∩ tgt) / area(src)

    The intersection areas come from the real Sutherland–Hodgman clip
    kernel (clip_polygons); source areas from the shoelace. Both side
    tables are dim-sized per target group and broadcast; the weighted
    sum is a plain map-side-combinable aggregate.

    Output: (clip_id, interp_val, n_pieces).
    """
    from . import points as points_op

    pieces = clip_polygons(sources.select("poly_id", "xs", "ys"), targets).filter(
        F.col("area") > 0.0
    )
    own = points_op.areas(sources.select("poly_id", "xs", "ys")).select(
        F.col("poly_id").alias("subject_id"), F.col("area").alias("src_area")
    )
    vals = sources.select(F.col("poly_id").alias("subject_id"), F.col(value_col))
    contrib = pieces.join(F.broadcast(own), "subject_id").join(
        F.broadcast(vals), "subject_id"
    )
    return contrib.groupBy("clip_id").agg(
        F.sum(F.col(value_col) * F.col("area") / F.col("src_area")).alias("interp_val"),
        F.count(F.lit(1)).alias("n_pieces"),
    )


def clip_polygons_general(subject: DataFrame, clip: DataFrame) -> DataFrame:
    """-clip piece GEOMETRY for GENERAL (concave) polygon pairs via the
    Greiner–Hormann kernel [NEXT.md r2→r3 #1; geometry.gh_intersection]:
    unlike the convex-window S-H path this emits the true piece rings of
    concave×concave intersections, including multiple disjoint pieces
    per pair. Simple single-ring polygons in general position (the
    kernel raises loudly on degenerate touches). Same bbox-candidate
    prune + broadcast shape as clip_polygons.

    Output: (subject_id, clip_id, piece_idx, n_vertices, area)."""
    pairs = _candidate_pairs(subject, clip)

    def run(it):
        for pdf in it:
            out = []
            for _, r in pdf.iterrows():
                pieces = geometry.gh_intersection(
                    np.column_stack([r["sxs"], r["sys"]]),
                    np.column_stack([r["cxs"], r["cys"]]),
                )
                for i, ring in enumerate(pieces):
                    a2, _, _ = geometry.shoelace_seq_local(ring[:, 0], ring[:, 1])
                    out.append(
                        {
                            "subject_id": r["subject_id"],
                            "clip_id": r["clip_id"],
                            "piece_idx": i,
                            "n_vertices": len(ring),
                            "area": abs(a2) / 2.0,
                        }
                    )
            yield pd.DataFrame(
                out,
                columns=["subject_id", "clip_id", "piece_idx", "n_vertices", "area"],
            )

    return pairs.mapInPandas(
        run,
        schema="subject_id int, clip_id int, piece_idx int, n_vertices int, area double",
    )


def gh_boolean_pair_areas(subject: DataFrame, clip: DataFrame) -> DataFrame:
    """All three Greiner–Hormann booleans per bbox-overlapping pair:
    (subject_id, clip_id, inter_area, diff_area, union_area) — signed
    ring sums, so union/difference holes subtract correctly. The -erase
    and -union area surface for concave×concave pairs [NEXT r3 #1]."""
    pairs = _candidate_pairs(subject, clip)

    def run(it):
        for pdf in it:
            out = []
            for _, r in pdf.iterrows():
                a = np.column_stack([r["sxs"], r["sys"]])
                b = np.column_stack([r["cxs"], r["cys"]])
                # robust one-pass booleans [r3 hypothesis find: raw
                # kernels mis-trace on coincident real-world pairs]
                trio = geometry.gh_split_rings_robust(
                    [a], [b], want_union=True
                )
                areas = {}
                for op, rings in zip(
                    ("intersection", "difference", "union"), trio
                ):
                    areas[op] = sum(
                        geometry.shoelace_area_local(g[:, 0], g[:, 1]) for g in rings
                    )
                out.append(
                    {
                        "subject_id": r["subject_id"],
                        "clip_id": r["clip_id"],
                        "inter_area": areas["intersection"],
                        "diff_area": areas["difference"],
                        "union_area": areas["union"],
                    }
                )
            yield pd.DataFrame(
                out,
                columns=["subject_id", "clip_id", "inter_area", "diff_area", "union_area"],
            )

    return pairs.mapInPandas(
        run,
        schema=(
            "subject_id int, clip_id int, inter_area double,"
            " diff_area double, union_area double"
        ),
    )


def gh_boolean_areas_rings(a_features: DataFrame, b_features: DataFrame) -> DataFrame:
    """Multi-ring (holed, even-odd) GH booleans per matching poly_id:
    (poly_id, inter_area, diff_area, union_area) from signed ring sums
    over geometry.gh_clip_rings. Both inputs are ring tables
    (poly_id, ring_idx, xs, ys); the cogroup hands each feature pair's
    full ring sets to the kernel — rings flow through the plan, no
    driver closure."""

    def kernel(key, apdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
        if len(apdf) == 0 or len(bpdf) == 0:
            return pd.DataFrame(
                columns=["poly_id", "inter_area", "diff_area", "union_area"]
            )
        ra = [
            np.column_stack([np.asarray(r["xs"]), np.asarray(r["ys"])])
            for _, r in apdf.sort_values("ring_idx").iterrows()
        ]
        rb = [
            np.column_stack([np.asarray(r["xs"]), np.asarray(r["ys"])])
            for _, r in bpdf.sort_values("ring_idx").iterrows()
        ]
        trio = geometry.gh_split_rings_robust(ra, rb, want_union=True)
        vals = {}
        for op, rings in zip(("intersection", "difference", "union"), trio):
            vals[op] = sum(geometry.shoelace_area_local(g[:, 0], g[:, 1]) for g in rings)
        return pd.DataFrame(
            [
                {
                    "poly_id": int(apdf["poly_id"].iloc[0]),
                    "inter_area": vals["intersection"],
                    "diff_area": vals["difference"],
                    "union_area": vals["union"],
                }
            ]
        )

    return (
        a_features.groupBy("poly_id")
        .cogroup(b_features.groupBy("poly_id"))
        .applyInPandas(
            kernel,
            schema="poly_id int, inter_area double, diff_area double, union_area double",
        )
    )


def mosaic_faces(features: DataFrame) -> DataFrame:
    """-mosaic [upstream src/polygons/mapshaper-mosaic.mjs behavior,
    SURVEY.md §2.6]: the planar arrangement's FACES of an overlapping
    polygon layer, identified by their covering member set. Incremental
    construction over the multi-ring GH kernels: each incoming polygon
    splits every existing face into (face ∩ P, members ∪ {id}) and
    (face ∖ P, members), and contributes its own remainder
    P ∖ (earlier polygons) as a fresh face — all multi-ring ring-set
    folds, so faces keep holes and split pieces across steps. Member
    sets are unique by construction (the oracle groups elementary cells
    by covering signature and must land on identical (members, area)
    rows).

    Input: (feature_id, key, xs, ys) one simple ring each; one group
    per key (dim-sized layers). Output: (key, members_csv, area,
    n_rings)."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        faces: list[tuple[list, frozenset, tuple]] = []
        processed: list[tuple[np.ndarray, tuple]] = []
        for _, r in pdf.sort_values("feature_id").iterrows():
            pid = int(r["feature_id"])
            poly = np.column_stack([np.asarray(r["xs"]), np.asarray(r["ys"])])
            bb = _rings_bbox([poly])
            new_faces: list[tuple[list, frozenset, tuple]] = []
            for rings, ids, fbb in faces:
                # bbox-disjoint: interaction provably impossible, the
                # face passes through bitwise unchanged
                if _bbox_disjoint(fbb, bb):
                    new_faces.append((rings, ids, fbb))
                    continue
                # robust split [r3 hypothesis find]: the raw kernel
                # crashes or silently corrupts on coincident layers
                # (duplicate features, shared edge runs)
                inter, diff = geometry.gh_split_rings_robust(rings, [poly])
                if inter:
                    new_faces.append((inter, ids | {pid}, _rings_bbox(inter)))
                if diff:
                    new_faces.append((diff, ids, _rings_bbox(diff)))
            rem: list = [poly]
            rem_bb = bb
            for prev, pbb in processed:
                if _bbox_disjoint(rem_bb, pbb):
                    continue
                _, rem = geometry.gh_split_rings_robust(rem, [prev])
                if not rem:
                    break
                rem_bb = _rings_bbox(rem)
            if rem:
                new_faces.append((rem, frozenset({pid}), rem_bb))
            faces = new_faces
            processed.append((poly, bb))
        out = []
        for rings, ids, _fbb in faces:
            area = sum(geometry.shoelace_area_local(g[:, 0], g[:, 1]) for g in rings)
            out.append(
                {
                    "key": pdf["key"].iloc[0],
                    "members_csv": ",".join(str(i) for i in sorted(ids)),
                    "area": area,
                    "n_rings": len(rings),
                }
            )
        return pd.DataFrame(out, columns=["key", "members_csv", "area", "n_rings"])

    return features.groupBy("key").applyInPandas(
        run, schema="key string, members_csv string, area double, n_rings int"
    )


def mosaic_replicate(
    features: DataFrame,
    n: int,
    ox: float,
    oy: float,
    cw: float,
    ch: float,
    max_rep_cells: int = 8,
    pad_salt: int = 0,
) -> DataFrame:
    """Map-stage (feature, cell) replication for the tiled mosaic, with
    bounded shipping for large features [VERDICT r3 #2].

    A feature whose bbox overlaps <= max_rep_cells cells ships its
    ORIGINAL ring to each (exact path — the GH fold sees the global
    op's inputs bit-for-bit). A larger feature is cropped per cell to
    the cell box expanded by a PER-FEATURE padding (distinct pad per
    feature id, so no two features' crop boxes share an edge line and
    the in-cell fold never sees manufactured coincidence):

    - cells its boundary never reaches are classified VECTORIZED
      (edges_intersect_rects over all its cells at once): covered
      cells ship just the padded box ring (4 vertices), missed cells
      ship nothing;
    - boundary cells ship the GH intersection of the ring with the
      padded box — O(boundary-in-cell) vertices plus box corners.

    Output rows: (key, ix, iy, feature_id, rings_xs, rings_ys) — ring
    SETS (a crop may be several disjoint pieces). Inputs are single
    hole-free rings, and a simple region ∩ convex box is hole-free per
    component, so crop sets never carry hole rings — consumers that
    flatten the sets (the dissolve2 emitter's per-cell union fold)
    assert positive signed area per piece [ADVICE r4 #2] so a traced
    orientation flip surfaces loudly instead of silently filling."""

    def replicate(it):
        for pdf in it:
            out = []
            for _, r in pdf.iterrows():
                xs = np.asarray(r["xs"], dtype=float)
                ys = np.asarray(r["ys"], dtype=float)
                fid = int(r["feature_id"])
                ix0 = max(0, int((xs.min() - ox) // cw))
                ix1 = min(n - 1, int((xs.max() - ox) // cw))
                iy0 = max(0, int((ys.min() - oy) // ch))
                iy1 = min(n - 1, int((ys.max() - oy) // ch))
                cells = [
                    (ix, iy)
                    for ix in range(ix0, ix1 + 1)
                    for iy in range(iy0, iy1 + 1)
                ]
                if len(cells) <= max_rep_cells:
                    for ix, iy in cells:
                        out.append(
                            {
                                "key": r["key"],
                                "ix": ix,
                                "iy": iy,
                                "feature_id": fid,
                                "rings_xs": [list(xs)],
                                "rings_ys": [list(ys)],
                            }
                        )
                    continue
                # large feature: crop per cell. Per-feature pad keeps
                # crop-box edge lines distinct across features (1021 is
                # prime; a rare pad collision just routes that pair
                # through the robust kernel's perturb retry). pad_salt
                # shifts the residue class per retry attempt [NEXT r4
                # #6] so a grid-origin retry also re-deals the pads.
                pad = min(cw, ch) * 1e-3 * (
                    1.0 + ((fid + 521 * pad_salt) % 1021) / 1021.0
                )
                ring = np.column_stack([xs, ys])
                edges = np.column_stack(
                    [xs, ys, geometry.rot1(xs), geometry.rot1(ys)]
                )
                cx = np.array([c[0] for c in cells])
                cy = np.array([c[1] for c in cells])
                bx_lo = ox + cx * cw - pad
                by_lo = oy + cy * ch - pad
                bx_hi = ox + (cx + 1) * cw + pad
                by_hi = oy + (cy + 1) * ch + pad
                crossed = geometry.edges_intersect_rects(
                    edges, bx_lo, by_lo, bx_hi, by_hi
                )
                # boundary-free cells: covered iff the box center is
                # inside the ring (one vectorized pip over all of them)
                free = ~crossed
                covered = np.zeros(len(cells), dtype=bool)
                if free.any():
                    mx = (bx_lo[free] + bx_hi[free]) / 2.0
                    my = (by_lo[free] + by_hi[free]) / 2.0
                    covered[free] = geometry.pip_ray(mx, my, ring)
                # Two-level crop [NEXT r4 #5]: a boundary cell's crop of
                # the FULL ring is O(K), so a 100k-vertex feature over
                # B boundary cells paid O(B·K) serially in ONE map task
                # (measured 5.5 s at B=72). Crop once per cell COLUMN
                # into a strip widened by 2·pad (strip lines can never
                # coincide with the ±pad box lines, so the per-cell
                # crop sees no manufactured incidence), then crop each
                # boundary cell from its strip piece: O(cols·K +
                # B·K/cols). The strip's y-extent strictly contains the
                # ring (±3·pad) — it only ever cuts in x.
                strip_cache: dict[int, list] = {}
                sy_lo = float(ys.min()) - 3.0 * pad
                sy_hi = float(ys.max()) + 3.0 * pad
                for i, (ix, iy) in enumerate(cells):
                    if crossed[i]:
                        if ix not in strip_cache:
                            sx_lo = ox + ix * cw - 2.0 * pad
                            sx_hi = ox + (ix + 1) * cw + 2.0 * pad
                            strip = np.array(
                                [
                                    (sx_lo, sy_lo),
                                    (sx_hi, sy_lo),
                                    (sx_hi, sy_hi),
                                    (sx_lo, sy_hi),
                                ]
                            )
                            strip_cache[ix] = geometry.gh_clip_rings_robust(
                                [ring], [strip], "intersection"
                            )
                        box = np.array(
                            [
                                (bx_lo[i], by_lo[i]),
                                (bx_hi[i], by_lo[i]),
                                (bx_hi[i], by_hi[i]),
                                (bx_lo[i], by_hi[i]),
                            ]
                        )
                        pieces = geometry.gh_clip_rings_robust(
                            strip_cache[ix], [box], "intersection"
                        )
                    elif covered[i]:
                        pieces = [
                            np.array(
                                [
                                    (bx_lo[i], by_lo[i]),
                                    (bx_hi[i], by_lo[i]),
                                    (bx_hi[i], by_hi[i]),
                                    (bx_lo[i], by_hi[i]),
                                ]
                            )
                        ]
                    else:
                        continue
                    if not pieces:
                        continue
                    out.append(
                        {
                            "key": r["key"],
                            "ix": ix,
                            "iy": iy,
                            "feature_id": fid,
                            "rings_xs": [list(p[:, 0]) for p in pieces],
                            "rings_ys": [list(p[:, 1]) for p in pieces],
                        }
                    )
            yield pd.DataFrame(
                out,
                columns=["key", "ix", "iy", "feature_id", "rings_xs", "rings_ys"],
            )

    return features.mapInPandas(
        replicate,
        schema=(
            "key string, ix int, iy int, feature_id int,"
            " rings_xs array<array<double>>, rings_ys array<array<double>>"
        ),
    )


def _rings_bbox(rings: list) -> tuple:
    return (
        min(float(r[:, 0].min()) for r in rings),
        min(float(r[:, 1].min()) for r in rings),
        max(float(r[:, 0].max()) for r in rings),
        max(float(r[:, 1].max()) for r in rings),
    )


def _bbox_disjoint(a: tuple, b: tuple) -> bool:
    """STRICT disjoint (touching bboxes still route to the kernel) —
    the short-circuit must only fire when interaction is provably
    impossible, so the fold's output stays bitwise identical."""
    return a[2] < b[0] or b[2] < a[0] or a[3] < b[1] or b[3] < a[1]


def _fold_cell_faces(pdf: pd.DataFrame) -> list:
    """The incremental face split over one cell's replicated crops:
    each feature (in feature_id order — same fold order as the global
    :func:`mosaic_faces`) splits every existing face into
    (face ∩ P, members ∪ {id}) / (face ∖ P, members) and contributes
    its remainder as a fresh face. Returns [(rings, frozenset ids)].

    bbox-disjoint face/feature pairs skip the kernel (intersection
    provably empty, face unchanged) — in clustered layers most pairs
    are disjoint, and the robust kernel's per-call verification is the
    fold's dominant cost (measured 190 s → 51 s on the 10k-feature
    probe; the full ring emitter 476 s → 133 s)."""
    faces: list[tuple[list, frozenset, tuple]] = []
    processed: list[tuple[list, tuple]] = []
    for _, r in pdf.sort_values("feature_id").iterrows():
        pid = int(r["feature_id"])
        rings = [
            np.column_stack([np.asarray(rx), np.asarray(ry)])
            for rx, ry in zip(r["rings_xs"], r["rings_ys"])
        ]
        bb = _rings_bbox(rings)
        new_faces: list[tuple[list, frozenset, tuple]] = []
        for fr, ids, fbb in faces:
            if _bbox_disjoint(fbb, bb):
                new_faces.append((fr, ids, fbb))
                continue
            inter, diff = geometry.gh_split_rings_robust(fr, rings)
            if inter:
                new_faces.append((inter, ids | {pid}, _rings_bbox(inter)))
            if diff:
                new_faces.append((diff, ids, _rings_bbox(diff)))
        rem = rings
        rem_bb = bb
        for prev, pbb in processed:
            if _bbox_disjoint(rem_bb, pbb):
                continue
            _, rem = geometry.gh_split_rings_robust(rem, prev)
            if not rem:
                break
            rem_bb = _rings_bbox(rem)
        if rem:
            new_faces.append((rem, frozenset({pid}), rem_bb))
        faces = new_faces
        processed.append((rings, bb))
    return [(fr, ids) for fr, ids, _ in faces]


def mosaic_faces_tiled(
    features: DataFrame, res: int = 4, max_rep_cells: int = 8
) -> DataFrame:
    """The DISTRIBUTED mosaic shape [NEXT r3 #1; redesigned r3 per
    ADVICE]: every feature is REPLICATED (not clipped) to the grid
    cells its bbox overlaps, the face split runs per cell over the
    cell's feature subset with ORIGINAL geometry, and each face's
    contribution is its Sutherland–Hodgman crop to the cell box (signed
    ring areas — holes subtract; no tracing). Faces merge globally by
    membership signature: inside a cell, a point's covering set is
    decided entirely by the features whose bbox reaches the cell, so
    per-cell signatures agree with the global arrangement and areas sum
    across cells.

    Why replication instead of GH ∩ cellbox (the r2 design): clipping
    different features to the SAME box manufactures collinear edges
    along the cell border — degenerate input to the trace kernel that
    can silently mis-trace (observed: a donut-group face came back
    negative). Here the GH kernel only ever sees original feature
    pairs (the global op's degeneracy profile), and the box crop is a
    half-plane clip that is immune to on-boundary vertices — so there
    is NO grid-alignment caveat: edges exactly on cell lines just
    yield zero-area slivers on one side.

    LARGE features do NOT replicate whole [VERDICT r3 #2: a continent-
    sized polygon over a 16x16 grid paid 256x its vertex count in
    shuffle and 256 redundant full-ring folds]: a feature whose bbox
    overlaps more than ``max_rep_cells`` cells is CROPPED in the map
    stage to each cell's box expanded by a PER-FEATURE padding
    (:func:`mosaic_replicate`). Distinct paddings mean two features'
    crop boxes never share edge lines, so the GH fold inside a cell
    still never sees manufactured coincidence — the only incidences are
    original-vs-original, the global op's degeneracy profile. Cells the
    boundary never reaches collapse to the padded box itself (feature
    covers the cell) or nothing (feature misses it), classified
    vectorized per feature; the end-of-fold Sutherland-Hodgman crop to
    the EXACT cell box trims the padding band, so band geometry never
    reaches the output. Small features keep the exact replicate-whole
    path (bit-identical to r3 on the graded fixtures).

    Work per task is bounded by cell content; the shuffle carries
    O(boundary-in-cell) per (feature, cell), not O(full boundary x
    cells). Output: (key, members_csv, area).

    The grid derives from the layer's own bounds [r3 review fix: the
    fixed lonlat world grid silently DROPPED features outside
    [-180,180]x[-90,90] — projected-coordinate layers vanished from the
    tiled result while the global mosaic kept them]. One bounds
    aggregation, then n x n cells padded so every vertex lands strictly
    inside the grid — coordinate-system-agnostic, like the distributed
    -polygons plan."""
    n = 1 << res
    b = features.select(
        F.min(F.expr("array_min(xs)")).alias("x0"),
        F.max(F.expr("array_max(xs)")).alias("x1"),
        F.min(F.expr("array_min(ys)")).alias("y0"),
        F.max(F.expr("array_max(ys)")).alias("y1"),
    ).first()
    if b.x0 is None:  # empty layer: any grid works, replication emits 0 rows
        ox, oy, cw, ch = 0.0, 0.0, 1.0, 1.0
    else:
        ox, oy = b.x0, b.y0
        cw = max(b.x1 - b.x0, 1e-12) * (1.0 + 1e-9) / n
        ch = max(b.y1 - b.y0, 1e-12) * (1.0 + 1e-9) / n

    replicated = mosaic_replicate(features, n, ox, oy, cw, ch, max_rep_cells)

    def cell_faces(pdf: pd.DataFrame) -> pd.DataFrame:
        ix = int(pdf["ix"].iloc[0])
        iy = int(pdf["iy"].iloc[0])
        x_lo, y_lo = ox + ix * cw, oy + iy * ch
        x_hi, y_hi = x_lo + cw, y_lo + ch
        faces = _fold_cell_faces(pdf)
        out = []
        for fr, ids in faces:
            area = 0.0
            for g in fr:
                cx, cy = geometry.clip_ring_bbox(
                    g[:, 0], g[:, 1], x_lo, y_lo, x_hi, y_hi
                )
                if len(cx) >= 3:
                    area += geometry.shoelace_area_local(cx, cy)
            if area != 0.0:
                out.append(
                    {
                        "key": pdf["key"].iloc[0],
                        "members_csv": ",".join(str(i) for i in sorted(ids)),
                        "area": area,
                    }
                )
        return pd.DataFrame(out, columns=["key", "members_csv", "area"])

    per_cell = _fold_parallel(replicated, "key", "ix", "iy").groupBy(
        "key", "ix", "iy"
    ).applyInPandas(
        cell_faces, schema="key string, members_csv string, area double"
    )
    return per_cell.groupBy("key", "members_csv").agg(F.sum("area").alias("area"))


def _fold_parallel(df: DataFrame, *cols: str) -> DataFrame:
    """Pin full parallelism for a compute-bound grouped-Arrow fold:
    hash-repartition on the group keys with an EXPLICIT partition
    count (the session's shuffle partitions). AQE coalesces shuffle
    stages by BYTES, and these folds carry KB-sized coordinate groups
    with seconds of per-group kernel work — the 1 MiB
    minPartitionSize default collapsed a 1000-feature fold stage to
    ONE task (measured 23.9 s → 2.7 s; a session-wide 1-byte floor
    instead costs the JVM-side queries ~1.3×, interleaved A/B — see
    session.py). A user-specified repartition is exempt from AQE
    coalescing and satisfies the downstream groupBy's clustered
    distribution, so the grouping exchange is elided, not doubled.

    Apply ONLY where group count scales with the DATA (per-cell folds,
    per-feature premerge). On dim-bound folds (per-polygon kernels,
    per-dissolve-key stitches) the pinned exchange is measurable pure
    cost — interleaved monkeypatch A/B at sf0.1: dissolve_sum_fields
    0.359→0.429 s, raster_tile_pixel_counts 0.311→0.355 s — while at
    true scale those groups' BYTES grow with group count, so AQE's
    byte-based sizing already keeps them parallel."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)


def union_premerge(
    features: DataFrame, order_col: str = "sseq", max_rings: int = 1024
) -> DataFrame:
    """Map-side per-feature union — an optional pre-reduction for the
    -buffer merge on OVERLAP-DENSE layers [late r5, probe-driven].
    Buffer quads of one feature overlap heavily (square caps share
    edge runs at every joint), and feeding k overlapping rings per
    feature into the tiled face fold pays O(k²) robust splits and a
    membership-signature blowup inside every cell the feature
    reaches. Collapsing each feature to its own union FIRST is a
    dim-sized per-feature fold (~13 ms per 10-segment feature,
    embarrassingly parallel, 10 quads → 1.2 rings) and a semantic
    no-op for any downstream union/dissolve2 (union is associative).
    Measured on a 300-feature dense layer (buffers overlapping across
    features): dissolve2_tiled warm 15.4 → 9.5 s (1.6×), areas equal
    to 5e-10 rel. On SPARSE layers (features' buffers disjoint) the
    extra stage costs more than it saves — skip it there.

    Features whose union carries a HOLE (an almost-closed loop's
    buffer rings its cavity — the tiled machinery's feature contract
    is single hole-free CCW rings, mosaic_replicate docstring) fall
    back to their ORIGINAL rows unchanged: the downstream fold then
    sees the raw hole-free quads and computes the identical union.
    Input/output schema: (feature_id, key, xs, ys) — output
    feature_id is fid*max_rings + ring_index (collision-guarded).
    Rows fold in ``order_col`` order so results are deterministic."""

    def per_feature(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        fid = int(pdf["feature_id"].iloc[0])
        key = pdf["key"].iloc[0]
        rings = [
            np.column_stack(
                [np.asarray(r["xs"], dtype=float), np.asarray(r["ys"], dtype=float)]
            )
            for _, r in pdf.iterrows()
        ]
        merged = geometry.union_many(rings)
        holed = any(
            geometry.shoelace_area_local(g[:, 0], g[:, 1]) <= 0.0 for g in merged
        )
        out = []
        if holed or len(merged) >= max_rings or len(pdf) >= max_rings:
            # fallback: original rows, ids re-dealt in the same space
            for i, (_, r) in enumerate(pdf.iterrows()):
                out.append(
                    {
                        "feature_id": fid * max_rings + i,
                        "key": key,
                        "xs": list(r["xs"]),
                        "ys": list(r["ys"]),
                    }
                )
        else:
            for i, g in enumerate(merged):
                out.append(
                    {
                        "feature_id": fid * max_rings + i,
                        "key": key,
                        "xs": g[:, 0].tolist(),
                        "ys": g[:, 1].tolist(),
                    }
                )
        return pd.DataFrame(out, columns=["feature_id", "key", "xs", "ys"])

    return _fold_parallel(features, "key", "feature_id").groupBy(
        "key", "feature_id"
    ).applyInPandas(
        per_feature,
        schema="feature_id long, key string, xs array<double>, ys array<double>",
    )


def dissolve2_tiled(features: DataFrame, res: int = 4) -> DataFrame:
    """The DISTRIBUTED -dissolve2 shape [VERDICT r2 #2]: the union
    measure per key is the sum of the key's mosaic face areas (faces
    partition the union, each counted once), and the tiled mosaic is
    fully distributed — so dissolve2 at scale is one reduction over
    mosaic_faces_tiled. Output: (key, area); ring counts/geometry need
    the global construction (dim-sized groups) — this is the
    area-accounting form continental layers run."""
    return (
        mosaic_faces_tiled(features, res=res)
        .groupBy("key")
        .agg(F.sum("area").alias("area"))
    )


def _ring_border_paths(ring: np.ndarray, lines_x, lines_y, tol: float):
    """Split a cell-cropped ring into maximal runs of NON-border edges
    (paths of the region's true boundary inside the cell). An edge is a
    border edge iff BOTH endpoints lie within tol of the SAME cell
    line — exactly the segments Sutherland-Hodgman manufactured along
    the box (including its multi-piece 'bridge' doubled edges, which
    live entirely on the border and thus dissolve into separate paths
    here). Returns (paths, finished): paths is a list of (m,2) open
    polylines whose endpoints sit on cell borders; finished is the
    intact ring when NO edge touches the border (interior ring)."""
    xs = ring[:, 0]
    ys = ring[:, 1]
    x2 = geometry.rot1(xs)
    y2 = geometry.rot1(ys)
    border = np.zeros(len(ring), dtype=bool)
    for c in lines_x:
        border |= (np.abs(xs - c) <= tol) & (np.abs(x2 - c) <= tol)
    for c in lines_y:
        border |= (np.abs(ys - c) <= tol) & (np.abs(y2 - c) <= tol)
    if not border.any():
        return [], ring
    if border.all():
        # the cropped ring IS the cell box (cell interior to the
        # region): the true boundary does not pass through this cell
        return [], None
    k = len(ring)
    # path starts: vertex i where edge (i-1) is border and edge i isn't
    starts = np.nonzero(~border & np.roll(border, 1))[0]
    paths = []
    for s in starts:
        idx = [int(s)]
        j = int(s)
        while not border[j]:
            j = (j + 1) % k
            idx.append(j)
        paths.append(ring[idx])
    return paths, None


# off-grain grid offsets for the ring emitter's retry loop (fractional
# parts of sqrt(2), phi, sqrt(5), sqrt(3) — cell lines land at
# irrational-ish fractions of the data span, so coincidence between a
# data coordinate and a cell line is a freak float event; a loud
# degeneracy raise from any stage moves to the next offset, the same
# pattern faces.polygons_from_arcs_tiled uses)
_RING_GRID_OFFSETS = (
    0.4142135623730951,
    0.6180339887498949,
    0.2360679774997896,
    0.7320508075688772,
)
_RING_DEGEN = "dissolve2_rings_tiled:"
_FACE_RING_DEGEN = "mosaic_face_rings_tiled:"
_CLEAN_RING_DEGEN = "clean_rings_tiled:"


def _offgrain_grid(
    features: DataFrame, n: int, attempt: int
) -> tuple[float, float, float, float, float]:
    """Shared grid derivation for the tiled ring emitters: layer
    bounds → n×n cells with n-1 divisions and an off-grain origin
    shift, so cell lines land at irrational-ish fractions of the span
    (a grid whose lines sit ~5e-10 from regular data coordinates would
    defeat any border-classification tolerance). Returns
    (ox, oy, cw, ch, tol)."""
    if n < 2:
        # no degen marker: retrying the grid cannot fix an invalid res
        raise ValueError(
            "ring emitters require res >= 1 (a 1-cell grid has no "
            "interior lines; n must be >= 2)"
        )
    b = features.select(
        F.min(F.expr("array_min(xs)")).alias("x0"),
        F.max(F.expr("array_max(xs)")).alias("x1"),
        F.min(F.expr("array_min(ys)")).alias("y0"),
        F.max(F.expr("array_max(ys)")).alias("y1"),
    ).first()
    off = _RING_GRID_OFFSETS[attempt]
    if b.x0 is None:
        ox, oy, cw, ch = 0.0, 0.0, 1.0, 1.0
    else:
        cw = max(b.x1 - b.x0, 1e-12) * (1.0 + 1e-9) / (n - 1)
        ch = max(b.y1 - b.y0, 1e-12) * (1.0 + 1e-9) / (n - 1)
        ox, oy = b.x0 - off * cw, b.y0 - off * ch
    # magnitude-aware: border classification must sit far above the
    # S-H crossing placement error (~100 ulp of the coordinate
    # magnitude) and far below real feature separation
    mag = max(abs(ox), abs(oy), abs(ox + n * cw), abs(oy + n * ch), cw + ch)
    return ox, oy, cw, ch, mag * 1e-12


def dissolve2_rings_tiled(
    features: DataFrame,
    res: int = 4,
    max_rep_cells: int = 8,
    chunked: bool = False,
) -> DataFrame:
    last_err: Exception | None = None
    for attempt in range(len(_RING_GRID_OFFSETS)):
        try:
            return _dissolve2_rings_tiled_at(
                features, res, max_rep_cells, attempt, chunked
            )
        except Exception as e:  # degenerate grid alignment → next origin
            if _RING_DEGEN in str(e):
                last_err = e
                continue
            raise
    raise last_err  # pragma: no cover — adversarial layer


def _dissolve2_rings_tiled_at(
    features: DataFrame,
    res: int,
    max_rep_cells: int,
    attempt: int,
    chunked: bool = False,
) -> DataFrame:
    """-dissolve2 with RING GEOMETRY output from the tiled construction
    [VERDICT r3 #6 — the area form (:func:`dissolve2_tiled`) was
    distributed, the merged ring geometry still required the global
    per-key fold]. Output: (key, ring_id, n_vertices, area, xs, ys),
    one row per ring of each key's union region (holes carry negative
    area), equal to the global ``union_many`` rings up to extra
    collinear vertices where a ring crosses a cell line.

    Plan (all stages distributed; per-task work is cell- or
    ring-bounded):

    1. :func:`mosaic_replicate` ships each feature's cell-bounded crops
       (large features never replicate whole — VERDICT r3 #2).
    2. Per (key, cell): ``union_many`` over the cell's crops, then a
       Sutherland-Hodgman crop to the EXACT cell box → the union region
       ∩ cell. Each cropped ring splits into maximal non-border PATHS
       (:func:`_ring_border_paths`); rings that never touch the border
       emit as finished rings directly.
    3. Paths stitch ACROSS cells by exact endpoint equality: a border
       crossing point is computed from the same original edge and the
       same cell line on both sides, with equal cell extents, so the
       two S-H parameters are exact negations and the coordinates match
       BITWISE. Endpoint groups become path-adjacency edges; connected
       components (``faces._cc_labels`` — size-routed driver union-find
       / hash-min pointer jumping) label each global ring; a final
       per-ring assembly chains the paths (orientation is preserved:
       at every junction exactly one path ends and one begins).

    General-position w.r.t. cell lines is assumed for path
    classification (original edges lying exactly ON a cell line, or a
    boundary through a cell corner); the grid derives from layer
    bounds, so alignment is a float-equality event — re-derive with a
    different ``res`` if a layer manufactures it."""
    n = 1 << res
    ox, oy, cw, ch, tol = _offgrain_grid(features, n, attempt)

    replicated = mosaic_replicate(
        features, n, ox, oy, cw, ch, max_rep_cells, pad_salt=attempt
    )

    def cell_paths(pdf: pd.DataFrame) -> pd.DataFrame:
        ix = int(pdf["ix"].iloc[0])
        iy = int(pdf["iy"].iloc[0])
        x_lo, y_lo = ox + ix * cw, oy + iy * ch
        x_hi, y_hi = x_lo + cw, y_lo + ch
        rings: list[np.ndarray] = []
        for _, r in pdf.sort_values("feature_id").iterrows():
            for rx, ry in zip(r["rings_xs"], r["rings_ys"]):
                ring = np.column_stack([np.asarray(rx), np.asarray(ry)])
                # flattening the per-feature crop SETS into one list is
                # only sound because crops of single hole-free rings by
                # a convex box carry no hole rings (union_many
                # normalizes every ring CCW — a hole here would silently
                # fill) [ADVICE r4 #2]; degen-marked so a kernel-traced
                # orientation flip gets the grid retry before failing
                if geometry.shoelace_area_local(ring[:, 0], ring[:, 1]) <= 0.0:
                    raise ValueError(
                        _RING_DEGEN + " non-positive ring orientation "
                        "in a cell fold (CW input ring — normalize "
                        "winding first — or a traced flip reached the "
                        "CCW-normalizing union)"
                    )
                rings.append(ring)
        merged = geometry.union_many(rings)
        out: list[dict] = []
        _crop_region_paths(
            out,
            pdf["key"].iloc[0],
            (ix * n + iy) << 20,
            0,
            merged,
            ix,
            iy,
            n,
            x_lo,
            y_lo,
            x_hi,
            y_hi,
            tol,
            _RING_DEGEN,
        )
        return pd.DataFrame(out, columns=["key", "path_seq", "closed", "xs", "ys"])

    raw_paths = _fold_parallel(replicated, "key", "ix", "iy").groupBy(
        "key", "ix", "iy"
    ).applyInPandas(
        cell_paths,
        schema=(
            "key string, path_seq long, closed boolean,"
            " xs array<double>, ys array<double>"
        ),
    )
    return _stitch_border_paths(
        raw_paths, ox, oy, cw, ch, tol, chunked, _RING_DEGEN
    )


def _stitch_border_paths(
    raw_paths: DataFrame,
    ox: float,
    oy: float,
    cw: float,
    ch: float,
    tol: float,
    chunked: bool,
    degen: str,
) -> DataFrame:
    """Shared tail of the tiled ring emitters (dissolve2 / mosaic faces
    / clean): given per-cell boundary PATHS — (key, path_seq, closed,
    xs, ys) rows where path_seq is unique per (key, cell) via the
    ``(cell_index << 20) + seq`` packing and open paths end exactly on
    cell lines — pair endpoints per cell line by sorted adjacency,
    label global rings with size-routed connected components, and
    assemble (or, ``chunked``, emit chain-ordered path rows). ``degen``
    prefixes every loud degeneracy raise so each caller's grid-origin
    retry loop recognizes its own failures."""
    from . import faces as faces_mod

    # path_seq is unique per KEY (the (cell_index << 20) + seq packing
    # with _crop_region_paths' per-cell 2^20 guard); compose a GLOBALLY
    # unique path_id as a CONTENT-ADDRESSED xxhash64 of (key, path_seq)
    # [VERDICT r4 #1 — the previous dense_rank key index ran every
    # distinct output key through ONE task's global sort and capped keys
    # at 2^20; clean embeds feature_id and mosaic the members_csv in the
    # key, so a 100-TB layer hits both long before geometry matters].
    # The grid origin salts the hash, so a (vanishingly unlikely, but
    # CHECKED) 64-bit collision re-deals on the caller's grid-origin
    # retry instead of recurring deterministically. path_seq rides along
    # because chain assembly starts each ring at its min-path_seq path —
    # the same start the old packed id selected — keeping assembled
    # xs/ys bitwise stable.
    paths_df = raw_paths.withColumn(
        "path_id",
        F.xxhash64("key", "path_seq", F.lit(float(ox)), F.lit(float(oy))),
    ).localCheckpoint()
    n_tot, n_uniq = paths_df.select(
        F.count(F.lit(1)), F.count_distinct("path_id")
    ).first()
    if n_tot != n_uniq:
        raise ValueError(
            degen + f" path_id hash collision ({n_tot - n_uniq} dup)"
        )

    open_paths = paths_df.filter(~F.col("closed"))
    # endpoint rows classified to their cell LINE: exact cross-cell
    # coordinate equality is ulp-fragile (the two cells' union folds
    # can represent the crossing edge with different sub-segment
    # endpoints), so partners are found by SORTED ADJACENCY along each
    # line instead — a crossing's two endpoint instances are within
    # ulps of each other while distinct crossings are real-geometry
    # distances apart
    ends = open_paths.select(
        "key",
        "path_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("which"),
                    F.element_at("xs", 1).alias("ex"),
                    F.element_at("ys", 1).alias("ey"),
                ),
                F.struct(
                    F.lit(1).alias("which"),
                    F.element_at("xs", -1).alias("ex"),
                    F.element_at("ys", -1).alias("ey"),
                ),
            )
        ).alias("pt"),
    ).select("key", "path_id", "pt.which", "pt.ex", "pt.ey")
    dx = (F.col("ex") - F.lit(ox)) / F.lit(cw)
    dy = (F.col("ey") - F.lit(oy)) / F.lit(ch)
    vx_off = F.abs(dx - F.round(dx))
    vy_off = F.abs(dy - F.round(dy))
    ends = ends.select(
        "key",
        "path_id",
        "which",
        F.when(vx_off <= vy_off, F.lit("v")).otherwise(F.lit("h")).alias("lk"),
        F.when(vx_off <= vy_off, F.round(dx).cast("int"))
        .otherwise(F.round(dy).cast("int"))
        .alias("li"),
        F.when(vx_off <= vy_off, F.col("ey")).otherwise(F.col("ex")).alias("free"),
    )

    pair_schema = "key string, src long, src_end int, dst long, dst_end int"
    match_tol = 64.0 * tol

    def pair_line(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["free", "path_id", "which"]).reset_index(drop=True)
        if len(pdf) % 2:
            raise ValueError(
                degen + " odd endpoint count on a cell "
                "line (cell-line-aligned or corner-crossing input)"
            )
        free = pdf["free"].to_numpy(dtype=float)
        out = []
        for i in range(0, len(pdf), 2):
            a, bb = pdf.iloc[i], pdf.iloc[i + 1]
            # A pair is accepted when its internal gap is ulp-scale
            # (match_tol) OR dominated 1024x by the distance to the
            # nearest endpoint OUTSIDE the pair. The second clause
            # absorbs robust-kernel perturbation: coincident inputs
            # (duplicate features, corner-touching chains) make the two
            # cells' folds perturb independently, shifting a crossing
            # by up to eps = span*1e-9*10^(k-1) per attempt — measured
            # 5e-10 gaps vs the old fixed 64*tol ~ 2e-10 window, which
            # failed ALL grid retries loudly. Distinct real crossings
            # sit real-geometry distances apart, so domination keeps
            # mispairing impossible and ambiguity loud.
            g_in = float(free[i + 1] - free[i])
            g_out = np.inf
            if i > 0:
                g_out = min(g_out, float(free[i] - free[i - 1]))
            if i + 2 < len(free):
                g_out = min(g_out, float(free[i + 2] - free[i + 1]))
            if g_in > match_tol and g_in * 1024.0 > g_out:
                raise ValueError(
                    degen + " unpartnered border endpoint "
                    f"(gap {g_in!r}, neighbor {g_out!r})"
                )
            if g_in <= match_tol and g_out <= match_tol:
                # >= 4 crossings cluster within tolerance: coincident
                # or SUB-TOLERANCE-SEPARATED edge runs (an r5 sweep
                # found a 1.4e-45 gap between two features' vertical
                # edges) leave eps-sliver boundary crossings whose
                # residue-scale in-pair gaps dominate the real edge
                # separation — no matching is defensible, and a grid
                # retry cannot fix an input-inherent sliver
                raise ValueError(
                    degen + " ambiguous endpoint "
                    "pairing on a cell line (edge runs coincident or "
                    "separated below tolerance — snap/dedup input "
                    "edges first; the area forms tolerate them)"
                )
            # orientation invariant: one path ENDS here, its partner
            # BEGINS here (traversal direction is preserved per cell)
            if int(a["which"]) + int(bb["which"]) != 1:
                raise ValueError(
                    degen + " endpoint pair is not "
                    "end-to-start (orientation broken)"
                )
            src, dst = (a, bb) if int(a["which"]) == 1 else (bb, a)
            out.append(
                {
                    "key": a["key"],
                    "src": int(src["path_id"]),
                    "src_end": 1,
                    "dst": int(dst["path_id"]),
                    "dst_end": 0,
                }
            )
        return pd.DataFrame(out, columns=["key", "src", "src_end", "dst", "dst_end"])

    pairs = (
        ends.groupBy("key", "lk", "li")
        .applyInPandas(pair_line, schema=pair_schema)
        .localCheckpoint()
    )
    labels = faces_mod._cc_labels(
        open_paths.select(F.col("path_id").alias("piece_id")),
        pairs.select("src", "dst"),
    )
    lab = labels.withColumnRenamed("piece_id", "path_id")
    # each open path carries its SUCCESSOR as a column (one join), so
    # ring assembly is a single-input grouped stage — not the previous
    # join + cogroup pair, whose second sorted side cost a stage per
    # query. LEFT join: a pairing hole must surface as the walk's
    # broken-chain raise, never as a silently dropped row.
    nxt = pairs.select(F.col("src").alias("path_id"), F.col("dst").alias("nxt"))
    lpaths = open_paths.join(nxt, "path_id", "left").join(lab, "path_id")

    if chunked:
        # CHUNKED emitter [NEXT r4 #2]: a ring's coordinates never
        # assemble in one task. The chain order is a pure function of
        # the (path_id → successor) metadata, so the per-ring cogroup
        # sees only ids — O(paths-in-ring) ints, never coordinates —
        # and the coordinate arrays stay in their path rows, joined
        # back by path_id. Concatenating a ring's chunks in chunk_seq
        # order reproduces the assembled form's xs/ys BITWISE (same
        # start path: min path_id; same cycle traversal).
        order_schema = (
            "key string, ring_id long, path_id long,"
            " chunk_seq int, n_chunks int"
        )

        def chain_order_batch(pdf_iter):
            # many rings per Arrow batch (see assemble_batch)
            for pdf in pdf_iter:
                out: dict[str, list] = {
                    "key": [],
                    "ring_id": [],
                    "path_id": [],
                    "chunk_seq": [],
                    "n_chunks": [],
                }
                for _, row in pdf.iterrows():
                    ids = set()
                    nxt_of = {}
                    seq_of = {}
                    for p in row["meta"]:
                        pid = int(p["path_id"])
                        ids.add(pid)
                        seq_of[pid] = int(p["path_seq"])
                        if p["nxt"] is not None and not pd.isna(p["nxt"]):
                            nxt_of[pid] = int(p["nxt"])
                    # min path_seq = the start the old packed ids chose
                    first = min(ids, key=seq_of.__getitem__)
                    order = []
                    cur = first
                    for _ in range(len(ids)):
                        order.append(cur)
                        cur = nxt_of.get(cur)
                        if cur is None:
                            raise ValueError(degen + " broken path chain")
                        if cur == first:
                            break
                    else:
                        raise ValueError(degen + " path chain not closed")
                    m = len(order)
                    out["key"].extend([row["key"]] * m)
                    out["ring_id"].extend([int(row["label"])] * m)
                    out["path_id"].extend(order)
                    out["chunk_seq"].extend(range(m))
                    out["n_chunks"].extend([m] * m)
                yield pd.DataFrame(out)

        order = (
            lpaths.groupBy("key", "label")
            .agg(
                F.collect_list(
                    F.struct("path_id", "path_seq", "nxt")
                ).alias("meta")
            )
            .mapInPandas(chain_order_batch, schema=order_schema)
        )
        open_chunks = order.join(
            open_paths.select("path_id", "xs", "ys"), "path_id"
        ).select(
            "key",
            "ring_id",
            "chunk_seq",
            "n_chunks",
            F.size("xs").alias("n_vertices"),
            "xs",
            "ys",
        )
        closed_chunks = paths_df.filter("closed").select(
            "key",
            F.col("path_id").alias("ring_id"),
            F.lit(0).alias("chunk_seq"),
            F.lit(1).alias("n_chunks"),
            F.size("xs").alias("n_vertices"),
            "xs",
            "ys",
        )
        # eager [ADVICE r4 #1]: the chain-walk raises in
        # chain_order_batch execute lazily; forcing the final frame here
        # lands EVERY degen raise inside the caller's grid-retry loop
        # (previously a post-return broken-chain raise surfaced as a raw
        # executor error instead of moving to the next grid origin)
        return open_chunks.unionByName(closed_chunks).localCheckpoint()

    ring_schema = (
        "key string, ring_id long, n_vertices int, area double,"
        " xs array<double>, ys array<double>"
    )

    def assemble_batch(pdf_iter):
        # many rings per Arrow batch: the per-ring work is a tiny
        # Python chain walk, so a grouped-apply stage paid ~1-3 ms of
        # per-group overhead per ring across tens of thousands of tiny
        # groups — the JVM collect_list aggregate + mapInPandas batches
        # them instead
        for pdf in pdf_iter:
            out = []
            for _, row in pdf.iterrows():
                segs = {}
                nxt_of = {}
                seq_of = {}
                for p in row["paths"]:
                    pid = int(p["path_id"])
                    segs[pid] = (p["xs"], p["ys"])
                    seq_of[pid] = int(p["path_seq"])
                    if p["nxt"] is not None and not pd.isna(p["nxt"]):
                        nxt_of[pid] = int(p["nxt"])
                # min path_seq = the start the old packed ids chose
                first = min(segs, key=seq_of.__getitem__)
                xs, ys = [], []
                cur = first
                for _ in range(len(segs)):
                    px, py = segs[cur]
                    xs.extend(px)
                    ys.extend(py)
                    cur = nxt_of.get(cur)
                    if cur is None:
                        raise ValueError(degen + " broken path chain")
                    if cur == first:
                        break
                else:
                    raise ValueError(degen + " path chain not closed")
                arr_x = np.asarray(xs)
                arr_y = np.asarray(ys)
                out.append(
                    {
                        "key": row["key"],
                        "ring_id": int(row["label"]),
                        "n_vertices": len(arr_x),
                        # translation-stabilized: raw shoelace loses ~5
                        # digits on offset-heavy layers (hunt find)
                        "area": geometry.shoelace_area_local(arr_x, arr_y),
                        "xs": list(arr_x),
                        "ys": list(arr_y),
                    }
                )
            yield pd.DataFrame(
                out, columns=["key", "ring_id", "n_vertices", "area", "xs", "ys"]
            )

    stitched = (
        lpaths.groupBy("key", "label")
        .agg(
            F.collect_list(
                F.struct("path_id", "path_seq", "nxt", "xs", "ys")
            ).alias("paths")
        )
        .mapInPandas(assemble_batch, schema=ring_schema)
    )
    closed = paths_df.filter("closed").select(
        "key",
        F.col("path_id").alias("ring_id"),
        F.size("xs").alias("n_vertices"),
        F.lit(0.0).alias("area"),
        "xs",
        "ys",
    )

    def _closed_area(pdf_iter):
        for pdf in pdf_iter:
            if len(pdf):
                pdf["area"] = [
                    geometry.shoelace_area_local(np.asarray(x), np.asarray(y))
                    for x, y in zip(pdf["xs"], pdf["ys"])
                ]
            yield pdf

    closed = closed.mapInPandas(_closed_area, schema=ring_schema)
    # eager [ADVICE r4 #1]: assemble_batch's broken-chain raises must
    # land inside the caller's grid-retry loop, not after it returns
    return stitched.unionByName(closed).localCheckpoint()


_KEY_SEP = "\x1f"


def _crop_region_paths(
    out: list,
    ck: str,
    cell_base: int,
    seq: int,
    rings: list,
    ix: int,
    iy: int,
    n: int,
    x_lo: float,
    y_lo: float,
    x_hi: float,
    y_hi: float,
    tol: float,
    degen: str,
) -> int:
    """Crop a region's ring set to the EXACT cell box and emit its
    boundary paths (shared by the tiled ring emitters). S-H preserves
    traversal order, so outer/hole orientation survives the crop.
    INTERIOR cell lines only: the grid's outer lines coincide with the
    layer bounds, so true boundary edges lie exactly on them — dropping
    those as crop artifacts would corrupt the boundary (and leave
    unpartnered path endpoints). Returns the advanced seq; raises
    loudly (degen-prefixed) if a cell exhausts its 2^20 path-id space
    [ADVICE r3: the faces piece_id packing got the same guard]."""
    lx = tuple(v for v, keep in ((x_lo, ix > 0), (x_hi, ix < n - 1)) if keep)
    ly = tuple(v for v, keep in ((y_lo, iy > 0), (y_hi, iy < n - 1)) if keep)
    for g in rings:
        cx, cy = geometry.clip_ring_bbox(g[:, 0], g[:, 1], x_lo, y_lo, x_hi, y_hi)
        if len(cx) < 3:
            continue
        paths, finished = _ring_border_paths(
            np.column_stack([cx, cy]), lx, ly, tol
        )
        if seq + len(paths) + 1 >= 1 << 20:
            raise ValueError(degen + " >2^20 paths in one cell")
        if finished is not None:
            out.append(
                {
                    "key": ck,
                    "path_seq": cell_base + seq,
                    "closed": True,
                    "xs": [float(v) for v in finished[:, 0]],
                    "ys": [float(v) for v in finished[:, 1]],
                }
            )
            seq += 1
        for p in paths:
            out.append(
                {
                    "key": ck,
                    "path_seq": cell_base + seq,
                    "closed": False,
                    "xs": [float(v) for v in p[:, 0]],
                    "ys": [float(v) for v in p[:, 1]],
                }
            )
            seq += 1
    return seq


def mosaic_face_rings_tiled(
    features: DataFrame,
    res: int = 4,
    max_rep_cells: int = 8,
    chunked: bool = False,
) -> DataFrame:
    """-mosaic with RING GEOMETRY output from the tiled construction —
    the last overlay op whose geometry output still required the global
    per-key fold [VERDICT r3 'What's missing' #4]. Output: (key,
    members_csv, ring_id, n_vertices, area, xs, ys), one row per ring
    of each face of the planar arrangement (holes carry negative area),
    equal to the global :func:`mosaic_faces` ring sets up to extra
    collinear vertices where a ring crosses a cell line.

    Same three-stage plan as :func:`dissolve2_rings_tiled` (replicate →
    per-cell fold + border paths → stitch), with the per-cell stage
    running the incremental face split instead of the union fold; the
    per-cell face signatures agree with the global arrangement (a
    point's covering set is decided by the features reaching its cell),
    so paths stitch per (key, members_csv) composite key.

    Contract on COINCIDENT inputs (duplicate features, shared edge
    runs): the per-cell folds perturb-retry and can leave eps-width
    SLIVER faces whose cell-line crossings cluster at perturbation
    scale — inherently ambiguous to stitch, so the emitter raises
    LOUDLY after the grid retries (never a silent mis-stitch). Dedup /
    snap coincident layers first; the AREA forms (mosaic_faces_tiled)
    tolerate them because slivers cancel in sums. COVERAGE layers
    whose features share borders (admin boundaries) have an exact
    native tool instead: the arc-cancellation dissolve
    (topology.dissolve / dissolve_rings) resolves shared arcs by
    construction — the tiled emitters target OVERLAPPING layers. When
    a shared-run layer does stitch, only its AREA is canonical: the
    boundary may carry zero-area slits, fully or partially collapsed
    (r5 adjacency hunt; test_shared_edge_run_tiled_area_canonical)."""
    return _face_rings_tiled(features, res, max_rep_cells, chunked, clean=False)


def clean_rings_tiled(
    features: DataFrame,
    res: int = 4,
    max_rep_cells: int = 8,
    chunked: bool = False,
) -> DataFrame:
    """-clean with RING GEOMETRY output from the tiled construction:
    every mosaic face is assigned to its lowest covering feature_id
    (the deterministic winner rule :func:`clean_assign_areas` uses) and
    each feature's assigned faces merge into its overlap-free geometry.
    Output: (key, feature_id, ring_id, n_vertices, area, xs, ys).

    A feature's min-id clean region is exactly f ∖ ⋃(lower-id
    features) — the remainder term of the face fold — so the per-cell
    stage runs sequential robust differences of ORIGINAL feature
    geometry only (:func:`_fold_cell_clean`). Union-folding the
    assignee's FACES instead would feed the kernel the faces' coincident
    shared-edge runs, whose perturb-retries shift boundary coordinates
    past the cross-cell pairing tolerance (measured: 7.8e-9 endpoint
    gaps vs a 2e-9 match window) — the difference-of-originals form
    keeps the global op's degeneracy profile and stitches exactly."""
    return _face_rings_tiled(features, res, max_rep_cells, chunked, clean=True)


def _fold_cell_clean(pdf: pd.DataFrame) -> list:
    """Per-cell clean regions: [(feature_id, rings)] where rings =
    feature ∖ all lower-feature_id features (even-odd ring sets).

    Cost bound [VERDICT r4 #6, measured by
    scripts/emitter_scale_probe.py's deep-overlap probe]: O(m²) robust
    differences for m features reaching the cell, mitigated by the
    strict bbox-disjoint short-circuit and the empty-remainder break.
    A worst-case m=50 stack of mutually-overlapping boxes (every
    remainder nonempty, every pair bbox-overlapping) folds in ~1.2 s
    driver-side numpy — per-cell depth m, not layer size, is the
    knob, and real layers keep m small; a probe-visible straggler
    would justify a sweep-order prune (sort by area descending so
    large erasers empty remainders early)."""
    regions: list[tuple[int, list]] = []
    processed: list[tuple[list, tuple]] = []
    for _, r in pdf.sort_values("feature_id").iterrows():
        pid = int(r["feature_id"])
        rings = [
            np.column_stack([np.asarray(rx), np.asarray(ry)])
            for rx, ry in zip(r["rings_xs"], r["rings_ys"])
        ]
        bb = _rings_bbox(rings)
        rem = rings
        rem_bb = bb
        for prev, pbb in processed:
            if _bbox_disjoint(rem_bb, pbb):
                continue
            _, rem = geometry.gh_split_rings_robust(rem, prev)
            if not rem:
                break
            rem_bb = _rings_bbox(rem)
        if rem:
            regions.append((pid, rem))
        processed.append((rings, bb))
    return regions


def _face_rings_tiled(
    features: DataFrame,
    res: int,
    max_rep_cells: int,
    chunked: bool,
    clean: bool,
) -> DataFrame:
    last_err: Exception | None = None
    degen = _CLEAN_RING_DEGEN if clean else _FACE_RING_DEGEN
    for attempt in range(len(_RING_GRID_OFFSETS)):
        try:
            return _face_rings_tiled_at(
                features, res, max_rep_cells, attempt, chunked, clean, degen
            )
        except Exception as e:  # degenerate grid alignment → next origin
            if degen in str(e):
                last_err = e
                continue
            raise
    raise last_err  # pragma: no cover — adversarial layer


def _face_rings_tiled_at(
    features: DataFrame,
    res: int,
    max_rep_cells: int,
    attempt: int,
    chunked: bool,
    clean: bool,
    degen: str,
) -> DataFrame:
    n = 1 << res
    ox, oy, cw, ch, tol = _offgrain_grid(features, n, attempt)
    replicated = mosaic_replicate(
        features, n, ox, oy, cw, ch, max_rep_cells, pad_salt=attempt
    )

    def cell_face_paths(pdf: pd.DataFrame) -> pd.DataFrame:
        ix = int(pdf["ix"].iloc[0])
        iy = int(pdf["iy"].iloc[0])
        x_lo, y_lo = ox + ix * cw, oy + iy * ch
        x_hi, y_hi = x_lo + cw, y_lo + ch
        if clean:
            regions = [
                (str(pid), rem) for pid, rem in _fold_cell_clean(pdf)
            ]
        else:
            regions = [
                (",".join(str(i) for i in sorted(ids)), fr)
                for fr, ids in _fold_cell_faces(pdf)
            ]
        base = pdf["key"].iloc[0]
        if _KEY_SEP in base:
            # no degen marker: retrying the grid cannot fix an invalid key
            raise ValueError(
                "ring emitter: key contains the composite-key separator (0x1f)"
            )
        out: list[dict] = []
        seq = 0
        cell_base = (ix * n + iy) << 20
        for sub, rings in regions:
            seq = _crop_region_paths(
                out,
                base + _KEY_SEP + sub,
                cell_base,
                seq,
                rings,
                ix,
                iy,
                n,
                x_lo,
                y_lo,
                x_hi,
                y_hi,
                tol,
                degen,
            )
        return pd.DataFrame(out, columns=["key", "path_seq", "closed", "xs", "ys"])

    raw_paths = _fold_parallel(replicated, "key", "ix", "iy").groupBy(
        "key", "ix", "iy"
    ).applyInPandas(
        cell_face_paths,
        schema=(
            "key string, path_seq long, closed boolean,"
            " xs array<double>, ys array<double>"
        ),
    )
    stitched = _stitch_border_paths(raw_paths, ox, oy, cw, ch, tol, chunked, degen)
    stitched = stitched.withColumn(
        "_sub", F.substring_index("key", _KEY_SEP, -1)
    ).withColumn("key", F.substring_index("key", _KEY_SEP, 1))
    if clean:
        return stitched.withColumn(
            "feature_id", F.col("_sub").cast("int")
        ).drop("_sub")
    return stitched.withColumnRenamed("_sub", "members_csv")


def clean_assign_areas(features: DataFrame, tiled: bool = False, res: int = 4) -> DataFrame:
    """-clean [upstream mosaic-based overlap repair, SURVEY.md §2.2]:
    remove overlaps by assigning every mosaic face to exactly ONE of its
    covering members (the lowest feature_id — upstream's deterministic
    winner rule analog) and re-aggregating per feature. Area-accounting
    form: (key, feature_id, clean_area); Σ clean_area per key equals the
    union measure (each face counted once).

    ``tiled=True`` routes through the distributed mosaic
    [VERDICT r2 #2] — identical output (the min-member assignment is a
    pure function of the face signature, which the tiled mosaic
    preserves), scale-out plan."""
    faces = mosaic_faces_tiled(features, res=res) if tiled else mosaic_faces(features)
    assigned = faces.withColumn(
        "feature_id",
        F.expr("array_min(transform(split(members_csv, ','), s -> CAST(s AS INT)))"),
    )
    return assigned.groupBy("key", "feature_id").agg(
        F.sum("area").alias("clean_area")
    )


def union_hole_rings(features: DataFrame) -> DataFrame:
    """Hole rings of each key group's union region (negative signed
    area) — the GAP candidates for :func:`clean_gap_fill`. Per-key
    ``union_many`` fold (dim-sized groups, the mosaic transport);
    the tiled twin is ``dissolve2_rings_tiled(...).where(area < 0)``.
    hole_id is deterministic: holes sorted by (area, bbox min)."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf["key"].iloc[0]
        rings = [
            np.column_stack([np.asarray(r["xs"]), np.asarray(r["ys"])])
            for _, r in pdf.sort_values("feature_id").iterrows()
        ]
        holes = []
        for g in geometry.union_many(rings):
            if (g[0] == g[-1]).all():  # normalize closed rings open
                g = g[:-1]
            a = geometry.shoelace_area_local(g[:, 0], g[:, 1])
            if a < 0.0:
                holes.append((a, float(g[:, 0].min()), float(g[:, 1].min()), g))
        holes.sort(key=lambda h: (h[0], h[1], h[2]))
        rows = [
            {
                "key": key,
                "hole_id": i,
                "xs": g[:, 0].tolist(),
                "ys": g[:, 1].tolist(),
                "area": a,
            }
            for i, (a, _x, _y, g) in enumerate(holes)
        ]
        return pd.DataFrame(rows, columns=["key", "hole_id", "xs", "ys", "area"])

    return features.groupBy("key").applyInPandas(
        run,
        schema="key string, hole_id int, xs array<double>, ys array<double>, area double",
    )


def _ring_edges(df: DataFrame, keep: list) -> DataFrame:
    """Explode open vertex rings into directed edges (x1,y1)->(x2,y2)
    with the wrap-around closing edge — pure JVM column math."""
    edge_expr = (
        "transform(sequence(0, size(xs) - 1), i -> named_struct("
        "'ex1', xs[i], 'ey1', ys[i], "
        "'ex2', xs[(i + 1) % size(xs)], 'ey2', ys[(i + 1) % size(ys)], "
        "'eseq', i))"
    )
    e = df.select(*keep, F.explode(F.expr(edge_expr)).alias("_e"))
    return e.select(*keep, "_e.ex1", "_e.ey1", "_e.ex2", "_e.ey2", "_e.eseq")


def clean_gap_fill(
    features: DataFrame,
    gap_fill_area: float,
    res: int = 4,
    tiled: bool = False,
) -> DataFrame:
    """-clean gap fill [upstream -clean's second half: overlap removal
    (clean_assign_areas) PLUS filling of small enclosed gaps; the
    ``gap-fill-area=`` option bounds which gaps fill]: every hole of
    the layer's union with |area| <= gap_fill_area is dissolved into
    the neighboring feature with the LONGEST SHARED BORDER (ties break
    to the lowest feature_id — upstream's deterministic-winner analog);
    larger holes are preserved.

    Plan (everything after the hole source is JVM column math + joins):
    gaps = union holes under the threshold (zero-area slit artifacts of
    coincident-run layers are filtered by a ulp-scale area floor, per
    the adjacency representation contract) → explode hole rings and
    feature rings into edges → a key-equi join credits each gap edge's
    LENGTH to every feature whose boundary contains the edge midpoint
    (point-on-segment in a per-key floor-anchored LOCAL FRAME — raw
    cross products at offset-heavy coordinates carry magnitude-scale
    noise, the same failure the shoelace_area_local gate closes) →
    per-(gap, feature) length sums → window argmax → the winner's
    clean area absorbs the hole.

    ``tiled=True`` is the 100-TB shape end to end: holes come from
    :func:`dissolve2_rings_tiled` (negative stitched rings), the clean
    areas from the distributed mosaic, and the crediting join switches
    from the broadcast cross-pair to a CELL-BUCKETED equi-join —
    midpoints hash to one per-key grid cell, feature edges replicate to
    the (tol-padded) cell range of their bbox, and the join runs on
    (key, cx, cy) so fan-out is bounded by per-cell edge density, never
    layer size. Coincident-run coverage layers (shared admin borders)
    belong on the arc-cancellation dissolve per the representation
    contract — their union-hole decomposition is not canonical.

    Output: (key, feature_id, clean_area_r) — overlap-resolved areas
    plus filled gaps, rounded to 9dp (perturbed-attempt folds and
    offset-heavy crossing solves carry ~1e-12-relative residue)."""
    clean = clean_assign_areas(features, tiled=tiled, res=res)
    if tiled:
        holes = (
            dissolve2_rings_tiled(features, res=res)
            .where(F.col("area") < 0)
            .select(
                "key",
                # content-addressed 64-bit path id — grouping key only
                F.col("ring_id").alias("hole_id"),
                "xs",
                "ys",
                "area",
            )
        )
    else:
        holes = union_hole_rings(features)
    span2 = "((array_max(xs) - array_min(xs)) * (array_max(ys) - array_min(ys)))"
    gaps = holes.where(
        (-F.col("area") <= F.lit(float(gap_fill_area)))
        & (-F.col("area") > F.expr(f"64e-16 * {span2}"))
    )
    # per-key local anchor + span (offset-heavy stabilization + the
    # point-on-segment tolerance scale) + the bucketing grid
    n_cells = 1 << res
    frame = features.groupBy("key").agg(
        F.floor(F.min(F.expr("array_min(xs)"))).alias("_ax"),
        F.floor(F.min(F.expr("array_min(ys)"))).alias("_ay"),
        F.greatest(
            F.lit(1.0),
            F.max(F.expr("array_max(xs)")) - F.min(F.expr("array_min(xs)")),
            F.max(F.expr("array_max(ys)")) - F.min(F.expr("array_min(ys)")),
        ).alias("_span"),
        F.min(F.expr("array_min(xs)")).alias("_gx0"),
        F.min(F.expr("array_min(ys)")).alias("_gy0"),
        (
            F.greatest(
                F.max(F.expr("array_max(xs)")) - F.min(F.expr("array_min(xs)")),
                F.lit(1e-12),
            )
            * (1.0 + 1e-9)
            / n_cells
        ).alias("_cw"),
        (
            F.greatest(
                F.max(F.expr("array_max(ys)")) - F.min(F.expr("array_min(ys)")),
                F.lit(1e-12),
            )
            * (1.0 + 1e-9)
            / n_cells
        ).alias("_ch"),
    )
    tol = F.greatest(
        F.lit(1e-9) * F.col("_span"),
        F.lit(1e-12) * F.greatest(F.abs(F.col("_ax")), F.abs(F.col("_ay"))),
    )
    _cell = lambda v, o, w: F.least(  # noqa: E731 — clamped grid index
        F.lit(n_cells - 1), F.greatest(F.lit(0), F.floor((v - o) / w).cast("int"))
    )
    ge = (
        _ring_edges(gaps, ["key", "hole_id", "area"])
        .join(F.broadcast(frame), "key")
        .select(
            "key",
            "hole_id",
            "area",
            F.col("eseq").alias("gseq"),
            ((F.col("ex1") + F.col("ex2")) / 2 - F.col("_ax")).alias("mx"),
            ((F.col("ey1") + F.col("ey2")) / 2 - F.col("_ay")).alias("my"),
            F.sqrt(
                (F.col("ex2") - F.col("ex1")) * (F.col("ex2") - F.col("ex1"))
                + (F.col("ey2") - F.col("ey1")) * (F.col("ey2") - F.col("ey1"))
            ).alias("elen"),
            _cell(
                (F.col("ex1") + F.col("ex2")) / 2, F.col("_gx0"), F.col("_cw")
            ).alias("cgx"),
            _cell(
                (F.col("ey1") + F.col("ey2")) / 2, F.col("_gy0"), F.col("_ch")
            ).alias("cgy"),
        )
    )
    fe = (
        _ring_edges(features, ["key", "feature_id"])
        .join(F.broadcast(frame), "key")
        .select(
            "key",
            "feature_id",
            (F.col("ex1") - F.col("_ax")).alias("fx1"),
            (F.col("ey1") - F.col("_ay")).alias("fy1"),
            (F.col("ex2") - F.col("_ax")).alias("fx2"),
            (F.col("ey2") - F.col("_ay")).alias("fy2"),
            tol.alias("_tol"),
            _cell(
                F.least("ex1", "ex2") - tol, F.col("_gx0"), F.col("_cw")
            ).alias("_cx_lo"),
            _cell(
                F.greatest("ex1", "ex2") + tol, F.col("_gx0"), F.col("_cw")
            ).alias("_cx_hi"),
            _cell(
                F.least("ey1", "ey2") - tol, F.col("_gy0"), F.col("_ch")
            ).alias("_cy_lo"),
            _cell(
                F.greatest("ey1", "ey2") + tol, F.col("_gy0"), F.col("_ch")
            ).alias("_cy_hi"),
        )
    )
    if tiled:
        # cell-bucketed transport: feature edges replicate to the
        # tol-padded cell range of their bbox; a matching midpoint
        # (within tol of the edge) always lands inside that range
        fe = (
            fe.select("*", F.explode(F.sequence("_cx_lo", "_cx_hi")).alias("cgx"))
            .select("*", F.explode(F.sequence("_cy_lo", "_cy_hi")).alias("cgy"))
            .drop("_cx_lo", "_cx_hi", "_cy_lo", "_cy_hi")
        )
        join_keys = ["key", "cgx", "cgy"]
    else:
        fe = fe.drop("_cx_lo", "_cx_hi", "_cy_lo", "_cy_hi")
        ge = ge.drop("cgx", "cgy")
        join_keys = ["key"]
    dx = F.col("fx2") - F.col("fx1")
    dy = F.col("fy2") - F.col("fy1")
    len2 = dx * dx + dy * dy
    cross = dx * (F.col("my") - F.col("fy1")) - dy * (F.col("mx") - F.col("fx1"))
    dot = dx * (F.col("mx") - F.col("fx1")) + dy * (F.col("my") - F.col("fy1"))
    on_seg = (
        (len2 > 0)
        & (cross * cross <= F.col("_tol") * F.col("_tol") * len2)
        & (dot >= -F.col("_tol") * F.sqrt(len2))
        & (dot <= len2 + F.col("_tol") * F.sqrt(len2))
    )
    credit = (
        (ge.join(fe, join_keys) if tiled else ge.join(F.broadcast(fe), join_keys))
        .where(on_seg)
        # one credit per (gap edge, feature) even when two collinear
        # edges of the same feature meet exactly at the midpoint
        .groupBy("key", "hole_id", "gseq", "feature_id")
        .agg(F.first("elen").alias("elen"), F.first("area").alias("harea"))
    )
    lens = credit.groupBy("key", "hole_id", "feature_id").agg(
        # 9dp-quantized comparison key [probe-found tie flip]: the tiled
        # hole source subdivides edges at cell lines, so a border length
        # arrives as a float SUM of sub-edge lengths (2.0 vs
        # 1.9999999999999998) — an exact tie must stay a tie across
        # transports so the min-id break is deterministic, same 9dp
        # contract as the output areas
        F.round(F.sum("elen"), 9).alias("blen"),
        F.first("harea").alias("harea"),
    )
    win = Window.partitionBy("key", "hole_id").orderBy(
        F.desc("blen"), F.asc("feature_id")
    )
    fills = (
        lens.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .select("key", "feature_id", (-F.col("harea")).alias("clean_area"))
    )
    out = clean.select("key", "feature_id", "clean_area").unionByName(fills)
    return out.groupBy("key", F.col("feature_id").cast("int").alias("feature_id")).agg(
        F.round(F.sum("clean_area"), 9).alias("clean_area_r")
    )


def inlay_area(a_features: DataFrame, b_features: DataFrame) -> DataFrame:
    """-inlay slice [upstream -inlay: carve the inlay layer out of the
    target layer, keeping both; SURVEY.md §2.6]: every target feature
    minus the UNION of the inlay polygons, computed as a fold of
    multi-ring GH differences (each step's ring-set output is the next
    step's subject — gh_clip_rings takes multi-ring subjects, so carved
    holes and split pieces survive subsequent steps). The inlay layer
    itself passes through unchanged (not re-emitted here).

    Both sides are DataFrames [VERDICT r2 #6 — the B side used to ride
    the driver closure]: a_features (poly_id, ring_idx, xs, ys),
    b_features (inlay_id, xs, ys) one simple ring per inlay polygon.
    A bbox candidate join pairs each target with only the inlays that
    can touch it (broadcast — inlay layers are the dim side; swap for
    the cell-grid equi-join at scale), then a cogroup on poly_id hands
    the kernel each target's ring set plus its candidate inlays;
    disjoint inlays are skipped by the join but the fold is unchanged
    (difference with a disjoint clip is the identity). Targets with no
    candidates flow through the cogroup with an empty B frame and come
    back uncarved. Output: (poly_id, n_rings, area)."""
    # fresh attribute ids (pid alias) — cand re-joins a_features lineage
    # in the cogroup, which trips Spark's ambiguous-self-join check
    a_bbox = a_features.groupBy(F.col("poly_id").alias("pid")).agg(
        F.min(F.expr("array_min(xs)")).alias("a_xmin"),
        F.max(F.expr("array_max(xs)")).alias("a_xmax"),
        F.min(F.expr("array_min(ys)")).alias("a_ymin"),
        F.max(F.expr("array_max(ys)")).alias("a_ymax"),
    )
    b = _bbox_cols(b_features, "b")
    cond = (
        (F.col("a_xmin") <= F.col("b_xmax"))
        & (F.col("a_xmax") >= F.col("b_xmin"))
        & (F.col("a_ymin") <= F.col("b_ymax"))
        & (F.col("a_ymax") >= F.col("b_ymin"))
    )
    # rename B coords — cogroup drops right-side columns whose names
    # shadow left-side ones (asof.py precedent)
    cand = a_bbox.join(F.broadcast(b), cond).select(
        F.col("pid").alias("poly_id"),
        "inlay_id",
        F.col("xs").alias("bxs"),
        F.col("ys").alias("bys"),
    )

    def kernel(key, apdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
        if len(apdf) == 0:
            return pd.DataFrame(columns=["poly_id", "n_rings", "area"])
        rings = [
            np.column_stack([np.asarray(r["xs"]), np.asarray(r["ys"])])
            for _, r in apdf.sort_values("ring_idx").iterrows()
        ]
        for _, r in bpdf.sort_values("inlay_id").iterrows():
            b_ring = np.column_stack([np.asarray(r["bxs"]), np.asarray(r["bys"])])
            _, rings = geometry.gh_split_rings_robust(rings, [b_ring])
            if not rings:
                break
        area = sum(geometry.shoelace_area_local(r[:, 0], r[:, 1]) for r in rings)
        return pd.DataFrame(
            [
                {
                    "poly_id": int(apdf["poly_id"].iloc[0]),
                    "n_rings": len(rings),
                    "area": area,
                }
            ]
        )

    return (
        a_features.groupBy("poly_id")
        .cogroup(cand.groupBy("poly_id"))
        .applyInPandas(kernel, schema="poly_id int, n_rings int, area double")
    )


def clip_general_area(features: DataFrame, windows: DataFrame) -> DataFrame:
    """-clip area accounting for GENERAL subjects (concave, multi-ring,
    holed) against convex windows [SURVEY.md §2.6; VERDICT r1 'What's
    missing' #1 overlay leg].

    Sutherland–Hodgman clips each ring independently — valid for concave
    subjects because the output's zero-area bridge edges cancel in the
    shoelace — and SIGNED ring areas sum per feature, so hole rings
    (opposite orientation) subtract naturally. One map-side kernel pass
    over (ring × window) bbox candidates, broadcast windows.

    features: (poly_id, ring_idx, xs, ys); windows: (poly_id, xs, ys)
    convex. Output: (poly_id, window_id, clip_area) for area > 0."""
    s = _bbox_cols(features, "s").select(
        "poly_id",
        F.col("xs").alias("sxs"),
        F.col("ys").alias("sys"),
        "s_xmin",
        "s_xmax",
        "s_ymin",
        "s_ymax",
    )
    c = _bbox_cols(windows, "c").select(
        F.col("poly_id").alias("window_id"),
        F.col("xs").alias("cxs"),
        F.col("ys").alias("cys"),
        "c_xmin",
        "c_xmax",
        "c_ymin",
        "c_ymax",
    )
    cond = (
        (F.col("s_xmin") <= F.col("c_xmax"))
        & (F.col("s_xmax") >= F.col("c_xmin"))
        & (F.col("s_ymin") <= F.col("c_ymax"))
        & (F.col("s_ymax") >= F.col("c_ymin"))
    )
    pairs = s.join(F.broadcast(c), cond).select(
        "poly_id", "sxs", "sys", "window_id", "cxs", "cys"
    )

    def run(it):
        for pdf in it:
            out = []
            for _, r in pdf.iterrows():
                cx, cy = geometry.clip_ring_convex(
                    np.asarray(r["sxs"]),
                    np.asarray(r["sys"]),
                    np.column_stack([r["cxs"], r["cys"]]),
                )
                if len(cx) >= 3:
                    a2, _, _ = geometry.shoelace_seq_local(cx, cy)
                    out.append(
                        {
                            "poly_id": r["poly_id"],
                            "window_id": r["window_id"],
                            "signed_area": a2 / 2.0,
                        }
                    )
            yield pd.DataFrame(out, columns=["poly_id", "window_id", "signed_area"])

    pieces = pairs.mapInPandas(
        run, schema="poly_id int, window_id int, signed_area double"
    )
    return (
        pieces.groupBy("poly_id", "window_id")
        .agg(F.sum("signed_area").alias("clip_area"))
        .filter(F.col("clip_area") > 0.0)
    )


def erase_general_area(features: DataFrame, windows: DataFrame) -> DataFrame:
    """-erase area accounting for general subjects: remaining feature
    area after subtracting the clipped-away windows (valid while windows
    don't overlap each other within a feature — same caveat as
    erase_polygons_area). Feature areas are signed ring sums (holes
    subtract)."""
    # signed ring area via a JVM fold over the closed ring (0-based
    # bracket indexing in the lambda; element_at is 1-based / -1 = last)
    closed = (
        "(aggregate(sequence(0, size(xs) - 2), cast(0.0 as double),"
        " (acc, i) -> acc + xs[i] * ys[i + 1] - xs[i + 1] * ys[i])"
        " + element_at(xs, -1) * element_at(ys, 1)"
        " - element_at(xs, 1) * element_at(ys, -1)) / 2.0"
    )
    own = (
        features.select("poly_id", F.expr(closed).alias("ring_area"))
        .groupBy("poly_id")
        .agg(F.sum("ring_area").alias("own_area"))
    )
    cut = clip_general_area(features, windows).groupBy("poly_id").agg(
        F.sum("clip_area").alias("cut_area")
    )
    return own.join(cut, "poly_id", "left").select(
        "poly_id",
        "own_area",
        (F.col("own_area") - F.coalesce(F.col("cut_area"), F.lit(0.0))).alias(
            "remaining_area"
        ),
    )


def union_pair_areas(a_layer: DataFrame, b_layer: DataFrame) -> DataFrame:
    """-union slice for convex×convex pairs [NEXT.md #4, SURVEY.md §2.6]:
    per overlapping (a, b) pair, the union area by inclusion-exclusion
    area(a) + area(b) − area(a∩b), with the intersection from the real
    Sutherland–Hodgman kernel. (The full planar -union mosaic needs a
    general polygon clipper and stays out of MVS.)

    Output: (a_id, b_id, area_a, area_b, inter_area, union_area)."""
    from . import points as points_op

    inter = clip_polygons(a_layer, b_layer).filter(F.col("area") > 0.0)
    aa = points_op.areas(a_layer.select("poly_id", "xs", "ys")).select(
        F.col("poly_id").alias("subject_id"), F.col("area").alias("area_a")
    )
    ab = points_op.areas(b_layer.select("poly_id", "xs", "ys")).select(
        F.col("poly_id").alias("clip_id"), F.col("area").alias("area_b")
    )
    return (
        inter.groupBy("subject_id", "clip_id")
        .agg(F.sum("area").alias("inter_area"))
        .join(F.broadcast(aa), "subject_id")
        .join(F.broadcast(ab), "clip_id")
        .select(
            F.col("subject_id").alias("a_id"),
            F.col("clip_id").alias("b_id"),
            "area_a",
            "area_b",
            "inter_area",
            (F.col("area_a") + F.col("area_b") - F.col("inter_area")).alias("union_area"),
        )
    )


def largest_overlap_join(target: DataFrame, source: DataFrame) -> DataFrame:
    """polygon↔polygon attribute join, largest-overlap winner:
    (target poly_id, src_id of the source polygon with max intersection
    area, that area). Stable tiebreak on (area desc, src_id)."""
    inter = clip_polygons(target, source).select(
        F.col("subject_id").alias("poly_id"),
        F.col("clip_id").alias("src_id"),
        "area",
    )
    w = Window.partitionBy("poly_id").orderBy(F.desc("area"), "src_id")
    return (
        inter.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("poly_id", "src_id", F.col("area").alias("overlap_area"))
    )
