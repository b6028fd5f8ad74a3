"""Physical-plan guards (pushdown/broadcast/salt actually happen) and
arc-dictionary topology build."""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import functions as F

from mapshaper_spark import fixtures, queries as Q
from mapshaper_spark.operators import skew as skew_op
from mapshaper_spark.operators import spatial_join as sj
from mapshaper_spark.operators import topology
from mapshaper_spark.sources import testdata

from .conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_no_python_eval(plan: str) -> None:
    # convex PIP is a codegen'd JVM predicate: no per-row Python UDF node
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_bbox_filter_pushed_to_parquet_scan(spark):
    plan = _plan(Q.QUERIES["filter_geom_bbox"](spark, SF_SMOKE))
    assert "PushedFilters: [IsNotNull(c_custkey)" in plan or "PushedFilters" in plan
    # scan must be pruned to the single source column
    assert "ReadSchema: struct<c_custkey:bigint>" in plan


def test_pip_uses_broadcast_join(spark):
    pts = testdata.customer_points(spark, SF_SMOKE)
    idx = sj.build_cell_index(spark, testdata.polygons(spark))
    plan = _plan(sj.pip_attribute(pts, idx))
    assert "BroadcastHashJoin" in plan
    _assert_no_python_eval(plan)


def test_pip_over_checkpointed_index_is_one_broadcast_join(spark):
    """The edges ride the index: over a checkpointed index, a PIP join
    plans exactly one join (the broadcast on cell_id) and builds no
    per-call edge table (no LocalTableScan)."""
    pts = testdata.customer_points(spark, SF_SMOKE)
    idx = sj.build_cell_index(spark, testdata.polygons(spark)).localCheckpoint()
    plan = _plan(sj.pip_attribute(pts, idx))
    joins = re.findall(r"\b\w*(?:HashJoin|SortMergeJoin|NestedLoopJoin)\b \[([^\]]*)\]", plan)
    assert len(joins) == 1 and "cell_id" in joins[0], plan
    assert "BroadcastHashJoin" in plan
    assert "LocalTableScan" not in plan
    _assert_no_python_eval(plan)


def test_hier_pip_has_no_python_eval(spark):
    pts = testdata.customer_points(spark, SF_SMOKE)
    idx = sj.build_cell_index(spark, testdata.polygons(spark), min_res=3)
    plan = _plan(sj.pip_attribute(pts, idx))
    assert "BroadcastHashJoin" in plan
    _assert_no_python_eval(plan)


def test_index_builders_plan_no_python_worker(spark):
    """Convex and general cell indexes are built on the driver: their
    plans hold no grouped-pandas or Arrow UDF node."""
    for idx in (
        sj.build_cell_index(spark, testdata.polygons(spark)),
        sj.build_cell_index_general(spark, testdata.holed_features(spark)),
    ):
        plan = _plan(idx)
        assert "FlatMapGroupsInPandas" not in plan
        _assert_no_python_eval(plan)


def test_salted_pip_shuffles_and_salts(spark):
    pts = testdata.customer_points(spark, SF_SMOKE)
    idx = sj.build_cell_index(spark, testdata.polygons(spark))
    out = skew_op.pip_attribute_salted(pts, idx, target_rows_per_task=50)
    plan = _plan(out)
    # the index side is shuffle-joined (not broadcast) and the join key
    # carries the salt column
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    assert "_salt" in plan
    _assert_no_python_eval(plan)
    # hotspot cells must actually be salted (sf0.001 has ~10 points per
    # hotspot cell, so measure with a matching threshold)
    wc = sj.with_cell(pts)
    factors = skew_op.cell_salt_factors(wc, target_rows_per_task=5)
    assert factors.count() >= 1


def test_dim_joins_broadcast(spark):
    plan = _plan(Q.QUERIES["join_attr_region"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 2


def test_cell_bucket_partition_pruning(spark, tmp_path):
    """The Iceberg-style layout story: output partitioned by the Z-prefix
    cell bucket → a cell-range predicate prunes partitions at the scan
    (PartitionFilters), so spatially-local queries never touch the rest
    of the table."""
    from mapshaper_spark.plans import lineage

    out = str(tmp_path / "bucketed")
    df = sj.with_cell(testdata.customer_points(spark, SF_SMOKE), res=6)
    lineage.run_stage(df, "s", out, str(tmp_path / "ln"), res=6, bucket_res=2)

    data = spark.read.parquet(out)
    q = data.filter(F.col("_bucket") == 5)
    plan = _plan(q)
    assert "PartitionFilters: [isnotnull(_bucket" in plan.replace("#", "").replace(
        "_bucketL", "_bucket"
    ) or "_bucket" in plan.split("PartitionFilters")[1].split("]")[0]


def test_range_partitioned_sorted_write(spark, tmp_path):
    """write_cell_ranged: every output file owns a disjoint cell_id
    range (true range partitioning — the north-rule layout)."""
    from mapshaper_spark.sources import sinks

    out = str(tmp_path / "ranged")
    df = sj.with_cell(testdata.customer_points(spark, SF_SMOKE), res=6)
    sinks.write_cell_ranged(df, out, n_partitions=8)
    ranges = sinks.file_cell_ranges(spark, out)
    assert len(ranges) >= 4
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert lo1 <= hi1 < lo2  # sorted, disjoint
    assert spark.read.parquet(out).count() == df.count()


def test_arc_hash_dedups_shared_borders(spark):
    """Topology build: per-feature duplicated rings → canonical quantized
    arc hashing collapses each shared border to ONE arc [SURVEY.md §4.1
    arc dedup]."""
    rows = []
    aid = 0
    for f in fixtures.GRID_FEATURES:
        for ref in f["parts"][0]:
            a = fixtures.GRID_ARCS[ref if ref >= 0 else -ref - 1]
            xs, ys = list(a["xs"]), list(a["ys"])
            if ref < 0:  # traverse reversed — same geometry, other way
                xs, ys = xs[::-1], ys[::-1]
            rows.append({"arc_id": aid, "xs": xs, "ys": ys})
            aid += 1
    dup = topology.arcs_df(spark, rows)  # 16 squares x 4 = 64 arc uses
    hashed = topology.build_arc_hashes(dup)
    n_unique = hashed.select("arc_hash").distinct().count()
    assert dup.count() == 64
    assert n_unique == len(fixtures.GRID_ARCS)  # 40 physical arcs


def test_arc_hash_orientation_invariant(spark):
    a = [{"arc_id": 0, "xs": [0.0, 1.0, 2.0], "ys": [0.0, 0.5, 0.0]}]
    b = [{"arc_id": 1, "xs": [2.0, 1.0, 0.0], "ys": [0.0, 0.5, 0.0]}]
    ha = topology.build_arc_hashes(topology.arcs_df(spark, a)).collect()[0]["arc_hash"]
    hb = topology.build_arc_hashes(topology.arcs_df(spark, b)).collect()[0]["arc_hash"]
    assert ha == hb
    # golden pin: xxhash64-based key must stay stable across releases —
    # persisted arc dictionaries dedup against it
    assert ha == -6727842362588987611


def test_knn_guarantee_fallback_used_for_sparse_targets(spark):
    """With a tiny target set most cells are empty → the brute-force
    fallback must still return exactly one neighbor per point."""
    from mapshaper_spark.operators import knn as knn_op

    pts = testdata.customer_points(spark, SF_SMOKE)
    tgt = testdata.supplier_points(spark, SF_SMOKE).limit(3)
    out = knn_op.knn_join(pts, tgt, k=1)
    assert out.count() == pts.count()
    assert out.groupBy("point_id").count().filter(F.col("count") != 1).count() == 0


def test_dissolve_rings_stitch_closed(spark):
    """Distributed ring assembly: each 2x2 dissolve block of the grid
    stitches into ONE closed ring of 8 boundary arcs, area 4.0."""
    from mapshaper_spark.operators import topology

    feats = topology.features_df(spark, fixtures.GRID_FEATURES)
    arcs = topology.arcs_df(spark, fixtures.GRID_ARCS)
    rings = topology.dissolve_rings(feats, arcs).collect()
    assert len(rings) == 4  # 4 keys, one ring each
    for r in rings:
        assert r["ring_idx"] == 0
        assert r["n_vertices"] == 8
        assert abs(r["area"] - 4.0) < 1e-12


def test_simplify_keep_shapes_floor(spark):
    """keep-shapes: at an absurd threshold every arc still keeps >= 3
    vertices; without the flag only the endpoints survive."""
    from mapshaper_spark.operators import simplify as simplify_op
    from mapshaper_spark.operators import topology

    arcs = topology.arcs_df(spark, fixtures.POLYLINES)
    thr = simplify_op.compute_thresholds(arcs, "visvalingam")
    hard = simplify_op.apply_level(thr, 1e300).select("n_kept").collect()
    assert all(r["n_kept"] == 2 for r in hard)
    kept = simplify_op.apply_level(thr, 1e300, keep_shapes=True).select("n_kept").collect()
    assert all(r["n_kept"] >= 3 for r in kept)


def test_simplify_monotone_multiresolution(spark):
    rows = Q.QUERIES["simplify_pct_multiresolution"](spark, SF_SMOKE).collect()
    by_arc = {}
    for r in rows:
        by_arc.setdefault(r["arc_id"], {})[r["pct"]] = r["n_kept"]
    for arc_id, m in by_arc.items():
        assert m[80] >= m[50] >= m[20] >= 2, f"arc {arc_id}: {m}"


def test_images_generator_matches_make_image(spark):
    got = {r["image_id"]: r for r in fixtures.images_df(spark, 8, 2).collect()}
    for i in range(8):
        want = fixtures.make_image(i)
        r = got[want["image_id"]]
        assert bytes(r["bytes"]) == want["bytes"]
        assert r["phash"] == want["phash"] and r["caption"] == want["caption"]
        lon, lat = fixtures.image_lonlat(i)
        assert r["lon"] == lon and r["lat"] == lat
