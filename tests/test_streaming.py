"""Structured Streaming surface: file-source micro-batches over the
driver's events table, checked against the batch twins [SURVEY.md §2.9]."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from mapshaper_spark.operators import spatial_join as sj
from mapshaper_spark.sources import testdata
from mapshaper_spark.streaming import windows as W

from .conftest import SF_SMOKE


@pytest.fixture()
def stream_src(tmp_path):
    """events parquet staged as a streaming source directory."""
    src = tmp_path / "events_stream"
    src.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", src / "part-000.parquet")
    return str(src)


def test_tumbling_stream_matches_batch(spark, stream_src, tmp_path):
    stream = W.read_events_stream(spark, stream_src)
    agg = W.tumbling_counts(stream, minutes=5)
    W.run_to_memory(agg, "t_tumbling", str(tmp_path / "ckpt1"), mode="complete")
    got = spark.table("t_tumbling")

    batch = testdata.load(spark, SF_SMOKE, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    want = (
        batch.groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("window.start").alias("win_start"), "event_type", "n", "sum_value")
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_sliding_stream_matches_batch(spark, stream_src, tmp_path):
    """slide param on tumbling_counts: every event lands in exactly
    duration/slide overlapping windows; the streaming result must equal
    the batch twin query (which the DuckDB oracle hash-checks)."""
    stream = W.read_events_stream(spark, stream_src)
    agg = W.tumbling_counts(stream, minutes=10, slide_minutes=5)
    W.run_to_memory(agg, "t_sliding", str(tmp_path / "ckpt_sl"), mode="complete")
    got = spark.table("t_sliding").select(
        F.unix_timestamp("win_start").alias("win_start"),
        "event_type",
        "n",
        F.col("sum_value").cast("decimal(18,2)").cast("double").alias("sum_value"),
    )

    from mapshaper_spark import queries as Q

    want = Q.QUERIES["events_sliding_window"](spark, SF_SMOKE)
    assert got.count() == want.count()
    # counts per window must agree exactly; sums compared via rounding
    # (streaming aggregates double-sum in micro-batch arrival order)
    gk = got.select("win_start", "event_type", "n").exceptAll(
        want.select("win_start", "event_type", "n")
    )
    assert gk.count() == 0
    import math

    gs = {r[:2]: r[3] for r in got.collect()}
    ws = {r[:2]: r[3] for r in want.collect()}
    assert all(math.isclose(gs[k], ws[k], rel_tol=1e-9) for k in ws)


def test_session_window_stream(spark, stream_src, tmp_path):
    stream = W.read_events_stream(spark, stream_src)
    agg = W.session_counts(stream, gap="30 minutes")
    W.run_to_memory(agg, "t_sessions", str(tmp_path / "ckpt2"), mode="complete")
    got = spark.table("t_sessions")

    # session count per user must match the batch lag/cumsum twin
    batch = testdata.load(spark, SF_SMOKE, "events")
    n_events = batch.count()
    assert got.agg(F.sum("n_events")).collect()[0][0] == n_events
    from mapshaper_spark import queries as Q

    want_sessions = Q.QUERIES["events_sessionize"](spark, SF_SMOKE).count()
    assert got.count() == want_sessions


def test_dedup_within_watermark(spark, stream_src, tmp_path):
    stream = W.read_events_stream(spark, stream_src)
    # duplicate the stream against itself by unioning two file copies
    dedup = W.dedup_within_watermark(stream)
    W.run_to_memory(dedup, "t_dedup", str(tmp_path / "ckpt3"))
    got = spark.table("t_dedup")
    batch = testdata.load(spark, SF_SMOKE, "events")
    assert got.count() == batch.select("event_id").distinct().count()


def test_stateful_running_totals(spark, stream_src, tmp_path):
    """applyInPandasWithState custom stateful operator: final per-user
    totals must equal the batch aggregate."""
    stream = W.read_events_stream(spark, stream_src)
    tot = W.running_user_totals(stream)
    W.run_to_memory(tot, "t_state", str(tmp_path / "ckpt_state"), mode="update")
    got = spark.table("t_state")
    # update mode may emit a row per micro-batch; the LAST row per user
    # carries the final accumulated state
    from pyspark.sql import Window

    last = (
        got.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("n_events"))
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    batch = testdata.load(spark, SF_SMOKE, "events")
    want = batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value")
    )
    assert last.count() == want.count()
    joined = last.alias("g").join(want.alias("w"), "user_id")
    bad = joined.filter(
        (F.col("g.n_events") != F.col("w.n_events"))
        | (F.abs(F.col("g.sum_value") - F.col("w.sum_value")) > 1e-6)
    ).count()
    assert bad == 0


def test_stream_lineage_sink_and_resume(spark, tmp_path):
    """Streaming output through the lineage sink: durable rows match the
    input, lineage verifies, and restarting the stream over the same
    source (same checkpoint) adds nothing (exactly-once)."""
    from mapshaper_spark.operators import spatial_join as sj
    from mapshaper_spark.plans import lineage as lineage_mod

    pts = sj.with_cell(testdata.customer_points(spark, SF_SMOKE), res=6)
    src = tmp_path / "pts_src"
    src.mkdir()
    pts.coalesce(1).write.parquet(str(src / "b0"), mode="overwrite")

    stream = (
        spark.readStream.schema("point_id long, lon double, lat double, cell_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
    )
    out = str(tmp_path / "out")
    ln = str(tmp_path / "ln")
    ckpt = str(tmp_path / "ckpt")
    W.stream_to_lineage_sink(stream, out, ln, ckpt)

    got = spark.read.parquet(out).drop("_bucket", "_stage")
    assert got.count() == pts.count()
    stages = [
        r["stage"]
        for r in spark.read.parquet(ln).select("stage").distinct().collect()
    ]
    assert stages == ["stream_batch_0"]
    assert lineage_mod.verify_lineage(spark, out, ln, "stream_batch_0")

    # restart over the same source + checkpoint: no new rows
    stream2 = (
        spark.readStream.schema("point_id long, lon double, lat double, cell_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
    )
    W.stream_to_lineage_sink(stream2, out, ln, ckpt)
    assert spark.read.parquet(out).count() == pts.count()


def test_stream_multi_batch_overlapping_buckets(spark, tmp_path):
    """Two micro-batches whose rows land in the SAME lineage buckets:
    each batch-stage verifies against only its own rows, earlier batches
    stay verifiable after later ones land, and the whole table checks out
    against the combined lineage [ADVICE r1: multi-batch overlap]."""
    from mapshaper_spark.operators import spatial_join as sj
    from mapshaper_spark.plans import lineage as lineage_mod

    pts = sj.with_cell(testdata.customer_points(spark, SF_SMOKE), res=6)
    src = tmp_path / "pts_src"
    src.mkdir()
    # split by point parity: both halves cover the same cells → same buckets
    pts.filter(F.col("point_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "b0"), mode="overwrite"
    )
    pts.filter(F.col("point_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b1"), mode="overwrite"
    )

    stream = (
        spark.readStream.schema("point_id long, lon double, lat double, cell_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
    )
    out = str(tmp_path / "out")
    ln = str(tmp_path / "ln")
    W.stream_to_lineage_sink(stream, out, ln, str(tmp_path / "ckpt"))

    assert spark.read.parquet(out).count() == pts.count()
    stages = sorted(
        r["stage"] for r in spark.read.parquet(ln).select("stage").distinct().collect()
    )
    assert stages == ["stream_batch_0", "stream_batch_1"]
    for st in stages:
        assert lineage_mod.verify_lineage(spark, out, ln, st)
    assert lineage_mod.verify_lineage(spark, out, ln)


def test_stream_static_pip_attribution(spark, tmp_path):
    """Live points joined to the static cell index — streaming spatial
    attribution candidates match the batch equi-join."""
    pts = testdata.customer_points(spark, SF_SMOKE)
    src = tmp_path / "pts_stream"
    src.mkdir()
    pts.coalesce(1).write.parquet(str(src / "batch0"), mode="overwrite")

    stream = (
        spark.readStream.schema("point_id long, lon double, lat double")
        .option("maxFilesPerTrigger", 2)
        .parquet(str(src) + "/*/")
    )
    idx = sj.build_cell_index(spark, testdata.polygons(spark)).cache()
    idx.count()
    joined = W.stream_static_cell_join(stream, idx)
    W.run_to_memory(joined, "t_pip_stream", str(tmp_path / "ckpt4"))
    got = spark.table("t_pip_stream")

    want = sj.with_cell(pts, 6).join(idx, "cell_id")
    assert got.count() == want.count()

    # the index carries its edge columns, so the exact filter runs on
    # the stream and matches the batch PIP join
    W.run_to_memory(sj.keep_inside(joined), "t_pip_stream_exact", str(tmp_path / "ckpt4x"))
    key = ["point_id", "poly_id"]
    exact = spark.table("t_pip_stream_exact").select(*key)
    batch = sj.pip_attribute(pts, idx).select(*key)
    assert exact.count() == batch.count() > 0
    assert exact.exceptAll(batch).count() == 0

    # over a hierarchical index the stream join reads the levels off
    # the index, as the batch join does, and refines to the same rows
    hier = sj.build_cell_index(spark, testdata.polygons(spark), min_res=3)
    W.run_to_memory(
        sj.keep_inside(W.stream_static_cell_join(stream, hier)),
        "t_pip_stream_hier",
        str(tmp_path / "ckpt4h"),
    )
    exact_hier = spark.table("t_pip_stream_hier").select(*key)
    assert exact_hier.count() == batch.count()
    assert exact_hier.exceptAll(batch).count() == 0


def test_stream_static_salted_matches_unsalted(spark, tmp_path):
    """The salted stream–static join (hot-cell spreading with the batch
    salt machinery) must produce row-identical candidates to the plain
    stream join — salt is a plan choice, never a semantics change."""
    from mapshaper_spark.operators import skew as skew_op

    pts = testdata.customer_points(spark, SF_SMOKE)
    src = tmp_path / "pts_stream_s"
    src.mkdir()
    pts.coalesce(1).write.parquet(str(src / "batch0"), mode="overwrite")

    idx = sj.build_cell_index(spark, testdata.polygons(spark)).cache()
    idx.count()
    # low threshold so the hotspot cells genuinely salt at smoke scale
    factors = skew_op.cell_salt_factors(
        sj.with_cell(pts, 6), target_rows_per_task=10
    ).cache()
    assert factors.count() > 0  # the fixture's hotspots must trigger

    stream = (
        spark.readStream.schema("point_id long, lon double, lat double")
        .option("maxFilesPerTrigger", 2)
        .parquet(str(src) + "/*/")
    )
    salted = W.stream_static_cell_join_salted(stream, idx, factors)
    W.run_to_memory(salted, "t_pip_stream_salted", str(tmp_path / "ckpt5"))
    got = spark.table("t_pip_stream_salted")

    want = sj.with_cell(pts, 6).join(idx, "cell_id")
    assert got.count() == want.count()
    key = ["point_id", "poly_id"]
    assert (
        got.select(*key).exceptAll(want.select(*key)).count() == 0
        and want.select(*key).exceptAll(got.select(*key)).count() == 0
    )
