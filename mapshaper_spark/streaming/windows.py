"""Structured Streaming surface over the cell-indexed model
[SURVEY.md §2.9]. Upstream mapshaper has no streaming; these are the
standard Spark streaming idioms applied to the engine's tables, so the
same spatial operators (cell assign, PIP attribution) run on unbounded
input with checkpoint-based resume — the streaming twin of the batch
lineage story.

Every builder takes a streaming DataFrame (``spark.readStream``) and
returns a streaming DataFrame; batch-equivalent twins live in
queries.py (events_tumbling_window, events_sessionize) and are what the
DuckDB oracle grades."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spatial_join import _point_cells

# driver parquet carries timestamp[us] with no zone → Spark 4 reads NTZ
EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream of events-shaped parquet (one file = one
    micro-batch slice; production swaps in Kafka with the same schema)."""
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    # watermarks need TIMESTAMP (LTZ); session TZ is pinned to UTC so the
    # cast is a pure reinterpretation, not a shift
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(
    events: DataFrame,
    minutes: int = 5,
    watermark: str = "10 minutes",
    slide_minutes: int | None = None,
) -> DataFrame:
    """Tumbling-window counts + sums per event_type with late-data
    watermark — the streaming twin of queries.events_tumbling_window.

    ``slide_minutes`` turns the window SLIDING [SURVEY.md §2.9
    'tumbling / sliding'; VERDICT r2 #8]: each event lands in
    minutes/slide_minutes overlapping windows (window starts aligned to
    the epoch at slide granularity) — the batch/oracle twin is
    queries.events_sliding_window."""
    win = (
        F.window("ts", f"{minutes} minutes")
        if slide_minutes is None
        else F.window("ts", f"{minutes} minutes", f"{slide_minutes} minutes")
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win, F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """session_window aggregation (gap-based) — streaming sessionization."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("sess_start"),
            "user_id",
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Stateful exact dedup on event_id bounded by the watermark."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def stream_static_cell_join(points_stream: DataFrame, cell_index: DataFrame) -> DataFrame:
    """Stream–static spatial join: live points against the static (and
    broadcastable) cell index, at the levels it records — live PIP
    candidate attribution. The join keeps every index column, edge
    columns included, so ``spatial_join.keep_inside`` refines the
    candidates on the stream exactly as on a batch; projecting the
    index to (cell_id, poly_id, coverage) would make that refinement
    impossible."""
    pts = _point_cells(points_stream, cell_index)
    return pts.join(F.broadcast(cell_index), "cell_id")


def stream_static_cell_join_salted(
    points_stream: DataFrame,
    cell_index: DataFrame,
    salt_factors: DataFrame,
    point_id: str = "point_id",
) -> DataFrame:
    """Stream–static spatial join with the SAME salt machinery as the
    batch path [NEXT r3 #8; north_rule skew mitigation]: hot cells
    (salt_k from the batch-measured factors — a static, broadcastable
    plan input) spread each micro-batch's rows over salt_k subtasks;
    the static index is replicated per salt. The salt derives from
    xxhash64(point_id) — deterministic, so replayed batches salt
    identically (resume-safe). Results are row-identical to the
    unsalted stream join."""
    from ..operators import skew as skew_op

    pts = _point_cells(points_stream, cell_index)
    return skew_op.salted_equi_join(
        pts, cell_index, key="cell_id", salt_factors=salt_factors, fact_id=point_id
    )


def running_user_totals(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState [SURVEY.md
    §2.9]: a per-user running (count, sum) accumulator that emits one
    updated row per user per micro-batch — the arbitrary-state analog of
    mapshaper's per-feature accumulation, distributed by group."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, sum_value double",
            stateStructType="n long, s double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_to_lineage_sink(
    stream_df: DataFrame,
    out_path: str,
    lineage_path: str,
    checkpoint_dir: str,
    res: int = 6,
    bucket_res: int = 2,
    cell_col: str = "cell_id",
):
    """Streaming twin of the batch lineage sink [north_rule resume]:
    every micro-batch lands through plans.lineage.run_stage, so the
    durable output carries the same per-partition (cell range, rows,
    content hash) records as batch stages — offsets resume from the
    Structured Streaming checkpoint AND data integrity is re-verifiable
    from the lineage table. Stage id = batch id (idempotent replay: a
    replayed batch finds its buckets already recorded and skips them)."""
    from ..plans import lineage as lineage_mod

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        lineage_mod.run_stage(
            batch_df,
            stage=f"stream_batch_{batch_id}",
            out_path=out_path,
            lineage_path=lineage_path,
            res=res,
            bucket_res=bucket_res,
            cell_col=cell_col,
        )

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_to_memory(stream_df: DataFrame, name: str, checkpoint_dir: str, mode: str = "append"):
    """Drain all available input into an in-memory table (tests/demos);
    the checkpointLocation carries offsets+state across restarts — the
    streaming resume story [north_rule resumability]. Aggregations use
    mode='complete' to emit windows still inside the watermark."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
