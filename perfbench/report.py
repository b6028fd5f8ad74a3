"""Metric names and their assembly: end-to-end metrics from the untraced
phase, per-layer metrics from the traced phase's event log, spans and
probes, plus the layer-share check of the predicted pairings."""

from __future__ import annotations

import statistics

from . import eventlog as ev

END_TO_END = {
    "op_p50_s": "s",
    "images_per_s": "1/s",
    "setup_s": "s",
    "memory_mb": "MB",
    "ok_frac": "fraction",
}

PER_LAYER = {
    "session.start_s": "s",
    "cells.index_build_s": "s",
    "sources.scan_bytes": "B",
    "sources.scan_time_s": "s",
    "cells.index_full_frac": "fraction",
    "geometry.kernel_tested_frac": "fraction",
    "geometry.pip_hit_frac": "fraction",
    "geometry.pip_convex_pts_per_s": "1/s",
    "spatial_join.python_run_s": "s",
    "spatial_join.python_start_s": "s",
    "spatial_join.bytes_to_python": "B",
    "spatial_join.bytes_from_python": "B",
    "images.verify_rows_per_s": "rows/s",
    "images.python_run_s": "s",
    "images.bytes_to_python": "B",
    "skew.salt_factors_s": "s",
    "skew.hot_cells": "count",
    "skew.join_task_skew": "ratio",
    "lineage.first_run_s": "s",
    "lineage.resume_s": "s",
    "lineage.verify_s": "s",
    "lineage.buckets_done": "count",
    "lineage.buckets_skipped": "count",
    "lineage.rows_written": "count",
    "lineage.bytes_written": "B",
    "lineage.bytes_per_row": "B",
    "geometry.union_many_s": "s",
    "overlay.python_run_s": "s",
    "overlay.jobs": "count",
    "overlay.stages": "count",
    "overlay.single_task_stages": "count",
    "overlay.driver_s": "s",
    "overlay.output_rings": "count",
    "overlay.op_s": "s",
    "overlay.features_per_s": "1/s",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.max_stage_task_skew": "ratio",
    "share.sources": "fraction",
    "share.python": "fraction",
    "share.spatial_join": "fraction",
    "share.images": "fraction",
    "share.overlay": "fraction",
    "share.gc": "fraction",
    "share.driver": "fraction",
    "trace.op_p50_s": "s",
    "trace.untraced_op_p50_s": "s",
    "trace.overhead_s": "s",
}

# the predicted pairings: layer metrics → end-to-end metric, on workload
# (None = every workload), judged by the share named last; None = no
# workload left to judge on (the layer is measured by a probe only)
PAIRINGS = [
    ("session.start_s,cells.index_build_s", "setup_s", None, "setup"),
    ("sources.*", "op_p50_s", "pip_tiles", "share.sources"),
    ("cells.index_full_frac,geometry.*", "images_per_s", "pip_tiles", "share.spatial_join"),
    ("spatial_join.*", "op_p50_s", "pip_tiles", "share.spatial_join"),
    ("images.*", "images_per_s", "verify_salted_tiles", "share.images"),
    ("skew.*", "op_p50_s", "verify_salted_tiles", "salt"),
    ("lineage.*", "op_p50_s,stored_bytes_per_row of cell_checkpoint_resume", "pip_tiles", None),
    ("geometry.union_many_s,overlay.*", "features_per_s of dissolve_rings_tiled", "verify_salted_tiles", None),
    ("spark.*", "op_p50_s,memory_mb", None, "busy"),
]
MIN_SHARE = 0.05


def end_to_end(op_log, setup_s: float, rows: int, peak_bytes: int) -> dict:
    return {
        "op_p50_s": op_log.p50(),
        "images_per_s": rows * op_log.attempted / sum(op_log.times),
        "setup_s": setup_s,
        "memory_mb": peak_bytes / 2**20,
        "ok_frac": (op_log.attempted - op_log.failed) / op_log.attempted,
    }


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(workload, groups: dict[str, dict], op_times: dict[str, float],
              start_s: float, untraced_p50: float) -> dict:
    """Every PER_LAYER metric. Event-log figures are per op, the median
    over the traced ops; layers a workload does not run read 0."""
    ops = [g for g in op_times if g in groups]
    out = {k: 0.0 for k in PER_LAYER}

    def med(fn) -> float:
        return _med([fn(groups[g], op_times[g]) for g in ops])

    py_sj = ("ArrowEvalPython",)

    def run(g) -> float:
        return max(g["executor_run_s"], 1e-9)

    out.update(
        {
            "spark.stages": med(lambda g, t: g["stages"]),
            "spark.tasks": med(lambda g, t: g["tasks"]),
            "spark.executor_run_s": med(lambda g, t: g["executor_run_s"]),
            "spark.executor_cpu_s": med(lambda g, t: g["executor_cpu_s"]),
            "spark.gc_s": med(lambda g, t: g["gc_s"]),
            "spark.shuffle_write_bytes": med(lambda g, t: g["shuffle_write_bytes"]),
            "spark.shuffle_read_bytes": med(lambda g, t: g["shuffle_read_bytes"]),
            "spark.spill_bytes": med(lambda g, t: g["spill_bytes"]),
            "spark.max_stage_task_skew": med(lambda g, t: g["max_stage_task_skew"]),
            "sources.scan_bytes": med(lambda g, t: ev.sql_sum(g, ev.SCAN_BYTES)),
            "sources.scan_time_s": med(lambda g, t: ev.sql_sum(g, ev.SCAN_TIME)),
            "share.sources": med(lambda g, t: ev.sql_sum(g, ev.SCAN_TIME) / run(g)),
            "share.python": med(lambda g, t: ev.sql_sum(g, ev.PY_RUN) / run(g)),
            "share.gc": med(lambda g, t: g["gc_s"] / run(g)),
            "share.driver": med(lambda g, t: max(t - g["busy_s"], 0.0) / t),
            # the PIP kernel's Arrow UDF (both workloads run it)
            "spatial_join.python_run_s": med(lambda g, t: ev.sql_sum(g, ev.PY_RUN, py_sj)),
            "spatial_join.python_start_s": med(lambda g, t: ev.sql_sum(g, ev.PY_START, py_sj)),
            "spatial_join.bytes_to_python": med(lambda g, t: ev.sql_sum(g, ev.PY_SENT, py_sj)),
            "spatial_join.bytes_from_python": med(lambda g, t: ev.sql_sum(g, ev.PY_RECV, py_sj)),
            "share.spatial_join": med(lambda g, t: ev.sql_sum(g, ev.PY_RUN, py_sj) / run(g)),
        }
    )
    if workload.name == "verify_salted_tiles":
        mip = ("MapInPandas",)
        out.update(
            {
                "images.python_run_s": med(lambda g, t: ev.sql_sum(g, ev.PY_RUN, mip)),
                "images.bytes_to_python": med(lambda g, t: ev.sql_sum(g, ev.PY_SENT, mip)),
                "share.images": med(lambda g, t: ev.sql_sum(g, ev.PY_RUN, mip) / run(g)),
                # the salted join stage: reads the shuffle, runs the PIP UDF
                "skew.join_task_skew": med(
                    lambda g, t: max(
                        [s["skew"] for s in g["stage_rows"]
                         if s["shuffle_read_bytes"] > 0 and "ArrowEvalPython" in s["python_nodes"]],
                        default=0.0,
                    )
                ),
            }
        )
    for k, v in workload.layer.items():
        if k in out:
            out[k] = v
    # the ring-emitter probe's last round, when this workload ran it
    ov = [g for g in groups if g.startswith("probe-overlay-")]
    if ov:
        g, t = groups[max(ov)], out["overlay.op_s"]
        out.update(
            {
                "overlay.python_run_s": ev.sql_sum(g, ev.PY_RUN),
                "overlay.jobs": g["jobs"],
                "overlay.stages": g["stages"],
                "overlay.single_task_stages": g["single_task_stages"],
                "overlay.driver_s": max(t - g["busy_s"], 0.0),
                "overlay.features_per_s": workload.layer["overlay.features"] / t,
                "share.overlay": ev.sql_sum(g, ev.PY_RUN) / run(g),
            }
        )
    tp50 = _med(list(op_times.values()))
    out["session.start_s"] = start_s
    out["trace.op_p50_s"] = tp50
    out["trace.untraced_op_p50_s"] = untraced_p50
    out["trace.overhead_s"] = tp50 - untraced_p50
    return {k: float(v) for k, v in out.items()}


def pairings(workload_name: str, layer: dict, setup_s: float, op_p50: float) -> list[dict]:
    """For each predicted pairing on this workload, the share of the
    end-to-end metric the layer accounts for, and whether that share is
    large enough (>= MIN_SHARE) for the pairing to hold."""
    share = {
        "setup": (layer["session.start_s"] + layer["cells.index_build_s"]) / setup_s,
        "salt": layer["skew.salt_factors_s"] / op_p50,
        "busy": 1.0 - layer["share.driver"],
    }
    rows = []
    for layers, metric, wl, basis in PAIRINGS:
        if wl not in (None, workload_name):
            continue
        if basis is None:
            rows.append({"layers": layers, "moves": metric, "basis": "probe", "share": None,
                         "holds": None, "note": "its workload was dropped; the layer is measured by a probe"})
            continue
        s = share[basis] if basis in share else layer[basis]
        rows.append({"layers": layers, "moves": metric, "basis": basis, "share": round(s, 4), "holds": s >= MIN_SHARE})
    return rows
