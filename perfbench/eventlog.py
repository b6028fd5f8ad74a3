"""Aggregate a Spark event log per job group.

The traced run sets ``spark.eventLog.enabled`` with ``compress=false``
and tags each op with ``setJobGroup``. This module reads the JSON lines
back and sums task metrics per group, and SQL metrics per group and
plan-node kind (e.g. the Python-worker metrics of ``ArrowEvalPython``
apart from those of ``MapInPandas``). SQL accumulator ids are mapped to
their plan node through the ``sparkPlanInfo`` trees of the SQL
execution events, including the plans AQE re-optimizes.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACC = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

# SQL metric types → factor to seconds (times) or 1 (sizes, counts)
_UNIT = {"timing": 1e-3, "nsTiming": 1e-9}

PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
SCAN_TIME = "scan time"
SCAN_BYTES = "size of files read"  # a driver-side metric of the scan node


def read_events(log_dir: str) -> list[dict]:
    """Every event under ``log_dir`` (rolling ``eventlog_v2_*`` dirs or
    single files), in file order."""
    events = []
    for root, _dirs, files in sorted(os.walk(log_dir)):
        for f in sorted(files):
            if f.startswith("appstatus") or f.endswith(".crc"):
                continue
            with open(os.path.join(root, f)) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        events.append(json.loads(line))
    return events


def _walk_plan(node: dict, out: dict) -> None:
    name = node.get("nodeName", "")
    for m in node.get("metrics", []):
        out[int(m["accumulatorId"])] = (name, m["name"], m.get("metricType", "sum"))
    for c in node.get("children", []):
        _walk_plan(c, out)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def by_group(events: list[dict]) -> dict[str, dict]:
    """Per job group: job/stage/task counts, summed task metrics, stage
    task skew, busy time (union of job intervals, s), and SQL metrics
    per plan-node name: ``sql[node][metric]`` in seconds, bytes or
    counts."""
    acc_node: dict[int, tuple[str, str, str]] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    tasks_by_stage: dict[int, list[dict]] = defaultdict(list)
    exec_group: dict[int, str] = {}
    driver_acc: list[dict] = []

    for e in events:
        kind = e.get("Event")
        if kind in (_SQL_START, _SQL_AQE):
            _walk_plan(e.get("sparkPlanInfo", {}), acc_node)
        elif kind == _DRIVER_ACC:
            driver_acc.append(e)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            if g is None:
                continue
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), g)
            jid = e["Job ID"]
            job_group[jid] = g
            job_span[jid] = [e["Submission Time"] / 1e3, e["Submission Time"] / 1e3]
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in job_span:
                job_span[e["Job ID"]][1] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            tasks_by_stage[e["Stage ID"]].append(e)

    out: dict[str, dict] = {}

    def grp(g: str) -> dict:
        if g not in out:
            out[g] = {
                "jobs": 0, "stages": 0, "tasks": 0, "single_task_stages": 0,
                "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
                "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
                "max_stage_task_skew": 1.0, "busy_s": 0.0,
                "stage_rows": [],
                "sql": defaultdict(lambda: defaultdict(float)),
            }
        return out[g]

    for jid, g in job_group.items():
        grp(g)["jobs"] += 1
    for g in set(job_group.values()):
        grp(g)["busy_s"] = _union_len(
            [tuple(job_span[j]) for j, gg in job_group.items() if gg == g]
        )

    for sid, tasks in tasks_by_stage.items():
        g = stage_group.get(sid)
        if g is None:
            continue
        o = grp(g)
        o["stages"] += 1
        o["tasks"] += len(tasks)
        o["single_task_stages"] += len(tasks) == 1
        durs = []
        stage_py = defaultdict(float)
        stage_shuffle_read = 0
        for t in tasks:
            m = t.get("Task Metrics") or {}
            info = t["Task Info"]
            durs.append((info["Finish Time"] - info["Launch Time"]) / 1e3)
            o["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            o["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics", {})
            rb = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            o["shuffle_read_bytes"] += rb
            stage_shuffle_read += rb
            o["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for a in info.get("Accumulables", []):
                node = acc_node.get(int(a["ID"]))
                if node is None or a.get("Update") is None:
                    continue
                name, metric, mtype = node
                try:
                    v = float(a["Update"]) * _UNIT.get(mtype, 1.0)
                except (TypeError, ValueError):
                    continue
                o["sql"][name][metric] += v
                stage_py[name] += v if metric == PY_RUN else 0.0
        skew = max(durs) / max(statistics.median(durs), 1e-3) if len(durs) >= 4 else 1.0
        o["max_stage_task_skew"] = max(o["max_stage_task_skew"], skew)
        o["stage_rows"].append(
            {"stage": sid, "tasks": len(tasks), "skew": skew,
             "shuffle_read_bytes": stage_shuffle_read, "python_nodes": sorted(k for k, v in stage_py.items() if v > 0)}
        )

    # driver-side SQL metrics (file sizes a scan lists) carry an
    # execution id, not a stage
    for e in driver_acc:
        g = exec_group.get(int(e["executionId"]))
        if g is None:
            continue
        for acc_id, value in e.get("accumUpdates", []):
            node = acc_node.get(int(acc_id))
            if node is not None:
                name, metric, mtype = node
                grp(g)["sql"][name][metric] += float(value) * _UNIT.get(mtype, 1.0)

    for o in out.values():
        o["sql"] = {k: dict(v) for k, v in o["sql"].items()}
    return out


def sql_sum(group: dict, metric: str, nodes: tuple[str, ...] | None = None) -> float:
    """Sum of one SQL metric over plan nodes whose name starts with any
    of ``nodes`` (all nodes when None)."""
    total = 0.0
    for name, metrics in group["sql"].items():
        if nodes is None or name.startswith(nodes):
            total += metrics.get(metric, 0.0)
    return total
