#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh process and JVM.

    python3 perfbench/run.py --workload pip_tiles --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints a ``report {...}`` line (stamp,
op times, input sizes and, when traced, spans, layer shares and the
predicted-pairing check), then, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
``--report PATH`` also writes the full report, raw spans included, as
JSON; ``perfbench/compare.py`` compares two such files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "2g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--report", help="also write the full report JSON here")
    return p.parse_args(argv)


def _check_manifest(names_e2e, names_layer) -> None:
    """The metric names printed must be the ones BENCHMARK.json declares."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return
    with open(path) as f:
        spec = json.load(f)
    want_e2e = {m["name"] for m in spec["end_to_end"]}
    want_layer = {m["name"] for m in spec["per_layer"]}
    if want_e2e != set(names_e2e) or want_layer != set(names_layer):
        raise SystemExit("BENCHMARK.json metric names differ from perfbench/report.py")


def _phase(wl, spark_start, seconds, spans_for_ops=None, warm_kw=None, group=False, ready=None):
    """Session start + prepare + (``ready()``: wait for inputs) +
    warm-up + timed ops. Returns (spark, start_s, prepare_s, warm OpLog,
    timed OpLog, op wall per job group)."""
    from perfbench import harness

    t0 = time.perf_counter()
    spark = spark_start()
    start_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.prepare(spark)
    prepare_s = time.perf_counter() - t0
    if ready is not None:
        ready()
    walls: dict[str, float] = {}

    def op(i, tag):
        if group:
            spark.sparkContext.setJobGroup(f"{tag}-{i}", f"{wl.name} {tag} {i}")
        dt, ok = wl.op(spark, i)
        walls[f"{tag}-{i}"] = dt
        return dt, ok

    warm = harness.warm_up(lambda i: op(i, "warm"), **(warm_kw or {"min_ops": wl.warm_ops}))
    if spans_for_ops is not None:
        wl.spans = spans_for_ops
    timed = harness.measure(lambda i: op(i, "op"), seconds, first_index=warm.attempted)
    op_walls = {k: v for k, v in walls.items() if k.startswith("op-")}
    return spark, start_s, prepare_s, warm, timed, op_walls


def execute(args, run_dir: str) -> tuple[dict, dict]:
    import pyspark

    from perfbench import eventlog, harness, report
    from perfbench.workloads import WORKLOADS

    _check_manifest(report.END_TO_END, report.PER_LAYER)
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cores = harness.nproc()
    tmp = os.path.join(run_dir, "tmp")
    run_id = harness.new_run_id()
    wl = WORKLOADS[args.workload](args.seed, run_dir, cores, harness.NoSpans(run_id))
    stamp = {
        "run_id": run_id, "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "pyspark": pyspark.__version__,
        "driver_heap": HEAP, "shuffle_partitions": 2 * cores,
        "numpy_units_per_s": round(harness.numpy_units_per_s(), 1),
    }
    with harness.MemorySampler() as mem:
        # inputs and the oracle are made beside the JVM start (numpy,
        # pyarrow and DuckDB release the GIL); both must be done before
        # the first op
        def inputs_and_oracle():
            t = time.perf_counter()
            wl.generate()
            wl.expected()
            return time.perf_counter() - t

        with ThreadPoolExecutor(1) as pool:
            fut = pool.submit(inputs_and_oracle)
            spark, start_s, prep_s, warm, timed, _ = _phase(
                wl,
                lambda: harness.start_session(f"perfbench-{wl.name}", cores, tmp, HEAP),
                args.seconds,
                ready=fut.result,
            )
            gen_s = fut.result()
        setup_s = timed.t_start - T_START
        stamp.update(
            inputs=wl.input_facts(), inputs_and_oracle_s=gen_s, session_start_s=start_s,
            prepare_s=prep_s, warm_op_s=warm.times,
            op_s=timed.times, op_samples=timed.attempted,
        )
        if not args.trace:
            e2e = report.end_to_end(timed, setup_s, wl.rows, mem.peak)
            return stamp, {
                "attempted": warm.attempted + timed.attempted,
                "failed": warm.failed + timed.failed,
                "metrics": e2e,
                "units": report.END_TO_END,
            }
        # traced phase: same JVM, a fresh context with the event log on
        spark.stop()
        event_dir = os.path.join(run_dir, "events")
        spans = harness.Spans(run_id)
        spark, _s, _p, warm_t, traced, walls = _phase(
            wl,
            lambda: harness.start_session(f"perfbench-{wl.name}-traced", cores, tmp, HEAP, event_dir),
            args.seconds,
            spans_for_ops=spans,
            warm_kw={"min_ops": 3, "max_s": 30.0},
            group=True,
        )
        probe_attempted, probe_failed = wl.probe(spark)
        harness.stop_jvm()  # flushes the event log
    phases = (warm, timed, warm_t, traced)
    groups = eventlog.by_group(eventlog.read_events(event_dir))
    layer = report.per_layer(wl, groups, walls, start_s, timed.p50())
    stamp.update(
        traced_op_s=traced.times,
        pairings=report.pairings(wl.name, layer, setup_s, timed.p50()),
        span_self_s={k: round(v, 4) for k, v in spans.self_times().items()},
        spans=spans.rows,
    )
    return stamp, {
        "attempted": sum(log.attempted for log in phases) + probe_attempted,
        "failed": sum(log.failed for log in phases) + probe_failed,
        "metrics": layer,
        "units": report.PER_LAYER,
    }


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mapshaper_spark", "__init__.py")):
        print(f"perfbench: no mapshaper_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{harness.new_run_id()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # workers must import the package from any cwd; every scratch path
    # (Spark local dirs, JVM and Python temp files) stays in the run dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    try:
        stamp, result = execute(args, run_dir)
    finally:
        harness.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    units = result.pop("units")
    stamp["metrics"] = result["metrics"]
    if args.report:
        with open(args.report, "w") as f:
            json.dump(stamp, f, indent=1, default=float)
    stamp.pop("spans", None)
    stamp.pop("metrics")
    print("report " + json.dumps(stamp, default=float))
    metrics = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
