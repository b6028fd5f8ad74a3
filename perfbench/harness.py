"""Run machinery: session start and stop, process-tree memory, spans,
warm-up and the timed loop. Nothing here knows about a workload."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import threading
import time
import traceback
import uuid

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------ memory ---


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class MemorySampler:
    """Peak RSS of this process and all its descendants (the JVM and
    the Python workers), sampled from ``/proc`` on a thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------------- spans ---


class Spans:
    """Benchmark-side spans around calls into the engine's layers:
    (id, name, start, end, parent, run id), kept in memory."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.rows: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children
        cover (children never overlap: spans nest on one thread)."""
        child = {r["id"]: 0.0 for r in self.rows}
        for r in self.rows:
            if r["parent"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        out: dict[str, float] = {}
        for r in self.rows:
            out[r["name"]] = out.get(r["name"], 0.0) + (r["end"] - r["start"]) - child[r["id"]]
        return out


class _Span:
    def __init__(self, spans: Spans, name: str):
        self.spans, self.name = spans, name

    def __enter__(self):
        s = self.spans
        self.row = {
            "id": len(s.rows), "name": self.name, "start": time.perf_counter(),
            "end": None, "parent": s._stack[-1] if s._stack else None, "run": s.run_id,
        }
        s.rows.append(self.row)
        s._stack.append(self.row["id"])
        return self.row

    def __exit__(self, *exc) -> None:
        self.row["end"] = time.perf_counter()
        self.spans._stack.pop()


class NoSpans(Spans):
    """Span recorder for untraced runs: records nothing."""

    def span(self, name: str):
        return _NULL


class _Null:
    def __enter__(self):
        return None

    def __exit__(self, *exc) -> None:
        return None


_NULL = _Null()


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


# ----------------------------------------------------------- session ---


def start_session(app: str, cores: int, tmp_dir: str, heap: str, event_dir: str | None = None):
    """``get_spark`` at the machine's core count with an explicit
    shuffle width, the given driver heap, and every scratch path under
    ``tmp_dir``. With ``event_dir``, the uncompressed event log goes
    there.

    The heap starts at its full size, so the process tree's peak RSS
    does not depend on when the heap happened to grow."""
    from mapshaper_spark.session import get_spark

    conf = {
        "spark.driver.memory": heap,
        "spark.local.dir": tmp_dir,
        "spark.sql.warehouse.dir": os.path.join(tmp_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app, cpus=cores, shuffle_partitions=2 * cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop Spark, then the JVM it runs in, and wait for every process
    this run started to end. Safe to call when nothing runs."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


# ------------------------------------------------------------- loops ---


class OpLog:
    """Op times and outcomes of one phase."""

    def __init__(self):
        self.times: list[float] = []
        self.failed = 0

    def add(self, seconds: float, ok: bool) -> None:
        self.times.append(seconds)
        self.failed += not ok

    @property
    def attempted(self) -> int:
        return len(self.times)

    def p50(self) -> float:
        return statistics.median(self.times)


def run_op(fn, i: int) -> tuple[float, bool]:
    """One op: ``fn(i)`` returns (seconds, ok). A raise counts as a
    failed op; its traceback goes to stderr."""
    t0 = time.perf_counter()
    try:
        return fn(i)
    except Exception:  # noqa: BLE001 - one op's failure is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        return time.perf_counter() - t0, False


def warm_up(fn, min_ops: int = 8, max_ops: int = 14, max_s: float = 45.0, tol: float = 0.1) -> OpLog:
    """Run ops until op time settles: at least ``min_ops``, then until
    the last three lie within ``tol`` of each other, capped by
    ``max_ops`` and ``max_s``. ``min_ops`` is large because on 4 cores
    op time keeps falling long after three consecutive ops first look
    settled (see ``Workload.warm_ops``)."""
    log = OpLog()
    t0 = time.perf_counter()
    while True:
        log.add(*run_op(fn, log.attempted))
        last = log.times[-3:]
        if log.attempted >= min_ops and max(last) <= (1.0 + tol) * min(last):
            break
        if log.attempted >= max_ops or time.perf_counter() - t0 >= max_s:
            break
    return log


def measure(fn, seconds: float, first_index: int, min_ops: int = 3) -> OpLog:
    """Run ops until ``seconds`` have passed (at least ``min_ops``)."""
    log = OpLog()
    t0 = log.t_start = time.perf_counter()
    while log.attempted < min_ops or time.perf_counter() - t0 < seconds:
        log.add(*run_op(fn, first_index + log.attempted))
    return log


# ---------------------------------------------------------- hardware ---


def numpy_units_per_s(seconds: float = 0.3) -> float:
    """Single-process numpy throughput on the payload stage's kind of
    work (raster synthesis, 8x8 block hash, PSNR math), as in
    ``scripts/hw_probe.py``; stamps how fast the machine ran during this run."""
    rng = np.random.Generator(np.random.PCG64(0))
    n, acc = 0, 0.0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for _ in range(50):
            img = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
            small = img.mean(axis=2).reshape(8, 4, 8, 4).mean(axis=(1, 3))
            acc += float((small > small.mean()).sum())
            q = (img >> np.uint8(2)) << np.uint8(2)
            acc += float(((img.astype(np.float64) - q) ** 2).mean())
        n += 50
    return n / (time.perf_counter() - t0)
