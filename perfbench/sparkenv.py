"""Spark session lifetime, process-tree RSS sampling and event-log parsing.

Everything the benchmark writes lives under one work directory inside
the checkout: Spark scratch, the event log, the JVM's and Python's
temp files.
"""

from __future__ import annotations

import contextlib
import ctypes
import glob
import json
import os
import signal
import statistics
import threading
import time

UNIT_PROPERTY = "perfbench.unit"
PR_SET_CHILD_SUBREAPER = 36


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                data = f.read()
        except OSError:
            continue
        # the command name may contain spaces: ppid follows the last ")"
        fields = data[data.rindex(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(data.split(" ", 1)[0]))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants. Spark's
    Python daemon and its workers outlive the JVM that started them by
    a moment; once re-parented here rather than to init, ``descendants``
    still finds them and ``end_descendants`` waits for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace_s: float) -> None:
    """Wait up to ``grace_s`` for every process this one started, and
    every process those started, to exit; kill the ones left after
    that, and return once none is left (or, should one not die, 30 s
    after the kill)."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        left = descendants(me)
        if not left or time.monotonic() > deadline + 30:
            return
        if time.monotonic() >= deadline:
            for pid in left:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def resident_bytes(pid: int) -> int | None:
    """The process's proportional set size (PSS): its resident pages,
    each page shared with other processes counted as its share. Falls
    back to VmRSS where the kernel has no ``smaps_rollup``. None once
    the process has exited."""
    for path, key in ((f"/proc/{pid}/smaps_rollup", "Pss:"),
                      (f"/proc/{pid}/status", "VmRSS:")):
        try:
            with open(path) as f:
                for line in f:
                    if line.startswith(key):
                        return int(line.split()[1]) * 1024
        except FileNotFoundError:
            continue
        except OSError:
            return None
    return None


class RssSampler:
    """Peak memory of this process and all its descendants (the Spark
    JVM and its Python workers): at each tick of a background thread,
    the sum of the PSS of every live process in the tree; ``peak`` is
    the largest such sum. PSS counts a page that forked workers share
    with their daemon once over all of them, and a process that has
    exited no longer counts. A tick costs ~35 ms of CPU (most of it the
    kernel walking the JVM's page tables for PSS), so ticks are 1 s
    apart: at 4 a second the sampler took ~15% of a core from the
    program it measures."""

    def __init__(self, period_s: float = 1.0) -> None:
        self.period_s = period_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak(self) -> int:
        with self._lock:
            return self._peak

    def sample(self) -> None:
        me = os.getpid()
        total = sum(filter(None, map(resident_bytes, [me] + descendants(me))))
        with self._lock:
            self._peak = max(self._peak, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def start_spark(work: str, cores: int, event_log: bool):
    """One driver process on local[cores]; returns (spark, seconds)."""
    from ocr_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        # byte-balanced splits small enough that the bench-sized pages
        # table scans as >= cores splits, so extract_pages stays narrow
        "spark.sql.files.maxPartitionBytes": "1m",
        "spark.sql.files.openCostInBytes": "256k",
    }
    if event_log:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": logdir,
                     "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_spark(spark, grace_s: float = 60.0) -> None:
    """Stop the session, end the gateway JVM (closing its stdin tells it
    to exit) and wait until every process this one started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            with contextlib.suppress(Exception):
                gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
        end_descendants(grace_s)


class EventLog:
    """Per-unit task metrics from Spark's JSON event log. Jobs are
    attributed to the unit named by the ``perfbench.unit`` local
    property that was set when the job was submitted."""

    def __init__(self, logdir: str) -> None:
        self.job_unit: dict[int, str] = {}
        self.stage_unit: dict[int, str] = {}
        self.tasks: list[dict] = []
        paths = sorted(os.path.join(r, f) for r, _, fs in os.walk(logdir)
                       for f in fs if not f.startswith("."))
        for path in paths:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            unit = (ev.get("Properties") or {}).get(UNIT_PROPERTY)
            if unit:
                self.job_unit[ev["Job ID"]] = unit
                for sid in ev.get("Stage IDs", []):
                    self.stage_unit[sid] = unit
        elif kind == "SparkListenerTaskEnd":
            unit = self.stage_unit.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if unit and m:
                self.tasks.append({
                    "unit": unit, "stage": ev["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill": (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)),
                    "input": m.get("Input Metrics", {}).get("Bytes Read", 0),
                    "fetch_ms": m.get("Shuffle Read Metrics", {})
                                .get("Fetch Wait Time", 0),
                    "shuffle_w": m.get("Shuffle Write Metrics", {})
                                  .get("Shuffle Bytes Written", 0),
                })

    def unit_metrics(self, unit_walls: dict[str, float],
                     cores: int) -> dict[str, float]:
        """Medians over units of the per-unit sums."""
        per: dict[str, list] = {k: [] for k in (
            "spark.jobs", "spark.executor_run_s", "spark.cpu_busy_frac",
            "spark.input_bytes_read", "spark.shuffle_write_bytes",
            "spark.fetch_wait_s", "spark.spill_bytes", "spark.gc_s",
            "spark.task_skew")}
        for unit, wall in unit_walls.items():
            ts = [t for t in self.tasks if t["unit"] == unit]
            run_s = sum(t["run_ms"] for t in ts) / 1e3
            per["spark.jobs"].append(
                sum(1 for u in self.job_unit.values() if u == unit))
            per["spark.executor_run_s"].append(run_s)
            per["spark.cpu_busy_frac"].append(run_s / (wall * cores))
            per["spark.input_bytes_read"].append(sum(t["input"] for t in ts))
            per["spark.shuffle_write_bytes"].append(
                sum(t["shuffle_w"] for t in ts))
            per["spark.fetch_wait_s"].append(
                sum(t["fetch_ms"] for t in ts) / 1e3)
            per["spark.spill_bytes"].append(sum(t["spill"] for t in ts))
            per["spark.gc_s"].append(sum(t["gc_ms"] for t in ts) / 1e3)
            # skew of the heaviest stage (the extraction UDF stage on
            # every workload): max over median task run time
            by_stage: dict[int, list[int]] = {}
            for t in ts:
                by_stage.setdefault(t["stage"], []).append(t["run_ms"])
            skew = 1.0
            if by_stage:
                heavy = max(by_stage.values(), key=sum)
                med = statistics.median(heavy)
                skew = max(heavy) / med if med > 0 else 1.0
            per["spark.task_skew"].append(skew)
        return {k: (statistics.median(v) if v else 0.0)
                for k, v in per.items()}
