"""Measurement from outside the program: spans with one Spark job group
per timed call, a stdlib reader that folds a Spark event log into
per-group counters, and a sampler for the process tree's peak RSS.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

# Per-group counter suffixes folded from task-end events.
COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
            "shuffle_write_mb", "spill_mb", "input_rows")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    iteration: int
    group: str | None
    cpu_s: float | None = None  # top-level spans only


@dataclass
class Tracer:
    """Times calls into the program. With ``spark`` set, each call runs
    under its own job group so the event log can attribute its jobs;
    without it (untraced runs) only the wall time is taken."""

    spark: object | None = None
    spans: list[Span] = field(default_factory=list)
    cpu: CpuMeter = field(default_factory=lambda: CpuMeter(os.getpid()))
    _stack: list[tuple[str, int]] = field(default_factory=list)
    _n: int = 0

    def call(self, name: str, iteration: int | None, fn, *args, **kwargs):
        """Run ``fn`` inside a span; return (result, seconds). A nested
        call passes ``iteration=None`` and inherits its parent's. CPU is
        read only around top-level calls, so that a nested span adds no
        meter reading to its parent's CPU."""
        group = None
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            self._n += 1
            group = f"{name}#{self._n}"
            sc.setJobGroup(group, name)
        parent, parent_it = self._stack[-1] if self._stack else (None, 0)
        if iteration is None:
            iteration = parent_it
        top = not self._stack
        self._stack.append((group or name, iteration))
        c0 = self.cpu.seconds() if top else 0.0
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            cpu = self.cpu.seconds() - c0 if top else None
            self._stack.pop()
            if sc is not None:
                # jobs of the enclosing span resume under its group
                if parent is not None and "#" in parent:
                    sc.setJobGroup(parent, parent.split("#")[0])
                else:
                    sc._jsc.clearJobGroup()
            self.spans.append(Span(name, t0, t1, parent, iteration, group, cpu))
        return out, t1 - t0

    def self_time(self, span: Span) -> float:
        """Span duration minus the part its direct children cover."""
        key = span.group or span.name
        kids = sum(s.end - s.start for s in self.spans if s.parent == key)
        return (span.end - span.start) - kids


def tracker_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stage ids and finished tasks of one job group, from the
    status tracker (the cross-check of the event-log fold). Drains the
    listener bus first so the last job's tasks are recorded."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    tasks = 0
    ran = 0
    for s in stage_ids:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks + info.numFailedTasks:
            ran += 1
            tasks += info.numCompletedTasks + info.numFailedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks}


def fold_event_log(paths: list[str]) -> dict[str, dict[str, float]]:
    """Fold Spark event logs (uncompressed JSON lines) into counters
    per job group: jobs, stages that ran tasks, tasks, failed tasks,
    executor run seconds, shuffle-write MB, spill MB (memory + disk)
    and input rows. Events without a job group fold under ``""``."""
    out: dict[str, dict[str, float]] = {}
    stage_group: dict[int, str] = {}
    stages_ran: dict[str, set[int]] = {}

    def acc(group: str) -> dict[str, float]:
        return out.setdefault(group, {k: 0 for k in COUNTERS})

    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    acc(g)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is not None:
                        stage_group[ev["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    g = stage_group.get(sid, "")
                    c = acc(g)
                    stages_ran.setdefault(g, set()).add(sid)
                    c["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        c["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    c["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0)) / 1e6
                    c["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0) / 1e6
                    c["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    for g, sids in stages_ran.items():
        acc(g)["stages"] = len(sids)
    return out


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir`` in write order. Spark 4 rolls
    logs by default: one ``eventlog_v2_<app>/`` directory per
    application holding ``events_<n>_<app>`` files and an
    ``appstatus_`` marker."""
    out = []
    for app in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, app)
        if not os.path.isdir(path):
            out.append(path)
            continue
        parts = [fn for fn in os.listdir(path) if fn.startswith("events_")]
        parts.sort(key=lambda fn: int(fn.split("_")[1]))
        out.extend(os.path.join(path, fn) for fn in parts)
    return out


def _children(pid: int) -> list[int]:
    kids = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return kids


def process_tree(root_pid: int):
    """``root_pid`` and its descendants, skipping a child that still runs
    the JVM's own executable: that is a spawn in progress sharing the
    JVM's address space (the JVM runs helper commands through
    posix_spawn), and counting it would count the JVM twice."""
    todo = [(root_pid, None)]
    while todo:
        pid, parent_exe = todo.pop()
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            if exe == parent_exe and os.path.basename(exe) == "java":
                continue
            yield pid
            todo.extend((k, exe) for k in _children(pid))
        except OSError:
            continue  # the process ended between listing and reading


def _stat_ticks(stat_path: str) -> int:
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])  # utime + stime


# JVM threads that compile hot code: their CPU is warm-up, not work
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
# Native ids of this process's threads that measure rather than run
# the program (the RSS sampler); CpuMeter leaves their CPU out.
METER_THREADS: set[int] = set()


class CpuMeter:
    """User + system CPU seconds of a process and its descendants, less
    the JVM's JIT compiler threads and the ``METER_THREADS`` of the root
    process. Time the host steals from this machine is not in it, so it
    moves with the work done rather than with other tenants' load. A
    left-out thread that ends keeps its last-seen time subtracted, as a
    process's total keeps the time of its ended threads (the JVM starts
    and stops compiler threads as needed)."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self._left_out: dict[tuple[int, int], bool] = {}  # thread -> is left out
        self._skipped: dict[tuple[int, int], int] = {}    # left-out thread -> ticks

    def _is_left_out(self, pid: int, tid: int) -> bool:
        key = (pid, tid)
        if key not in self._left_out:
            if pid == self.root_pid and tid in METER_THREADS:
                self._left_out[key] = True
            else:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    self._left_out[key] = f.read().startswith(_JIT_THREADS)
        return self._left_out[key]

    def seconds(self) -> float:
        total = 0
        for pid in process_tree(self.root_pid):
            try:
                total += _stat_ticks(f"/proc/{pid}/stat")
                for tid in map(int, os.listdir(f"/proc/{pid}/task")):
                    if self._is_left_out(pid, tid):
                        self._skipped[pid, tid] = _stat_ticks(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue  # the process or thread ended while being read
        return (total - sum(self._skipped.values())) / os.sysconf("SC_CLK_TCK")

    def reading_cpu_s(self) -> float:
        """CPU seconds one ``seconds()`` call costs this thread (mean of
        20): the meter's own share of a span's CPU is two of these."""
        t0 = time.thread_time()
        for _ in range(20):
            self.seconds()
        return (time.thread_time() - t0) / 20


def tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue  # the process ended between listing and reading
    return total


class RssSampler:
    """Samples the process tree's summed RSS on a thread every
    ``INTERVAL_S``; ``peak_mb`` is the largest sample. The thread is
    listed in ``METER_THREADS``, so its CPU is not the program's. Use as
    a context manager."""

    INTERVAL_S = 0.1

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._started = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        METER_THREADS.add(threading.get_native_id())
        self._started.set()
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        self._started.wait()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6
