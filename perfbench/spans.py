"""Spans, process counters and Spark event-log parsing for the benchmark.

Everything here is measured from the benchmark's own files: the program
is not edited. Spans wrap the public entry points of the program's
modules by replacing module or class attributes for the length of a
traced run; they are kept in memory and summarised at the end. Spark
work (jobs, tasks, executor CPU, shuffle and input bytes) comes from the
uncompressed, non-rolling event log, attributed to a span or an
operation by time window: a job belongs to the window its submission
time falls in. That is how jobs submitted from the ingest writer's pool
threads, which do not inherit the caller's job group, still land in the
right ingest step.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ process stats


def _read_stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of ``pid``, or None."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    ticks = sum(int(fields[i]) for i in (11, 12, 13, 14))
    return ppid, ticks / _CLK_TCK


def jvm_tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM plus every live descendant (the PySpark
    daemon and its Python workers, which run UDFs)."""
    stats: dict[int, tuple[int, float]] = {}
    for entry in os.scandir("/proc"):
        if entry.name.isdigit():
            st = _read_stat(int(entry.name))
            if st is not None:
                stats[int(entry.name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [jvm_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, []))
    return total


def host_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor gave the host's CPUs to other guests."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields[:8])


def driver_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MiB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def tree_bytes(path: Path) -> tuple[int, int]:
    """(data files, bytes) under ``path``; hidden and ``_`` files
    (checksums, markers) are not data."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# -------------------------------------------------------------------- spans


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with event-log times
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans nest per thread; a span opened on
    a pool thread has no parent and is placed by its time window."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sp = Span(len(self.spans), name, stack[-1] if stack else None, time.time())
            self.spans.append(sp)
        stack.append(sp.sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def wrap_factory(self, factory, name: str):
        """Wrap a sink factory so each call of the sink it returns is a span."""

        def traced_factory(*args, **kwargs):
            return self.wrap(factory(*args, **kwargs), name)

        traced_factory.__wrapped__ = factory
        return traced_factory

    def patch(self, owner, attr: str, replacement) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def within(self, name: str, lo: float, hi: float) -> list[Span]:
        return [s for s in self.named(name) if lo <= s.start and s.end <= hi]


# ---------------------------------------------------------------- event log


@dataclass
class Work:
    """Spark work summed over a time window."""

    jobs: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    scheduler_delay_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    input_mb: float = 0.0
    input_rows: int = 0
    collect_jobs: int = 0
    files_read: int = 0
    exchanges: int = 0


# Jobs whose call site is one of these actions return rows to the Spark driver.
_COLLECT_CALLS = ("collect", "toPandas", "first", "take", "head", "isEmpty", "count")


class EventLog:
    """Parsed Spark event log (JSON lines, uncompressed)."""

    def __init__(self, path: Path) -> None:
        self.jobs: list[tuple[float, str]] = []  # (submit epoch s, call site)
        self.tasks: list[tuple[float, dict, dict]] = []  # (launch s, info, metrics)
        self.sql_start: dict[int, float] = {}
        self.plans: dict[int, dict] = {}  # execution id -> latest plan info
        self.metric_names: dict[int, str] = {}  # accumulator id -> metric name
        self.metric_exec: dict[int, int] = {}  # accumulator id -> execution id
        self.accum: dict[int, int] = {}
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                self._event(json.loads(line))

    def _plan(self, exec_id: int, info: dict) -> None:
        self.plans[exec_id] = info
        todo = [info]
        while todo:
            node = todo.pop()
            for m in node.get("metrics", []):
                self.metric_names[m["accumulatorId"]] = m["name"]
                self.metric_exec[m["accumulatorId"]] = exec_id
            todo.extend(node.get("children", []))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs.append((ev["Submission Time"] / 1000.0, props.get("callSite.short", "")))
        elif kind == "SparkListenerTaskEnd":
            info, metrics = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
            self.tasks.append((info.get("Launch Time", 0) / 1000.0, info, metrics))
        elif kind == "SparkListenerStageCompleted":
            for acc in (ev.get("Stage Info") or {}).get("Accumulables", []):
                try:
                    v = int(acc.get("Value"))
                except (TypeError, ValueError):
                    continue
                self.accum[acc["ID"]] = max(self.accum.get(acc["ID"], 0), v)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql_start[ev["executionId"]] = ev["time"] / 1000.0
            self._plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            for m in ev.get("sqlPlanMetrics", []):
                self.metric_names[m["accumulatorId"]] = m["name"]
                self.metric_exec[m["accumulatorId"]] = ev["executionId"]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", []):
                self.accum[acc_id] = max(self.accum.get(acc_id, 0), int(value))

    @staticmethod
    def _count_exchanges(info: dict) -> int:
        n, todo = 0, [info]
        while todo:
            node = todo.pop()
            if node.get("nodeName") == "Exchange":
                n += 1
            todo.extend(node.get("children", []))
        return n

    def work(self, lo: float, hi: float) -> Work:
        w = Work()
        for t, site in self.jobs:
            if lo <= t <= hi:
                w.jobs += 1
                w.collect_jobs += site.split(" ", 1)[0] in _COLLECT_CALLS
        for t, info, m in self.tasks:
            if not lo <= t <= hi:
                continue
            w.tasks += 1
            w.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            getting = info.get("Getting Result Time", 0)
            fetch = info.get("Finish Time", 0) - getting if getting else 0
            delay = duration - m.get("Executor Run Time", 0) - m.get(
                "Executor Deserialize Time", 0
            ) - m.get("Result Serialization Time", 0) - fetch
            w.scheduler_delay_s += max(0, delay) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            w.shuffle_read_mb += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 2**20
            w.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            ) / 2**20
            im = m.get("Input Metrics") or {}
            w.input_mb += im.get("Bytes Read", 0) / 2**20
            w.input_rows += im.get("Records Read", 0)
        execs = {e for e, t in self.sql_start.items() if lo <= t <= hi}
        for acc_id, name in self.metric_names.items():
            if name == "number of files read" and self.metric_exec.get(acc_id) in execs:
                w.files_read += self.accum.get(acc_id, 0)
        w.exchanges = sum(self._count_exchanges(self.plans[e]) for e in execs)
        return w


def find_event_log(log_dir: Path) -> Path:
    logs = [p for p in log_dir.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(logs)}")
    return logs[0]
