"""Spans, Spark task counters and host sampling for the benchmark.

A span is recorded around each call the benchmark makes into one
layer's public function: name, start, end, parent span and the run id
shared by every span of the run. Spans stay in memory until the run
ends. While a span is open, Spark jobs run under a job group named
after it, so the event log's task metrics can be summed per span once
the session has stopped (the log is zstd-compressed and decoded with
``pyarrow.CompressedInputStream``).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

#: task-metric counters summed (or maxed) per span
COUNTERS = ("executor_run_ms", "executor_cpu_ms", "shuffle_write_bytes",
            "peak_exec_mem_mb")


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a
    plain pass-through, so untraced runs pay nothing."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _group(self) -> None:
        if self._stack:
            sid = self._stack[-1]
            self.sc.setJobGroup(f"{self.run_id}.{sid}",
                                self.spans[sid]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str, side: bool = False):
        """``side=True`` marks a measurement the traced code makes beside
        the steps it replays: it is not one of its parent's steps."""
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "side": side}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._group()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def child_time(self, rec: dict, side: bool = False) -> float:
        """Seconds of ``rec`` covered by its direct children that are
        steps (``side=False``) or side measurements (``side=True``).
        Children run one after another, so their durations add up."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == rec["id"] and s["end"] is not None
                   and s["side"] == side)


def _read_event_log(log_dir: str) -> list[dict]:
    import pyarrow as pa

    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if path.endswith(".inprogress"):
            continue  # a session that never stopped cleanly
        with open(path, "rb") as raw:
            stream = (pa.CompressedInputStream(raw, "zstd")
                      if path.endswith((".zstd", ".zst")) else raw)
            data = stream.read()
        for line in data.splitlines():
            if line.strip():
                events.append(json.loads(line))
    return events


def span_counters(log_dir: str, tracer: Tracer) -> dict[str, dict]:
    """span name -> counter -> median over the span's instances. Task
    metrics are attributed through the job group of the stage that ran
    them (set while the span was open)."""
    stage_group: dict[int, str] = {}
    per_group: dict[str, dict[str, float]] = {}
    for ev in _read_event_log(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            gid = props.get("spark.jobGroup.id")
            if gid:
                stage_group[ev["Stage Info"]["Stage ID"]] = gid
        elif kind == "SparkListenerTaskEnd":
            gid = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if gid is None or not m:
                continue
            acc = per_group.setdefault(gid, dict.fromkeys(COUNTERS, 0.0))
            acc["executor_run_ms"] += m.get("Executor Run Time", 0)
            acc["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            acc["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics", {})
                .get("Shuffle Bytes Written", 0))
            acc["peak_exec_mem_mb"] = max(
                acc["peak_exec_mem_mb"],
                m.get("Peak Execution Memory", 0) / 2 ** 20)
    by_name: dict[str, list[dict]] = {}
    for s in tracer.spans:
        zero = dict.fromkeys(COUNTERS, 0.0)
        by_name.setdefault(s["name"], []).append(
            per_group.get(f"{tracer.run_id}.{s['id']}", zero))
    return {name: {c: statistics.median(v[c] for v in vals)
                   for c in COUNTERS}
            for name, vals in by_name.items()}


# ------------------------------------------------------------------ host --

def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as fh:
                out += [int(x) for x in fh.read().split()]
        except OSError:
            pass
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared with other processes (the
    forked Python workers share most of theirs with their daemon) are
    split among them, so a sum over the tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += _children(pid)
    return out


def _cpu_ticks_of(pid: int) -> int:
    """utime + stime of ``pid`` and of its children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in f[11:15])
    except (OSError, IndexError, ValueError):
        return 0


def tree_cpu_s(root: int) -> float:
    """CPU seconds spent so far by ``root`` and its descendants."""
    ticks = sum(_cpu_ticks_of(p) for p in [root, *descendants(root)])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and every descendant (the driver, the
    JVM and its Python workers), each page counted once."""
    return sum(_pss_kb(p) for p in [root, *descendants(root)]) / 1024.0


def wait_gone(pids: list[int], timeout: float = 30.0) -> list[int]:
    """Wait until none of ``pids`` runs any more; returns those left."""
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in pids if os.path.exists(f"/proc/{p}")
                and not _is_zombie(p)]
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except (OSError, IndexError):
        return True


class RssSampler(threading.Thread):
    """Samples the process tree's summed RSS every ``period`` seconds
    and keeps the peak since the last ``take``."""

    def __init__(self, period: float = 0.1):
        super().__init__(daemon=True)
        self.period = period
        self._peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop_evt = threading.Event()

    def run(self) -> None:
        pid = os.getpid()
        while not self._stop_evt.is_set():
            mb = tree_rss_mb(pid)
            with self._lock:
                self._peak_mb = max(self._peak_mb, mb)
            self._stop_evt.wait(self.period)

    def take(self) -> float:
        """The peak since the previous call (or the start), then reset."""
        mb = tree_rss_mb(os.getpid())
        with self._lock:
            peak, self._peak_mb = max(self._peak_mb, mb), 0.0
        return peak

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def _cpu_ticks() -> tuple[int, int]:
    """(all ticks, steal ticks) from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7] if len(f) > 7 else 0


def host_stamp() -> dict:
    total, steal = _cpu_ticks()
    return {"load1": os.getloadavg()[0], "nproc": nproc(),
            "cpu_ticks": total, "steal_ticks": steal}


def steal_share(start: dict, end: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    stamps: a noisy neighbour shows here even when the load is ours."""
    total = end["cpu_ticks"] - start["cpu_ticks"]
    return (end["steal_ticks"] - start["steal_ticks"]) / total if total \
        else 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))
