"""Spans, Spark event-log counters and /proc process metrics.

Spans are recorded by the benchmark around its calls into the
package's public functions, kept in memory and written once at exit.
Spark work is attributed to spans from the event log by time window:
``build_index`` submits jobs from pool threads, which do not inherit a
job group, so a job or stage belongs to the innermost span open when it
was submitted, and a task to the one open when it was launched.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

COUNTERS = ("jobs", "stages", "tasks", "tasks_failed", "shuffle_write_bytes",
            "spill_bytes", "executor_cpu_s", "gc_s", "driver_s")


class Tracer:
    """In-memory spans: name, start, end, parent span and op id. A
    disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": self._open[-1] if self._open else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _read_events(eventlog_dir: str):
    """(app, event) pairs from every event-log file in the directory."""
    for name in sorted(os.listdir(eventlog_dir)):
        with open(os.path.join(eventlog_dir, name)) as f:
            for line in f:
                yield name, json.loads(line)


def span_counters(eventlog_dir: str, spans: list[dict]) -> dict[int, dict]:
    """Per-span Spark counters (``COUNTERS`` plus ``input_rows``),
    including the work of child spans."""
    closed = [s for s in spans if s["end"] is not None]

    def innermost(t: float) -> int | None:
        best = None
        for s in closed:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return None if best is None else best["id"]

    jobs: dict[tuple, list] = {}
    summed = [c for c in COUNTERS if c != "driver_s"] + ["input_rows"]
    own = {s["id"]: dict.fromkeys(summed, 0) | {"_jobs": []} for s in closed}
    for app, ev in _read_events(eventlog_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[(app, ev["Job ID"])] = [ev["Submission Time"] / 1000.0, None]
        elif kind == "SparkListenerJobEnd":
            job = jobs.get((app, ev["Job ID"]))
            if job is not None:
                job[1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            sid = innermost(ev["Stage Info"]["Submission Time"] / 1000.0)
            if sid is not None:
                own[sid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = innermost(ev["Task Info"]["Launch Time"] / 1000.0)
            if sid is None:
                continue
            c = own[sid]
            c["tasks"] += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                c["tasks_failed"] += 1
            m = ev.get("Task Metrics") or {}
            c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            c["input_rows"] += m.get("Input Metrics", {}).get("Records Read", 0)
    for start, end in jobs.values():
        sid = innermost(start)
        if sid is not None:
            own[sid]["jobs"] += 1
            own[sid]["_jobs"].append((start, end if end is not None else start))

    children: dict[int, list[int]] = {}
    for s in closed:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    out: dict[int, dict] = {}

    def total(sid: int) -> dict:
        if sid in out:
            return out[sid]
        t = dict(own[sid])
        for ch in children.get(sid, []):
            ct = total(ch)
            for k in t:
                t[k] = t[k] + ct[k]
        out[sid] = t
        return t

    by_id = {s["id"]: s for s in closed}
    result = {}
    for sid in own:
        t = total(sid)
        s = by_id[sid]
        in_jobs = _union_length([(max(a, s["start"]), min(b, s["end"]))
                                 for a, b in t["_jobs"] if b > a])
        result[sid] = {k: v for k, v in t.items() if k != "_jobs"}
        result[sid]["driver_s"] = (s["end"] - s["start"]) - in_jobs
    return result


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """children-by-parent, and CPU ticks of every process: utime + stime
    + reaped children's cutime + cstime."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().rsplit(") ", 1)[1].split()
        except (OSError, IndexError):
            continue
        ticks[int(pid)] = int(parts[11]) + int(parts[12]) + int(parts[13]) + int(parts[14])
        children.setdefault(int(parts[1]), []).append(int(pid))
    return children, ticks


def descendants() -> list[int]:
    """Every live descendant of this process."""
    children, _ = _proc_table()
    out, stack = [], list(children.get(os.getpid(), []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and all its descendants: the Spark JVM
    and the Python workers it forks."""
    _, ticks = _proc_table()
    pids = [os.getpid()] + descendants()
    return sum(ticks.get(p, 0) for p in pids) / os.sysconf("SC_CLK_TCK")


def tree_pss_mb() -> float:
    """Proportional set size of this process and its descendants. PSS
    splits pages shared after a fork among the sharers, so a forked
    child (a Python worker, or the JVM's process-spawn helper before it
    execs) does not count its parent's memory a second time, as RSS
    would."""
    kb = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


class MemorySampler:
    """Background sampler of the process tree's peak PSS. Reading the
    JVM's page tables costs CPU, so the sampler reports its own thread's
    CPU seconds for callers to leave out of the program's."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def cpu_s(self) -> float:
        """CPU seconds (user + system) the sampler thread has used."""
        try:
            with open(f"/proc/self/task/{self._thread.native_id}/stat") as f:
                parts = f.read().rsplit(") ", 1)[1].split()
        except (OSError, TypeError):  # not started yet
            return 0.0
        return (int(parts[11]) + int(parts[12])) / os.sysconf("SC_CLK_TCK")

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
