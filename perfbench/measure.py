"""Measurement helpers that watch the program from outside: spans around
calls into the package, process CPU and RSS read from ``/proc``, and engine
counters read from Spark's event log after the session stops."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """In-memory spans: name, start, end (seconds on the perf_counter clock)
    and the id of the enclosing span. Written out once, at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def duration(self, name: str) -> float:
        """Total duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its child spans cover."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child[s["id"]])
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(
            {"spans": self.spans, "self_s": self.self_times()}, indent=1))


class NullTracer:
    """Stands in for :class:`Tracer` on untraced runs."""

    def span(self, name: str):
        return nullcontext()


# ---------------------------------------------------------------------------
# /proc: the JVM and its Python workers are descendants of this process
# ---------------------------------------------------------------------------


def _stat_fields(pid: str) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> dict[int, list[str]]:
    """pid -> /proc stat fields (after the command name) for every live
    descendant of ``root``."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(entry)
            if fields is not None:
                stats[int(entry)] = fields
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User plus system CPU of every live descendant, including what they
    collected from children that already exited (pyspark's worker daemon
    reaps its forked workers)."""
    ticks = 0
    for f in descendants(root).values():
        # fields after the name: state=0 ppid=1 ... utime=11 stime=12
        # cutime=13 cstime=14
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs: a
    run whose share grew was contended by something outside it."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / _CLK_TCK


def tree_rss_mb(root: int) -> float:
    return sum(int(f[21]) for f in descendants(root).values()) * _PAGE / 2**20


class RssSampler:
    """Samples the descendants' summed RSS on a thread and keeps the peak."""

    def __init__(self, root: int, interval: float = 0.1) -> None:
        self.root = root
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def event_log_counters(log_dir: Path, job_group: str) -> dict[str, float]:
    """Totals over the jobs that ran in ``job_group``: jobs, completed stages,
    tasks, executor run time, GC time, shuffle bytes written and spill."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    jobs = 0
    stage_ids: set[int] = set()
    stages = tasks = 0
    run_ms = gc_ms = shuffle_b = spill_b = 0
    with files[0].open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if props.get("spark.jobGroup.id") == job_group:
                    jobs += 1
                    stage_ids.update(ev["Stage IDs"])
            elif kind == "SparkListenerStageCompleted":
                if ev["Stage Info"]["Stage ID"] in stage_ids:
                    stages += 1
            elif kind == "SparkListenerTaskEnd":
                if ev["Stage ID"] not in stage_ids:
                    continue
                tasks += 1
                m = ev.get("Task Metrics") or {}
                run_ms += m.get("Executor Run Time", 0)
                gc_ms += m.get("JVM GC Time", 0)
                shuffle_b += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                spill_b += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
    return {
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.executor_run_s": run_ms / 1e3,
        "spark.gc_s": gc_ms / 1e3,
        "spark.shuffle_write_mb": shuffle_b / 2**20,
        "spark.spill_mb": spill_b / 2**20,
    }
