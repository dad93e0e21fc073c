"""Spans, Spark event-log folding and host diagnostics.

Spans are recorded from the benchmark's own code around each call into
an engine layer; nothing inside the engine is instrumented. Every traced
call also sets a Spark job group, so the stage and task metrics that
Spark writes to its event log can be attributed to the call afterwards.
Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    call_id: int
    parent: int | None
    start: float  # epoch seconds, the same clock as Spark's event times
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Span ids are list positions."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, call_id: int):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        self.spans.append(Span(name, call_id, parent, time.time()))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s.__dict__}) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- Spark event log ---------------------------------------------------------

PY_SENT = "data sent to Python workers"


@dataclass
class GroupStats:
    """Spark work attributed to one job group (one traced call)."""

    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    wait_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    py_mb: float = 0.0
    job_spans: list[tuple[float, float]] = field(default_factory=list)


def fold_event_log(path: str) -> dict[str, GroupStats]:
    """Read a finished Spark event log and sum task and stage metrics by
    job group. Waiting is per-task scheduler delay plus, per stage, the
    gap from submission to its first task launch."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    stage_first: dict[int, float] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)

    def group_of_stage(stage: int) -> GroupStats | None:
        job = stage_job.get(stage)
        g = job_group.get(job) if job is not None else None
        return out[g] if g else None

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    job_group[job] = g
                    out[g].jobs += 1
                job_start[job] = ev["Submission Time"] / 1000.0
                for s in ev.get("Stage IDs", []):
                    stage_job.setdefault(s, job)
            elif kind == "SparkListenerJobEnd":
                job = ev["Job ID"]
                g = job_group.get(job)
                if g and job in job_start:
                    out[g].job_spans.append((job_start[job], ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if "Submission Time" in info:
                    stage_submit[info["Stage ID"]] = info["Submission Time"] / 1000.0
            elif kind == "SparkListenerTaskStart":
                s = ev["Stage ID"]
                t = ev["Task Info"]["Launch Time"] / 1000.0
                stage_first[s] = min(stage_first.get(s, t), t)
            elif kind == "SparkListenerTaskEnd":
                gs = group_of_stage(ev["Stage ID"])
                if gs is None:
                    continue
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                gs.tasks += 1
                if info.get("Failed") or info.get("Killed"):
                    gs.failed_tasks += 1
                run_ms = m.get("Executor Run Time", 0)
                gs.run_s += run_ms / 1000.0
                gs.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                gs.gc_s += m.get("JVM GC Time", 0) / 1000.0
                dur_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                other_ms = (
                    run_ms
                    + m.get("Executor Deserialize Time", 0)
                    + m.get("Result Serialization Time", 0)
                    + (info.get("Finish Time", 0) - info.get("Getting Result Time", 0)
                       if info.get("Getting Result Time", 0) else 0)
                )
                gs.wait_s += max(0, dur_ms - other_ms) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                gs.shuffle_mb += sw.get("Shuffle Bytes Written", 0) / 1e6
                gs.spill_mb += m.get("Disk Bytes Spilled", 0) / 1e6
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == PY_SENT:
                        gs.py_mb += float(acc.get("Update", 0) or 0) / 1e6
    for s, t in stage_first.items():
        gs = group_of_stage(s)
        if gs is not None and s in stage_submit:
            gs.wait_s += max(0.0, t - stage_submit[s])
    return dict(out)


def event_log_file(directory: str) -> str | None:
    files = [os.path.join(directory, f) for f in os.listdir(directory)]
    files = [f for f in files if os.path.isfile(f)]
    return max(files, key=os.path.getmtime) if files else None


# --- host diagnostics -----------------------------------------------------------


# seconds between resident-memory samples: at 0.5 s the short peaks of
# a batch pass were caught in some runs and missed in others (the same
# six seeds spread by 0.11 of the median at 0.5 s, 0.06 at 0.1 s)
RSS_INTERVAL = 0.1
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, the fields after it) of a /proc stat file."""
    with open(path) as f:
        head, tail = f.read().rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _tree() -> dict[int, tuple[str, list[str]]]:
    """/proc stat of this process and all its descendants: the driver
    Python, the JVM it launched and Spark's Python workers."""
    children: dict[int, list[int]] = defaultdict(list)
    stats: dict[int, tuple[str, list[str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stats[int(d)] = _stat(f"/proc/{d}/stat")
        except OSError:
            continue
        children[int(stats[int(d)][1][1])].append(int(d))
    out, todo = {}, [os.getpid()]
    while todo:
        p = todo.pop()
        if p in stats:
            out[p] = stats[p]
        todo.extend(children.get(p, []))
    return out


def _cpu_ticks(fields: list[str]) -> int:
    return int(fields[11]) + int(fields[12])  # utime + stime


def _pss_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def tree_rss_kb() -> int:
    """Resident memory of the process tree, counting each page once.

    Spark's Python workers are forked from one daemon and share most of
    their pages, so their resident sizes would count those pages once
    per worker, and the sum would move with how many workers happen to
    be alive; they count their proportional share (PSS) instead. The
    JVM shares almost nothing (its RSS and PSS differ by under 1%) and
    counts its RSS, which is cheap to read: its PSS takes tens of
    milliseconds of kernel time, which would land in the calls' CPU."""
    kb = 0
    for pid, (name, fields) in _tree().items():
        pss = None if name == "java" else _pss_kb(pid)
        kb += pss if pss is not None else int(fields[21]) * _PAGE_KB
    return kb


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree, leaving out the JVM's
    JIT compiler threads: how much compiling a call triggers depends on
    how far warm-up got, not on the call (five identical ``batch`` passes
    in one process on a 4-core host compiled for 18, 10, 6, 5 and 4
    CPU-seconds)."""
    ticks = 0
    for pid, (name, fields) in _tree().items():
        ticks += _cpu_ticks(fields)
        if name != "java":
            continue
        try:
            threads = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for t in threads:
            try:
                tname, tfields = _stat(f"/proc/{pid}/task/{t}/stat")
            except OSError:
                continue
            if "CompilerThre" in tname:
                ticks -= _cpu_ticks(tfields)
    return ticks / _TICK


class RssSampler:
    """Samples the resident memory of this process tree (the driver
    Python, the JVM it launched and Spark's Python workers, see
    ``tree_rss_kb``) in a background thread; ``peak_mb`` is the largest
    sum seen."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb())
            self._stop.wait(RSS_INTERVAL)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) from the aggregate /proc/stat cpu line."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class HostWindow:
    """Steal share and load average over a timed window (diagnostics)."""

    def __init__(self) -> None:
        self.s0, self.t0 = _cpu_jiffies()

    def report(self) -> dict[str, float]:
        s1, t1 = _cpu_jiffies()
        dt = t1 - self.t0
        return {
            "steal_pct": round(100.0 * (s1 - self.s0) / dt, 2) if dt > 0 else 0.0,
            "loadavg_1m": round(os.getloadavg()[0], 2),
        }
