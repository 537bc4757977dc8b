"""Measurement helpers: latency statistics, process-tree memory, and the
span tracer of the traced run.

Spans are recorded from the benchmark's own files around its calls into
each engine module; nothing here reaches inside the engine. Each span
gets its own Spark job group, so the jobs, stages and tasks a span
launches are attributed to it afterwards from Spark's event log.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time
from dataclasses import dataclass

# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them; a
    single value is its own quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail(values: list[float], min_beyond: int = 10) -> dict | None:
    """The highest whole percentile that leaves at least ``min_beyond``
    samples strictly above its rank, with the nearest-rank value there.
    None when there are too few samples for any percentile >= 50."""
    n = len(values)
    s = sorted(values)
    for p in range(99, 49, -1):
        rank = -(-p * n // 100)  # nearest-rank, 1-based: ceil(p*n/100)
        if n - rank >= min_beyond:
            return {"percentile": p, "value": s[rank - 1], "n": n, "beyond": n - rank}
    return None


def summary(values: list[float]) -> dict:
    q1, med, q3 = quartiles(values)
    return {"median": med, "q1": q1, "q3": q3, "n": len(values), "tail": tail(values)}


# ---------------------------------------------------------------------------
# Peak resident memory of this process and all its descendants
# ---------------------------------------------------------------------------


def _process_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by parent pid, start time in clock ticks by pid)."""
    kids: dict[int, list[int]] = {}
    started: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        rest = raw[raw.rfind(")") + 2:].split()
        pid = int(raw[: raw.index(" ")])
        kids.setdefault(int(rest[1]), []).append(pid)
        started[pid] = int(rest[19])
    return kids, started


def descendants(root: int) -> set[int]:
    kids, _ = _process_table()
    out, todo = set(), list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int, min_age_s: float = 0.5) -> dict[str, int]:
    """Resident bytes of ``root`` and its descendants, by executable name.
    Processes younger than ``min_age_s`` are skipped: a child the JVM or
    the worker daemon has just forked maps its parent's pages until it
    execs or settles, which would count them twice."""
    kids, started = _process_table()
    page = os.sysconf("SC_PAGE_SIZE")
    tick = os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as f:
        now_ticks = float(f.read().split()[0]) * tick
    out: dict[str, int] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        if pid != root and now_ticks - started.get(pid, 0) < min_age_s * tick:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        out[comm] = out.get(comm, 0) + rss
    return out


class RssSampler:
    """Samples the process tree's summed RSS on a background thread and
    keeps the peak; psutil is not needed."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by_exe: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            by_exe = tree_rss_bytes(me)
            total = sum(by_exe.values())
            if total > self.peak:
                self.peak, self.peak_by_exe = total, by_exe
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


_GC_PAUSE = re.compile(
    r"^\[([\d.]+)s\].*Pause (?:Young|Full).*? (\d+)([KMG])->(\d+)([KMG])\((\d+)([KMG])\)"
)
_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def gc_log_heap_mb(path: str, t0: float, t1: float) -> dict[str, float]:
    """Heap figures, in MB, from a JVM ``-Xlog:gc`` file (uptime stamps):
    ``committed``, the largest committed heap; ``live_median`` and
    ``live_max``, the median and largest occupancy a collection left
    behind between uptimes ``t0`` and ``t1``; ``collections`` in that
    window. With none in it, the last collection before ``t0`` stands
    for the window; with none at all, the whole committed heap does.

    The median, not the largest: a young collection lands at a random
    point of an operation, and how many land in a run depends on how
    G1 sized the young generation; on a 4-core host the largest
    occupancy of the name join varied by up to 70 % between runs."""
    committed, before, window = 0.0, [], []
    with open(path) as f:
        for line in f:
            m = _GC_PAUSE.search(line)
            if not m:
                continue
            t = float(m[1])
            after = int(m[4]) * _MB[m[5]]
            committed = max(committed, int(m[6]) * _MB[m[7]])
            if t < t0:
                before.append(after)
            elif t <= t1:
                window.append(after)
    live = window or before[-1:] or [committed]
    return {
        "committed": committed, "live_median": statistics.median(live),
        "live_max": max(live), "collections": len(window),
    }


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    sid: str
    name: str
    op: int
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory. While ``enabled`` is false every span is a
    no-op, so untraced units pay nothing for the tracing hooks."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0

    def span(self, name: str, op: int):
        return _SpanCtx(self, name, op)

    def _open(self, name: str, op: int) -> Span:
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"pb{self._next}", name, op, parent.sid if parent else None, time.perf_counter())
        self._next += 1
        self._stack.append(sp)
        self.spark.sparkContext.setJobGroup(sp.sid, name, interruptOnCancel=False)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack.pop()
        self.spans.append(sp)
        sc = self.spark.sparkContext
        if self._stack:
            top = self._stack[-1]
            sc.setJobGroup(top.sid, top.name, interruptOnCancel=False)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def self_time(self, sp: Span) -> float:
        """Duration minus the union of the intervals its child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == sp.sid)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.dur - covered

    def dump(self, path: str, groups: dict[str, dict]) -> None:
        """Write one JSON object per span, with the Spark counters of the
        span's own job group (``read_event_log``)."""
        with open(path, "w") as f:
            for sp in self.spans:
                rec = {
                    "id": sp.sid, "name": sp.name, "op": sp.op, "parent": sp.parent,
                    "start": sp.start, "end": sp.end, "self_s": self.self_time(sp),
                    **groups.get(sp.sid, {}),
                }
                f.write(json.dumps(rec) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op: int):
        self.tracer, self.name, self.op = tracer, name, op
        self.span: Span | None = None

    def __enter__(self) -> "_SpanCtx":
        if self.tracer.enabled:
            self.span = self.tracer._open(self.name, self.op)
        return self

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            self.tracer._close(self.span)


# ---------------------------------------------------------------------------
# Spark event log: per-job-group job, stage, task, GC, shuffle and spill
# ---------------------------------------------------------------------------


def read_event_log(event_dir: str) -> dict[str, dict]:
    """Aggregate the event log written under ``event_dir`` by job group:
    ``{group: {jobs, stages, tasks, task_s, gc_s, shuffle_write_mb,
    spill_mb}}``. Jobs without a group land under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(g: str) -> dict:
        return out.setdefault(
            g,
            {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
             "shuffle_write_mb": 0.0, "spill_mb": 0.0},
        )

    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    b = bucket(g)
                    b["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    bucket(stage_group.get(sid, ""))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    b = bucket(stage_group.get(ev.get("Stage ID"), ""))
                    m = ev.get("Task Metrics") or {}
                    b["tasks"] += 1
                    b["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    b["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    b["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    b["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
    return out
