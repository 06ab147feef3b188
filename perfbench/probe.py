"""Measurement plumbing: /proc sampling, in-memory spans, Spark event log.

Nothing here imports the engine; ``run.py`` and ``workloads.py`` call
these helpers around the engine's public entry points.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


# ---- /proc -----------------------------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # fields after the parenthesised comm (which may contain spaces)
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """root and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        f = _stat_fields(int(entry.name))
        if f:
            children.setdefault(int(f[1]), []).append(int(entry.name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and its descendants, live and reaped
    (utime + stime + the reaped children's cutime + cstime)."""
    total = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def _comm(pid: int) -> str:
    try:
        return Path(f"/proc/{pid}/comm").read_text().strip()
    except OSError:
        return ""


def vm_hwm_mb(pid: int) -> float:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def py_worker_peak_rss_mb(jvm_pid: int) -> float:
    """Highest VmHWM among the Python workers under the Spark JVM."""
    return max((vm_hwm_mb(p) for p in process_tree(jvm_pid)[1:]
                if _comm(p).startswith("python")), default=0.0)


def jvm_pid_of(spark) -> int:
    pid = spark.sparkContext._gateway.proc.pid
    if _comm(pid) != "java":
        raise RuntimeError(f"gateway pid {pid} is {_comm(pid)!r}, not java")
    return pid


# ---- spans -----------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run); written once at
    the end.  A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, int] = {}
        self._stack: list[int] = []

    def count(self, name: str, n: int) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time child spans cover
        (children never overlap their siblings: spans are sequential)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child_time):
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - c)
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


@contextmanager
def spanned(tracer: Tracer, layers: dict):
    """For the duration, wrap module functions in spans: ``layers`` maps
    a span name to (module, function names).  Callers that look the
    functions up on the module see the wrappers; the originals are put
    back on exit."""
    saved = []

    def wrap(name, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kw):
            with tracer.span(name):
                return fn(*args, **kw)
        return wrapper

    try:
        for name, (module, fns) in layers.items():
            for fn in fns:
                saved.append((module, fn, getattr(module, fn)))
                setattr(module, fn, wrap(name, getattr(module, fn)))
        yield
    finally:
        for module, fn, orig in reversed(saved):
            setattr(module, fn, orig)


# ---- Spark status and event log ----------------------------------------------

def task_counts(spark, groups: list[str]) -> tuple[int, int]:
    """(tasks launched, tasks failed) over the jobs of ``groups``."""
    st = spark.sparkContext.statusTracker()
    launched = failed = 0
    seen = set()
    for g in groups:
        for j in st.getJobIdsForGroup(g):
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                if si is None or s in seen:
                    continue
                seen.add(s)
                launched += si.numCompletedTasks + si.numFailedTasks
                failed += si.numFailedTasks
    return launched, failed


def read_event_log(path: Path, groups: list[str]) -> dict[str, dict]:
    """Engine counters per job group from a Spark event log."""
    stage_group: dict[int, str] = {}
    out = {g: {"jobs": 0, "stages": set(), "tasks": 0, "input": 0,
               "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
               "stage_run_ms": {}, "task_run_ms": {}, "cached_peak": 0}
           for g in groups}
    blocks: dict[str, int] = {}
    current: str | None = None
    with path.open() as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                current = g if g in out else None
                if current:
                    out[current]["jobs"] += 1
                    for s in ev["Stage IDs"]:
                        stage_group[s] = current
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                o = out[g]
                sid = ev["Stage ID"]
                o["stages"].add(sid)
                o["tasks"] += 1
                o["input"] += m["Input Metrics"]["Bytes Read"]
                o["shuffle_write"] += \
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                r = m["Shuffle Read Metrics"]
                o["shuffle_read"] += (r["Remote Bytes Read"]
                                      + r["Local Bytes Read"])
                o["spill"] += m["Disk Bytes Spilled"]
                run_ms = m["Executor Run Time"]
                o["stage_run_ms"][sid] = o["stage_run_ms"].get(sid, 0) \
                    + run_ms
                o["task_run_ms"].setdefault(sid, []).append(run_ms)
            elif kind == "SparkListenerBlockUpdated":
                info = ev["Block Updated Info"]
                bid = info["Block ID"]
                if not bid.startswith("rdd_"):
                    continue
                blocks[bid] = info["Memory Size"] + info["Disk Size"]
                if current:
                    o = out[current]
                    o["cached_peak"] = max(o["cached_peak"],
                                           sum(blocks.values()))
    return out


def heaviest_stage(counters: dict) -> tuple[float, float]:
    """(summed run ms, max ÷ median task run time) of the stage with the
    most executor run time."""
    if not counters["stage_run_ms"]:
        return 0.0, 0.0
    sid = max(counters["stage_run_ms"], key=counters["stage_run_ms"].get)
    tasks = counters["task_run_ms"][sid]
    med = statistics.median(tasks)
    return float(counters["stage_run_ms"][sid]), \
        (max(tasks) / med if med else 0.0)
