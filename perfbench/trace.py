"""Tracing that stays outside the program: spans around public calls, Spark
job counts from the status tracker, an offline fold of the Spark event log,
and commit-marker parsing. Standard library only, so the fold and the marker
parser also run on a recorded log without Spark.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

# --------------------------------------------------------------------------
# spans


class SpanRecorder:
    """In-memory spans (name, start, end, parent) written out once at the end.

    ``enabled=False`` makes ``span`` a plain timer, so the untraced run pays
    nothing but two clock reads per call."""

    def __init__(self, enabled: bool, trace_id: str) -> None:
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.perf_counter(), "end": None, **attrs}
        if self.enabled:
            rec["id"] = len(self.spans)
            rec["parent"] = self._stack[-1] if self._stack else None
            rec["trace"] = self.trace_id
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def write(self, path: Path) -> None:
        """Spans as JSON, each with its self time (``self_s``)."""
        self_s = self_seconds(self.spans)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(
            [{**s, "self_s": self_s[s["id"]]} for s in self.spans], indent=1, default=str
        ))


def self_seconds(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its direct children cover."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s.get("parent") is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child_time.get(s["id"], 0.0) for s in spans}


# --------------------------------------------------------------------------
# Spark status tracker


class JobCounter:
    """Jobs, stages and tasks started during a call, from ``statusTracker()``.

    The call runs under its own job group; jobs the program submits from its
    own worker threads carry no group, so both are collected and the ones
    that existed before the call are subtracted."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    def _known(self, group: str) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(group)) | set(
            self.tracker.getJobIdsForGroup(None)
        )

    @contextmanager
    def group(self, group: str):
        before = self._known(group)
        self.sc.setJobGroup(group, group)
        out = {"group": group}
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            jobs = sorted(self._known(group) - before)
            stages = tasks = 0
            for jid in jobs:
                info = self.tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = self.tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks
            out.update(job_ids=jobs, jobs=len(jobs), stages=stages, tasks=tasks)


# --------------------------------------------------------------------------
# event-log fold

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _new_row() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "py_sent_bytes": 0,
        "py_recv_bytes": 0,
        "task_skew": 1.0,
    }


def fold_event_log(path: str | os.PathLike, job_groups: dict[int, str] | None = None) -> dict[str, dict]:
    """Fold a JSON Spark event log (uncompressed, not rolled) into one row
    per job group.

    A job's group is its ``spark.jobGroup.id`` property, or else the entry
    for its job id in ``job_groups`` (jobs submitted from threads that do not
    inherit the group), or else ``"(none)"``. ``task_skew`` is max/median
    task duration of the group's stage with the most task time."""
    job_groups = job_groups or {}
    stage_group: dict[int, str] = {}
    rows: dict[str, dict] = {}
    stage_tasks: dict[int, list[float]] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or job_groups.get(jid, "(none)")
                rows.setdefault(g, _new_row())["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"], "(none)")
                row = rows.setdefault(g, _new_row())
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                row["tasks"] += 1
                row["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics") or {}
                row["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables", []):
                    name = acc.get("Name")
                    if name in (_PY_SENT, _PY_RECV):
                        key = "py_sent_bytes" if name == _PY_SENT else "py_recv_bytes"
                        row[key] += int(acc.get("Update", 0) or 0)
                if info.get("Finish Time") and info.get("Launch Time"):
                    stage_tasks.setdefault(ev["Stage ID"], []).append(
                        (info["Finish Time"] - info["Launch Time"]) / 1e3
                    )
            elif kind == "SparkListenerStageCompleted":
                g = stage_group.get(ev["Stage Info"]["Stage ID"], "(none)")
                rows.setdefault(g, _new_row())["stages"] += 1
    longest: dict[str, tuple[float, float]] = {}
    for sid, durs in stage_tasks.items():
        g = stage_group.get(sid, "(none)")
        total = sum(durs)
        if total > longest.get(g, (-1.0, 1.0))[0]:
            med = statistics.median(durs)
            longest[g] = (total, max(durs) / med if med > 0 else 1.0)
    for g, (_total, skew) in longest.items():
        rows[g]["task_skew"] = skew
    return rows


def find_event_log(log_dir: str | os.PathLike) -> Path | None:
    logs = [p for p in Path(log_dir).iterdir() if p.is_file() and not p.name.endswith(".inprogress")]
    return max(logs, key=lambda p: p.stat().st_mtime) if logs else None


# --------------------------------------------------------------------------
# commit markers


def read_markers(warehouse: str | os.PathLike) -> list[dict]:
    """Committed markers of a warehouse, in round order."""
    commits = sorted((Path(warehouse) / "_commits").glob("c*.json"))
    return [json.loads(p.read_text()) for p in commits]


def live_segments(entry) -> int:
    """Distinct segment directories a table entry reads from."""
    if entry is None:
        return 0
    if isinstance(entry, str):
        return 1
    dirs = set(entry.get("buckets", {}).values())
    if entry.get("star"):
        dirs.add(entry["star"])
    return len(dirs)


def store_stats(markers: list[dict], table: str = "url_state") -> dict:
    """Write shape of the round commits (seed commits excluded): bytes
    written per commit, buckets the merge touched, compactions, live
    segments after the last commit, and the spacing between consecutive
    round commits (0 with fewer than two)."""
    rounds = [m for m in markers if m["round"] >= 0]
    bytes_per = [sum(w.get("bytes", 0) for w in m["meta"].get("write_stats", {}).values()) for m in rounds]
    touched = [
        m["meta"]["write_stats"][table]["touched_buckets"]
        for m in rounds
        if "touched_buckets" in m["meta"].get("write_stats", {}).get(table, {})
    ]
    compacted = sum(
        1 for m in rounds if m["meta"].get("write_stats", {}).get(table, {}).get("compacted")
    )
    at = [m["committed_at"] for m in rounds]
    spacing = [b - a for a, b in zip(at, at[1:])]
    return {
        "commits": len(rounds),
        "write_bytes_p50": statistics.median(bytes_per) if bytes_per else 0,
        "touched_buckets_p50": statistics.median(touched) if touched else 0,
        "compactions": compacted,
        "live_segments": live_segments(markers[-1]["tables"].get(table)) if markers else 0,
        "commit_spacing_s_p50": statistics.median(spacing) if spacing else 0.0,
    }


# --------------------------------------------------------------------------
# host counters


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, resident pages) for every process in /proc."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parts = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(d)] = (int(parts[1]), int(parts[21]))
    return table


def descendants(root_pid: int, table: dict[int, tuple[int, int]] | None = None) -> list[int]:
    """Pids of every live descendant of ``root_pid``."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _rss) in (table or _proc_table()).items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of a process and all its descendants, in MiB."""
    table = _proc_table()
    pages = sum(table.get(p, (0, 0))[1] for p in [root_pid, *descendants(root_pid, table)])
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


def jvm_live_heap_mb(spark) -> float:
    """Heap the driver JVM still holds after a full collection: what the run
    retains (cached and checkpoint blocks, driver state), without the
    garbage whose timing makes resident memory noisy."""
    import gc

    gc.collect()  # drop Python-side references to JVM objects first
    jvm = spark.sparkContext._jvm
    for _ in range(2):  # the second pass collects what the first one's cleanup freed
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


class PeakRss:
    """Samples ``tree_rss_mb(pid)`` on a daemon thread while active; ``peak``
    is the largest sample. Used as ``with PeakRss(pid) as rss: ...``."""

    def __init__(self, pid: int, interval_s: float = 0.25) -> None:
        import threading

        self.pid = pid
        self.interval_s = interval_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_mb(self.pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb(self.pid))

