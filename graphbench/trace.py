"""Tracing and probes, all from outside the engine package.

* ``Tracer`` keeps spans (name, start, end, parent, request id) in
  memory.  ``Tracer.wrap`` installs a span wrapper around a public
  function by replacing the module attribute, so calls that resolve the
  name at call time (``dispatch.run_requests`` importing
  ``traverse.bfs_levels_multi``) go through it; the wrapper's call
  count proves it sits in the call path.
* ``job_counts`` reads jobs, stages and tasks of one job group from
  ``SparkStatusTracker``.
* ``read_event_log`` is a stdlib-only reader of Spark's uncompressed
  JSON-lines event log that sums stage and task figures per job group.
* ``dir_bytes`` and ``peak_rss_mb`` are the space and memory probes;
  ``jvm_work_cpu_s`` reads the Spark JVM's CPU time outside its JIT
  compiler; ``cpu_jiffies`` reads the host's CPU steal, which the report
  prints because it moves every wall-clock timing.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import Counter, defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.calls: Counter = Counter()
        self._lock = threading.Lock()
        self._local = threading.local()

    def set_request(self, req: str | None) -> None:
        self._local.req = req

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "req": getattr(self._local, "req", None),
            "parent": stack[-1]["id"] if stack else None,
            "start": time.time(),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
            self.calls[name] += 1
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)

    def request_spans(self, req: str) -> list[dict]:
        return [s for s in self.spans if s["req"] == req and "end" in s]


class NullTracer:
    """Stand-in for untraced runs: no spans, no wrappers."""

    def set_request(self, req: str | None) -> None:
        pass

    def span(self, name: str):
        return contextlib.nullcontext()


def span_total(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) of one job group, from the status store.
    Call right after the group's work: the store keeps only the most
    recent ``spark.ui.retainedJobs`` jobs."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return len(jobs), stages, tasks


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, job submit times (epoch s),
    stage spans, executor run time, stage wait (submission to first task
    launch), shuffle read/write bytes and spilled bytes."""
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>.
    files = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, float] = {}
    stage_first_launch: dict[int, float] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "job_submits": [],
            "stages": 0,
            "tasks": 0,
            "stage_spans": [],
            "executor_run_s": 0.0,
            "stage_wait_s": 0.0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        }
    )
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    g = groups[group]
                    g["jobs"] += 1
                    g["job_submits"].append(ev["Submission Time"] / 1000)
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info:
                        stage_submit[info["Stage ID"]] = info["Submission Time"] / 1000
                elif kind == "SparkListenerTaskStart":
                    sid = ev["Stage ID"]
                    launch = ev["Task Info"]["Launch Time"] / 1000
                    if sid not in stage_first_launch or launch < stage_first_launch[sid]:
                        stage_first_launch[sid] = launch
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    g = groups[group]
                    g["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
                    rd = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    wr = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    group = stage_group.get(sid)
                    if group is None or "Submission Time" not in info:
                        continue
                    g = groups[group]
                    g["stages"] += 1
                    start = info["Submission Time"] / 1000
                    end = info.get("Completion Time", info["Submission Time"]) / 1000
                    g["stage_spans"].append((start, end))
                    launch = stage_first_launch.get(sid)
                    if launch is not None:
                        g["stage_wait_s"] += max(0.0, launch - stage_submit.get(sid, start))
    return dict(groups)


def covered(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``spans``."""
    total, cur = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            with contextlib.suppress(FileNotFoundError):
                total += os.path.getsize(os.path.join(base, name))
    return total


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stat_cpu_s(path: str) -> float:
    """User plus system CPU seconds from a ``/proc`` ``stat`` file."""
    with open(path, encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jvm_work_cpu_s(pid: int) -> float:
    """CPU seconds the JVM ``pid`` has spent outside its JIT compiler
    threads: the process's time (exited threads included) minus that of
    the compiler threads, which must live as long as the JVM.  In the
    first minute of a JVM, compilation takes more CPU than the engine's
    own work, and how much of it falls into a measured window depends on
    how fast the host runs that window.  Time the hypervisor gives to
    other guests is charged to no thread."""
    total = _stat_cpu_s(f"/proc/{pid}/stat")
    for task in glob.glob(f"/proc/{pid}/task/*"):
        with contextlib.suppress(FileNotFoundError):
            with open(f"{task}/comm", encoding="ascii") as fh:
                if fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    total -= _stat_cpu_s(f"{task}/stat")
    return total


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs since boot: steal is
    time the hypervisor gave to other guests while this one was ready."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)
