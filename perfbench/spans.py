"""Spans around public calls, Spark event-log attribution, memory sampling.

A `Tracer` records one span per public engine call (layer name, start,
end) in memory. With tracing on, each span also tags its Spark jobs with
a job group, and after the session stops the event log is parsed so every
job, and its stages and tasks, is attributed to the span that ran it:
by job group, or — for jobs submitted from engine-owned thread pools,
which do not inherit the caller's job group — by submission time falling
inside the span (the benchmark drives a single client, so spans never
overlap).
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Span:
    __slots__ = ("sid", "name", "start", "end", "attrs")

    def __init__(self, sid: int, name: str, start: float):
        self.sid, self.name, self.start, self.end = sid, name, start, start
        self.attrs: dict = {}

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None  # SparkContext, set once the session exists

    @contextmanager
    def span(self, name: str):
        sp = Span(len(self.spans), name, time.time())
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(f"pb-{sp.sid}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.enabled and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(
            [{"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
              **s.attrs} for s in self.spans], indent=1))


# -- event log ---------------------------------------------------------------
def read_event_log(log_dir: Path) -> list[dict]:
    """Events of the single application logged in `log_dir`. Spark 4 rolls
    the log into a directory of `events_<n>_<app>` files, zstd-compressed
    by default; a plain single-file log is read too."""
    import pyarrow as pa

    apps = list(log_dir.iterdir())
    if len(apps) != 1 or apps[0].name.endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {[p.name for p in apps]}")
    if apps[0].is_dir():
        parts = sorted((p for p in apps[0].iterdir()
                        if p.name.startswith("events_")),
                       key=lambda p: int(p.name.split("_")[1]))
    else:
        parts = apps
    events = []
    for path in parts:
        if path.suffix not in ("", ".zstd"):
            raise RuntimeError(f"unsupported event-log codec: {path.name}")
        codec = "zstd" if path.suffix == ".zstd" else None
        with pa.OSFile(str(path), "rb") as raw:
            stream = pa.CompressedInputStream(raw, codec) if codec else raw
            data = stream.read()
        events += [json.loads(line) for line in data.splitlines()
                   if line.strip()]
    return events


class JobStats:
    """Per-job counters aggregated from task-end events."""
    __slots__ = ("jid", "group", "submit", "end", "tasks", "failed_tasks",
                 "run_ms", "cpu_ns", "wait_ms", "input_bytes",
                 "shuffle_write_bytes", "spill_bytes")

    def __init__(self, jid: int, group: str | None, submit: float):
        self.jid, self.group, self.submit, self.end = jid, group, submit, submit
        self.tasks = self.failed_tasks = 0
        self.run_ms = self.cpu_ns = self.wait_ms = 0
        self.input_bytes = self.shuffle_write_bytes = self.spill_bytes = 0


def job_stats(events: list[dict]) -> list[JobStats]:
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            j = JobStats(ev["Job ID"], props.get("spark.jobGroup.id"),
                         ev["Submission Time"] / 1000.0)
            jobs[j.jid] = j
            for sid in ev["Stage IDs"]:
                stage_job[sid] = j.jid
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(ev["Stage ID"]))
            if j is None:
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            j.tasks += 1
            j.failed_tasks += bool(info.get("Failed"))
            j.run_ms += m.get("Executor Run Time", 0)
            j.cpu_ns += m.get("Executor CPU Time", 0)
            submitted = stage_submit.get(ev["Stage ID"])
            if submitted:
                j.wait_ms += max(0, info["Launch Time"] - submitted)
            j.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            j.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.jid)


def attribute(spans: list[Span], jobs: list[JobStats]) -> dict[int, list[JobStats]]:
    """span id → its jobs (job group first, else submission time)."""
    out: dict[int, list[JobStats]] = defaultdict(list)
    by_group = {f"pb-{s.sid}": s.sid for s in spans}
    for j in jobs:
        sid = by_group.get(j.group)
        if sid is None:
            sid = next((s.sid for s in spans if s.start <= j.submit <= s.end),
                       None)
        if sid is not None:
            out[sid].append(j)
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def span_layer_stats(span: Span, jobs: list[JobStats], cores: int) -> dict:
    """Counters of one span from its attributed jobs."""
    busy = union_length([(max(j.submit, span.start), min(j.end, span.end))
                         for j in jobs if j.end > j.submit])
    run_s = sum(j.run_ms for j in jobs) / 1000.0
    return {
        "wall_s": span.wall,
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "failed_tasks": sum(j.failed_tasks for j in jobs),
        "driver_s": max(0.0, span.wall - busy),
        "task_wait_s": sum(j.wait_ms for j in jobs) / 1000.0,
        "executor_run_s": run_s,
        "executor_cpu_s": sum(j.cpu_ns for j in jobs) / 1e9,
        "core_busy_frac": run_s / (span.wall * cores) if span.wall else 0.0,
        "input_bytes": sum(j.input_bytes for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
    }


# -- memory ------------------------------------------------------------------
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the closing paren
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        out.extend(kids.get(p, ()))
        todo.extend(kids.get(p, ()))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size, so pages the forked Python workers share
    are counted once across the tree."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Peak of the summed PSS of this process and all its descendants
    (the JVM and the Python workers), sampled every `period` seconds."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kb = sum(_pss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.period)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
