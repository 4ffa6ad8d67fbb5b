"""Benchmark-side tracing: spans around calls into the engine, Spark job
groups, and a parser for the Spark event log.

Spans live in memory and are written out when the run ends. A span's
self time is its duration minus the time its direct children cover.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    rid: str | None


@dataclass
class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if rid is None and parent is not None:
            rid = self.spans[parent].rid
        s = Span(sid, name, time.perf_counter(), 0.0, parent, rid)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name."""
        covered = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.end - s.start
        out = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - covered[s.id]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


@dataclass
class StageStats:
    cpu_ns: int = 0
    shuffle_write: int = 0
    spill_disk: int = 0


def parse_event_log(path: str) -> dict[str, dict]:
    """Aggregate an uncompressed Spark event log by job group.

    Returns ``{group: {"jobs", "stages", "tasks", "single_task_stages",
    "cpu_s", "shuffle_write_mb", "spill_mb"}}``. Each stage counts once,
    under the group of the first job that ran it; stages a job skipped
    (reused shuffle output) never complete and are not counted."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    done: dict[int, int] = {}
    stages: dict[int, StageStats] = defaultdict(StageStats)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                job_group[e["Job ID"]] = props.get("spark.jobGroup.id") or ""
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, e["Job ID"])
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                done[info["Stage ID"]] = info["Number of Tasks"]
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                st = stages[e["Stage ID"]]
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                st.spill_disk += m.get("Disk Bytes Spilled", 0)
    out: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "stages": 0, "tasks": 0, "single_task_stages": 0,
        "cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0})
    for group in job_group.values():
        out[group]["jobs"] += 1
    for sid, n_tasks in done.items():
        g = out[job_group.get(stage_job.get(sid, -1), "")]
        st = stages.get(sid, StageStats())
        g["stages"] += 1
        g["tasks"] += n_tasks
        g["single_task_stages"] += n_tasks == 1
        g["cpu_s"] += st.cpu_ns / 1e9
        g["shuffle_write_mb"] += st.shuffle_write / 2**20
        g["spill_mb"] += st.spill_disk / 2**20
    return dict(out)


def find_event_log(ev_dir: str, app_id: str) -> str:
    """The finished (or in-progress) log file of ``app_id``."""
    for p in sorted(glob.glob(os.path.join(ev_dir, f"*{app_id}*"))):
        if os.path.isfile(p):
            return p
        for q in sorted(glob.glob(os.path.join(p, "events*"))):
            return q
    raise FileNotFoundError(f"no event log for {app_id} in {ev_dir}")


def event_log_conf(ev_dir: str) -> dict[str, str]:
    os.makedirs(ev_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ev_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}
