"""Read Spark's own event log and sum task metrics per job description.

The traced run turns the log on through session config
(``spark.eventLog.enabled``, uncompressed, not rolling) and sets a job
description around every operation it times. After ``spark.stop()``
the log is one JSON object per line; :func:`parse` folds it into one
:class:`OpJobs` per description.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

DESC = "spark.job.description"


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write: int
    shuffle_read: int
    input_bytes: int
    spill: int


@dataclass
class OpJobs:
    """Everything the event log says about the jobs of one description."""

    jobs: list[tuple[int, int]] = field(default_factory=list)  # (start, end) ms
    tasks: list[Task] = field(default_factory=list)

    def stage_totals(self) -> dict[int, dict]:
        out: dict[int, dict] = {}
        for t in self.tasks:
            s = out.setdefault(
                t.stage,
                {"tasks": 0, "run_ms": 0, "shuffle_write": 0, "shuffle_read": 0,
                 "last_finish_ms": 0},
            )
            s["tasks"] += 1
            s["run_ms"] += t.run_ms
            s["shuffle_write"] += t.shuffle_write
            s["shuffle_read"] += t.shuffle_read
            s["last_finish_ms"] = max(s["last_finish_ms"], t.finish_ms)
        return out

    def covered_ms(self, start_ms: float, end_ms: float) -> float:
        """Milliseconds of [start_ms, end_ms] covered by at least one job."""
        spans = sorted(
            (max(a, start_ms), min(b, end_ms)) for a, b in self.jobs if b > start_ms
        )
        total, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    total += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            total += cur_b - cur_a
        return total


def log_file(log_dir: str) -> str:
    """The single application log the session wrote into ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def parse(lines) -> dict[str, OpJobs]:
    """Group jobs and their tasks by job description.

    Jobs without a description are grouped under ``""``."""
    job_desc: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_desc: dict[int, str] = {}
    out: dict[str, OpJobs] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get(DESC) or ""
            jid = ev["Job ID"]
            job_desc[jid] = desc
            job_start[jid] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                stage_desc.setdefault(sid, desc)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            out.setdefault(job_desc.get(jid, ""), OpJobs()).jobs.append(
                (job_start.get(jid, ev["Completion Time"]), ev["Completion Time"])
            )
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            inp = m.get("Input Metrics") or {}
            task = Task(
                stage=ev["Stage ID"],
                launch_ms=info["Launch Time"],
                finish_ms=info["Finish Time"],
                run_ms=m.get("Executor Run Time", 0),
                cpu_ns=m.get("Executor CPU Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_write=sw.get("Shuffle Bytes Written", 0),
                shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                input_bytes=inp.get("Bytes Read", 0),
                spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            )
            out.setdefault(stage_desc.get(task.stage, ""), OpJobs()).tasks.append(task)
    return out


def read(log_dir: str) -> dict[str, OpJobs]:
    with open(log_file(log_dir)) as f:
        return parse(f)
