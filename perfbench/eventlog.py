"""Spark event-log parser: executor work grouped by job tag.

The benchmark tags every call it makes into the program with
``sc.addJobTag``; Spark writes the active tags of each job into the
``spark.job.tags`` property of its ``SparkListenerJobStart`` event.
This module reads an uncompressed event log and sums, per tag, the task
metrics of every stage those jobs ran.  A stage listed by several jobs
belongs to the first one; stages that ran no task (skipped, reused
shuffle output) are not counted.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field, fields

TAGS_PROPERTY = "spark.job.tags"


@dataclass
class Work:
    """Executor work of the jobs carrying one tag."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    fetch_wait_ms: float = 0.0
    spill_bytes: int = 0
    last_job_end_ms: int = 0  # epoch ms, 0 when no job ended
    stage_ids: set = field(default_factory=set, repr=False)

    def add(self, other: "Work") -> None:
        for f in fields(self):
            if f.name == "stage_ids":
                self.stage_ids |= other.stage_ids
            elif f.name == "last_job_end_ms":
                self.last_job_end_ms = max(self.last_job_end_ms, other.last_job_end_ms)
            else:
                setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def _task_work(ev: dict) -> Work:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    return Work(
        tasks=1,
        run_ms=m.get("Executor Run Time", 0),
        cpu_ms=m.get("Executor CPU Time", 0) / 1e6,
        gc_ms=m.get("JVM GC Time", 0),
        input_bytes=inp.get("Bytes Read", 0),
        shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        fetch_wait_ms=sr.get("Fetch Wait Time", 0),
        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    )


def parse(lines, prefix: str) -> dict[str, Work]:
    """Work per tag, for tags starting with ``prefix``, from an
    iterable of event-log lines."""
    job_tags: dict[int, list[str]] = {}
    job_end: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    stage_work: dict[int, Work] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            raw = (ev.get("Properties") or {}).get(TAGS_PROPERTY, "")
            tags = [t for t in raw.split(",") if t.startswith(prefix)]
            job_tags[ev["Job ID"]] = tags
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            job_end[ev["Job ID"]] = ev.get("Completion Time", 0)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            stage_work.setdefault(sid, Work()).add(_task_work(ev))
    out: dict[str, Work] = {}
    for jid, tags in job_tags.items():
        for tag in tags:
            w = out.setdefault(tag, Work())
            w.jobs += 1
            w.last_job_end_ms = max(w.last_job_end_ms, job_end.get(jid, 0))
    for sid, work in stage_work.items():
        jid = stage_job.get(sid)
        for tag in job_tags.get(jid, []):
            out[tag].add(work)
            out[tag].stage_ids.add(sid)
    for w in out.values():
        w.stages = len(w.stage_ids)
    return out


def parse_dir(path: str, prefix: str) -> dict[str, Work]:
    """Parse the one event file under ``path``: the run's
    ``spark.eventLog.dir``, holding the log of its single application
    (rolling is off, so the log is one file)."""
    names = [f for f in os.listdir(path) if not f.startswith(".")]
    if len(names) != 1:
        raise ValueError(f"expected one event log in {path}, found {names}")
    with open(os.path.join(path, names[0])) as fh:
        return parse(fh, prefix)
