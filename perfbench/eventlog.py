"""Spark event log → per-span sums, and the span-tree arithmetic.

The tracer names every job group ``span-<id>``. Jobs and stages carry the
group in their ``Properties``; tasks carry only their stage id, so task
metrics are charged to the group of the stage they ran in. The result is
one :class:`Usage` per span id (``None`` for work outside every span).
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from dataclasses import dataclass, field, fields

GROUP_PREFIX = "span-"

# Python worker SQL metrics (Arrow UDF stages), by accumulable name.
_PYTHON_ACCUMULABLES = {
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_received_bytes",
}


@dataclass
class Usage:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    fetch_wait_ms: float = 0.0
    spill_bytes: float = 0.0
    input_bytes: float = 0.0
    input_records: float = 0.0
    python_run_ms: float = 0.0
    python_sent_bytes: float = 0.0
    python_received_bytes: float = 0.0
    job_submit_ms: list = field(default_factory=list)

    def add(self, other: "Usage") -> None:
        for f in fields(self):
            if f.name == "job_submit_ms":
                self.job_submit_ms.extend(other.job_submit_ms)
            else:
                setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))

    @property
    def shuffle_bytes(self) -> float:
        return self.shuffle_read_bytes + self.shuffle_write_bytes


def event_files(log_dir: str) -> list[str]:
    """The event-log files under ``log_dir`` (written with rolling off)."""
    return sorted(glob.glob(os.path.join(log_dir, "*")))


def read_events(paths: list[str]):
    for p in paths:
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def span_id(group: str | None) -> int | None:
    if group and group.startswith(GROUP_PREFIX):
        return int(group[len(GROUP_PREFIX):])
    return None


def usage_by_span(events) -> dict[int | None, Usage]:
    """Sum jobs, stages and task metrics per span id."""
    out: dict[int | None, Usage] = defaultdict(Usage)
    stage_span: dict[int, int | None] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            sid = span_id((e.get("Properties") or {}).get("spark.jobGroup.id"))
            u = out[sid]
            u.jobs += 1
            u.job_submit_ms.append(float(e.get("Submission Time", 0)))
            for st in e.get("Stage IDs", []):
                stage_span.setdefault(st, sid)
        elif kind == "SparkListenerStageSubmitted":
            st = e["Stage Info"]["Stage ID"]
            sid = span_id((e.get("Properties") or {}).get("spark.jobGroup.id"))
            stage_span[st] = sid
            out[sid].stages += 1
        elif kind == "SparkListenerTaskEnd":
            u = out[stage_span.get(e.get("Stage ID"))]
            u.tasks += 1
            m = e.get("Task Metrics") or {}
            u.run_ms += m.get("Executor Run Time", 0)
            u.gc_ms += m.get("JVM GC Time", 0)
            u.spill_bytes += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            u.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            u.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            u.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            im = m.get("Input Metrics") or {}
            u.input_bytes += im.get("Bytes Read", 0)
            u.input_records += im.get("Records Read", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                attr = _PYTHON_ACCUMULABLES.get(acc.get("Name"))
                if attr and acc.get("Update") is not None:
                    setattr(u, attr, getattr(u, attr) + float(acc["Update"]))
    return dict(out)


# ------------------------------------------------------------ span trees
def children_of(spans) -> dict[int | None, list]:
    kids: dict[int | None, list] = defaultdict(list)
    for sp in spans:
        kids[sp.parent].append(sp)
    return kids


def self_times(spans) -> dict[int, float]:
    """Self time of each span: its duration minus its children's. Spans of
    one thread nest strictly, so the children never overlap each other."""
    kids = children_of(spans)
    return {
        sp.id: sp.duration - sum(c.duration for c in kids.get(sp.id, ()))
        for sp in spans
    }


def subtree_ids(root, kids) -> list[int]:
    out, todo = [], [root]
    while todo:
        sp = todo.pop()
        out.append(sp.id)
        todo.extend(kids.get(sp.id, ()))
    return out


def subtree_usage(root, kids, usage: dict[int | None, Usage]) -> Usage:
    total = Usage()
    for sid in subtree_ids(root, kids):
        if sid in usage:
            total.add(usage[sid])
    return total
