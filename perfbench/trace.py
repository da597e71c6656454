"""Spans recorded around the benchmark's calls into each layer, plus the
Spark event log that attributes executor task metrics to them.

A span is (id, parent, name, start, end). While a span is open in a
traced phase, the Spark job group is set to ``<prefix>.<id>``, so every
job its call launches -- and every task of those jobs -- can be traced
back to it through the event log (``SparkListenerJobStart`` carries the
group in its properties). Spans are kept in memory and written out
once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Span recorder. Spans are always timed; only while ``sc`` is set
    (the traced phase) do they also set a job group and count as
    traced, which is what ``named`` returns by default."""

    def __init__(self, prefix: str):
        self.prefix = prefix
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "group": (f"{self.prefix}.{sid}" if self.sc is not None
                         else None),
               **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, rec):
        if self.sc is None:
            return
        if rec is None or rec["group"] is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    def named(self, name: str, traced_only: bool = True) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (s["group"] is not None or not traced_only)]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by its children
        (children of one span never overlap: there is one client)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]]
                for s in self.spans}

    def subtree(self, roots: list[dict]) -> list[dict]:
        """The given spans and all their descendants."""
        ids = {s["id"] for s in roots}
        for s in self.spans:   # parents precede children in the list
            if s["parent"] in ids:
                ids.add(s["id"])
        return [s for s in self.spans if s["id"] in ids]

    def records(self) -> list[dict]:
        """Every span with its duration and self time, for writing out."""
        st = self.self_times()
        return [{**s, "dur_s": s["end"] - s["start"], "self_s": st[s["id"]]}
                for s in self.spans]


# --------------------------------------------------------------------------
# event log


class EventLog:
    """Task metrics from one uncompressed Spark event log, grouped by the
    job group of the job each task belongs to (one group per span)."""

    def __init__(self, path: str):
        self.jobs_by_group: dict[str, list[int]] = defaultdict(list)
        self.tasks_by_group: dict[str, list[dict]] = defaultdict(list)
        stage_group: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    if group is None:
                        continue
                    self.jobs_by_group[group].append(ev["Job ID"])
                    for stage in ev.get("Stage IDs", []):
                        stage_group[stage] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is not None:
                        self.tasks_by_group[group].append(_task(ev))

    def tasks(self, spans: list[dict]) -> list[dict]:
        return [t for s in spans
                for t in self.tasks_by_group.get(s["group"], [])]

    def jobs(self, spans: list[dict]) -> list[int]:
        return [j for s in spans
                for j in self.jobs_by_group.get(s["group"], [])]


def _task(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    out = m.get("Output Metrics") or {}
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    return {
        "run_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_records": (sr.get("Total Records Read", 0)),
        "spill_b": m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
        "result_b": m.get("Result Size", 0),
        "output_b": out.get("Bytes Written", 0),
        "failed": reason != "Success",
    }


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
