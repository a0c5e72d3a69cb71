"""Spans around the benchmark's calls into richdem_spark, and the Spark
work each span caused.

Every span is timed with ``perf_counter``.  In a tagged pass a span
also becomes the Spark job group of the calls made inside it, and the
session writes an event log; after the session stops,
:func:`read_event_log` attributes every job, stage, task, executor run
time and shuffle byte to the span that caused it.  Spans are kept in
memory and written out once, at exit.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records ``(id, name, layer, parent, pass_id, start, end)`` spans.

    ``tag_jobs`` switches the job-group tagging on and off between
    passes, so a traced run can also time untagged passes and report the
    tagging overhead."""

    def __init__(self, sc):
        self.sc = sc
        self.tag_jobs = False
        self.pass_id: int | None = None
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, layer: str):
        sid = f"span{next(self._ids)}"
        parent = self._stack[-1] if self._stack else None
        tag = self.tag_jobs
        self._stack.append(sid)
        if tag:
            self.sc.setJobGroup(sid, name)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            if tag:
                if parent is not None:
                    self.sc.setJobGroup(parent, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append({
                "id": sid, "name": name, "layer": layer, "parent": parent,
                "pass_id": self.pass_id, "tagged": tag,
                "start": t0, "end": t1,
            })

    def seconds(self, name: str, pass_id: int) -> float:
        """Total duration of the spans called ``name`` in one pass."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["pass_id"] == pass_id)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1,
                      default=float)


def read_event_log(log_dir: str) -> dict[str | None, dict]:
    """Per job group: jobs, stages that ran tasks, tasks, executor run
    time (s) and shuffle bytes written, from a Spark JSON event log."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, dict] = defaultdict(
        lambda: {"jobs": 0, "stages": set(), "tasks": 0, "task_s": 0.0,
                 "shuffle_write_bytes": 0})
    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        # a stage listed again by a later job was skipped
                        # there: its tasks belong to the first job
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    g = out[stage_group.get(sid)]
                    m = ev.get("Task Metrics") or {}
                    g["stages"].add(sid)
                    g["tasks"] += 1
                    g["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    g["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
    return out


def span_totals(spans: list[dict], groups: dict) -> dict[str, dict]:
    """Inclusive Spark totals per span: its own job group plus those of
    every span nested inside it."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s["id"])
    memo: dict[str, dict] = {}

    def total(sid):
        if sid not in memo:
            g = groups.get(sid)
            t = {"jobs": g["jobs"] if g else 0,
                 "stages": len(g["stages"]) if g else 0,
                 "tasks": g["tasks"] if g else 0,
                 "task_s": g["task_s"] if g else 0.0,
                 "shuffle_write_bytes": g["shuffle_write_bytes"] if g else 0}
            for c in children[sid]:
                for k, v in total(c).items():
                    t[k] += v
            memo[sid] = t
        return memo[sid]

    return {s["id"]: total(s["id"]) for s in spans}
