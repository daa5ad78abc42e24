"""Spans kept in memory, and the reduction of a Spark event log.

A span is (id, parent, name, start, end); the spans of one run share the
run's trace id. Nothing is written until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"trace": self.trace_id, "id": sid,
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Stage:
    __slots__ = ("durations", "run_ms")

    def __init__(self):
        self.durations: list[float] = []
        self.run_ms = 0.0


def skew(durations: list[float]) -> float:
    """max / median task duration (1.0 for a single task)."""
    if not durations:
        return 0.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


def reduce_event_log(paths: list[str]) -> dict[str, dict]:
    """{job group: counters} over every task of every job in the group.

    Counters: jobs, tasks, shuffle_write_mb, spill_mb, gc_s, task_skew
    (max / median task time of the group's busiest stage) and the SQL
    metrics of its tasks summed by name (``acc``)."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "tasks": 0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "gc_s": 0.0, "acc": defaultdict(float), "_stages": {}})
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or ""
                    job_group[ev["Job ID"]] = g
                    out[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"], "")
                    rec = out[g]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    rec["tasks"] += 1
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    rec["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                        + m.get("Disk Bytes Spilled", 0)) \
                        / 2**20
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_write_mb"] += \
                        sw.get("Shuffle Bytes Written", 0) / 2**20
                    st = rec["_stages"].setdefault(ev["Stage ID"], _Stage())
                    st.durations.append(info.get("Finish Time", 0)
                                        - info.get("Launch Time", 0))
                    st.run_ms += m.get("Executor Run Time", 0)
                    for a in info.get("Accumulables", ()):
                        try:
                            rec["acc"][a["Name"]] += float(a["Update"])
                        except (KeyError, TypeError, ValueError):
                            pass
    for rec in out.values():
        stages = rec.pop("_stages").values()
        busiest = max(stages, key=lambda s: s.run_ms, default=None)
        rec["task_skew"] = skew(busiest.durations) if busiest else 0.0
        rec["acc"] = dict(rec["acc"])
    return dict(out)


def merge(groups: dict[str, dict], prefix: str) -> dict:
    """Sum the counters of every group whose name starts with prefix;
    task_skew is the largest of theirs."""
    tot = {"jobs": 0, "tasks": 0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
           "gc_s": 0.0, "task_skew": 0.0, "acc": defaultdict(float)}
    for g, rec in groups.items():
        if not g.startswith(prefix):
            continue
        for k in ("jobs", "tasks", "shuffle_write_mb", "spill_mb", "gc_s"):
            tot[k] += rec[k]
        tot["task_skew"] = max(tot["task_skew"], rec["task_skew"])
        for k, v in rec["acc"].items():
            tot["acc"][k] += v
    return tot
