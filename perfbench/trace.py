"""Spans around engine calls, and the Spark event log that the spans index.

A ``Tracer`` records one span per public engine call the benchmark makes:
name, start, end, parent and pass id. Spans stay in memory until the run
ends. When the tracer holds a SparkContext it also sets a Spark job group
per span, so every job the call launches (polygon collects, kNN rings, LSH
counts, connected-components rounds) carries the span's id in the event
log. ``EventLog`` reads that log back and sums task and SQL-plan metrics
per job group.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_PREFIX = "pb"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    pass_id: int
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}:{self.pass_id}:{self.sid}"


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by child spans."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.sid, []) if c.end > s.start and c.start < s.end)
        out[s.sid] = s.duration - covered
    return out


class Tracer:
    """In-memory span recorder. With ``sc`` set, each span is also a Spark
    job group, restored to the parent's group when the span ends."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.pass_id = 0

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None,
                 self.pass_id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def pass_spans(self, pass_id: int) -> list[Span]:
        return [s for s in self.spans if s.pass_id == pass_id]

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"sid": s.sid, "name": s.name,
                                    "parent": s.parent, "pass": s.pass_id,
                                    "start": s.start, "end": s.end,
                                    "self_s": st[s.sid]}) + "\n")


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


def _walk(node):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


class EventLog:
    """Jobs, stages, task metrics and SQL-plan metrics of one application,
    read from its event log directory (or a plain events file)."""

    def __init__(self, path: str):
        files = (sorted(glob.glob(os.path.join(path, "events_*")),
                        key=lambda p: int(os.path.basename(p).split("_")[1]))
                 if os.path.isdir(path) else [path])
        self.jobs: dict[int, dict] = {}
        self.stage_tasks: dict[int, dict] = {}
        self.accum: dict[int, float] = {}
        self.plans: dict[int, dict] = {}
        for f in files:
            with open(f) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "exec": int(props["spark.sql.execution.id"])
                if "spark.sql.execution.id" in props else None,
                "start": e["Submission Time"] / 1000.0, "end": None,
                "stages": list(e["Stage IDs"])}
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            self.plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for aid, val in e["accumUpdates"]:
                self.accum[aid] = self.accum.get(aid, 0) + val

    def _task(self, e: dict) -> None:
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        st = self.stage_tasks.setdefault(e["Stage ID"], {
            "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_write_bytes": 0, "shuffle_write_ns": 0,
            "fetch_wait_ms": 0, "spill_bytes": 0, "input_bytes": 0})
        st["tasks"] += 1
        st["run_ms"] += m.get("Executor Run Time", 0)
        st["cpu_ns"] += m.get("Executor CPU Time", 0)
        st["gc_ms"] += m.get("JVM GC Time", 0)
        st["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0))
        sw = m.get("Shuffle Write Metrics") or {}
        st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        st["shuffle_write_ns"] += sw.get("Shuffle Write Time", 0)
        st["fetch_wait_ms"] += (m.get("Shuffle Read Metrics") or {}).get(
            "Fetch Wait Time", 0)
        st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        for a in info.get("Accumulables", []):
            if a.get("Metadata") != "sql":
                continue
            self.accum[a["ID"]] = self.accum.get(a["ID"], 0) + float(a["Update"])

    # -- queries ------------------------------------------------------------

    def jobs_in(self, groups: set[str]) -> dict[int, dict]:
        return {j: v for j, v in self.jobs.items() if v["group"] in groups}

    def nodes_in(self, groups: set[str]):
        """Every plan node of the SQL executions run by jobs in ``groups``."""
        execs = {v["exec"] for v in self.jobs_in(groups).values()
                 if v["exec"] is not None}
        for ex in sorted(execs):
            if ex in self.plans:
                yield from _walk(self.plans[ex])

    def metric(self, node: dict, name: str, seen: set | None = None) -> float:
        """Summed value of a node's SQL metric, timings in seconds (0 when
        absent). Accumulators already in ``seen`` count 0, so a cached
        plan that appears under several executions is counted once."""
        for m in node.get("metrics", []):
            if m["name"] != name:
                continue
            aid = m["accumulatorId"]
            if seen is not None:
                if aid in seen:
                    return 0
                seen.add(aid)
            val = self.accum.get(aid, 0)
            return val * _TIME_SCALE.get(m.get("metricType"), 1)
        return 0

    def has_metric(self, node: dict, name: str) -> bool:
        return any(m["name"] == name for m in node.get("metrics", []))


_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


_KEYS = re.compile(r"hashpartitioning\((.*)\)")


def partition_keys(exchange: dict) -> list[str]:
    """Column names (without expression ids) an Exchange hashes on."""
    m = _KEYS.search(exchange.get("simpleString", ""))
    if not m:
        return []
    return re.findall(r"([A-Za-z_][A-Za-z_0-9]*)#\d+", m.group(1))
