"""Spans recorded around the benchmark's calls into each layer, and the
Spark event-log reader that attributes jobs, tasks and bytes to them.

A span is (id, name, start, end, parent, op). While a span is open its id
is the Spark local property ``perfbench.span``, so every job the call
starts carries the span id into the event log. Spans stay in memory
until the run ends; run.py's ``--detail`` record keeps them.
"""

from __future__ import annotations

import glob
import json
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """Span recorder. A disabled tracer records nothing and sets no Spark
    property, so the untraced run pays only the context-manager calls."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext if enabled else None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None
        # Catalyst phase times (ms) per probed DataFrame, filled by callers
        self.catalyst: list[dict[str, float]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._sc.setLocalProperty(
                SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None
            )


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Jobs from the Spark event log, keyed by job id: span id, submit and
    end time (epoch seconds), task count, summed task run time and the
    bytes/records the tasks read, shuffled and spilled."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    jdbc_stages: set[int] = set()
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "span": int(span) if span else None,
                        "start": ev["Submission Time"] / 1000,
                        "end": None,
                        **dict.fromkeys(_TASK_FIELDS, 0),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                    for info in ev.get("Stage Infos", []):
                        if any(
                            "JDBCRDD" in (r.get("Name") or "")
                            for r in info.get("RDD Info", [])
                        ):
                            jdbc_stages.add(info["Stage ID"])
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if jid is None or not m:
                        continue
                    job = jobs[jid]
                    job["tasks"] += 1
                    job["task_s"] += m.get("Executor Run Time", 0) / 1000
                    inp = m.get("Input Metrics", {})
                    job["input_bytes"] += inp.get("Bytes Read", 0)
                    job["shuffle_write_bytes"] += m.get(
                        "Shuffle Write Metrics", {}
                    ).get("Shuffle Bytes Written", 0)
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    if ev["Stage ID"] in jdbc_stages:
                        job["jdbc_task_s"] += m.get("Executor Run Time", 0) / 1000
                        job["jdbc_records"] += inp.get("Records Read", 0)
    return jobs


_TASK_FIELDS = (
    "tasks",
    "task_s",
    "input_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "jdbc_task_s",
    "jdbc_records",
)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SpanIndex:
    """Spans joined with the jobs they started, for per-layer sums."""

    def __init__(self, spans: list[dict], jobs: dict[int, dict]):
        self.spans = spans
        self.children: dict[int, list[int]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])
        self.direct_jobs: dict[int, list[dict]] = defaultdict(list)
        for job in jobs.values():
            if job["span"] is not None and job["end"] is not None:
                self.direct_jobs[job["span"]].append(job)

    def subtree_jobs(self, sid: int) -> list[dict]:
        out = list(self.direct_jobs[sid])
        for child in self.children[sid]:
            out += self.subtree_jobs(child)
        return out

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def named(self, name: str, ops: set[int]) -> list[int]:
        return [
            s["id"] for s in self.spans if s["name"] == name and s["op"] in ops
        ]

    def exec_stats(self, sids: list[int]) -> dict[str, float]:
        """Summed job/task statistics of the jobs under ``sids`` plus the
        driver gap: span time not covered by any of its jobs."""
        out = dict.fromkeys(("jobs", "wall_s", "gap_s") + _TASK_FIELDS, 0.0)
        for sid in sids:
            jobs = self.subtree_jobs(sid)
            out["jobs"] += len(jobs)
            out["wall_s"] += self.duration(sid)
            covered = union_seconds([(j["start"], j["end"]) for j in jobs])
            out["gap_s"] += self.duration(sid) - covered
            for f in _TASK_FIELDS:
                out[f] += sum(j[f] for j in jobs)
        return out
