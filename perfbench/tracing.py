"""Spans kept in memory, and the Spark event log read back per span.

A span is one benchmark call (set-up, a job, a probe), a crawl round
rebuilt from the round meta, or a Spark job from the event log. Spans of
one run share its workload id and are written out once, at the end.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        span_id = len(self.spans)
        self.spans.append({"id": span_id, "trace": self.trace_id,
                           "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return span_id

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the enclosed block as a child of the innermost open span."""
        parent = self._stack[-1] if self._stack else None
        span_id = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(span_id)
        try:
            yield self.spans[span_id]
        finally:
            self._stack.pop()
            self.spans[span_id]["end"] = time.time()

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span_id: int) -> float:
        """Duration minus the part of it that child spans cover."""
        s = self.spans[span_id]
        covered = _union_length([(c["start"], c["end"])
                                 for c in self.children(span_id)],
                                s["start"], s["end"])
        return (s["end"] - s["start"]) - covered

    def write(self, path: str) -> None:
        """Write every span with its self time."""
        spans = [{**s, "self_s": self.self_time(s["id"])} for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, "spans": spans}, f)


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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


@contextmanager
def event_log_paused(spark):
    """Detach the session's event-log listener for the enclosed block, so a
    job run in it costs what it costs in an untraced run. The log misses
    that block's events."""
    sc = spark.sparkContext._jsc.sc()
    bus, logger = sc.listenerBus(), sc.eventLogger().get()
    bus.removeListener(logger)
    try:
        yield
    finally:
        bus.addToEventLogQueue(logger)


class EventLog:
    """Jobs, stages and task metrics parsed from a Spark event log file."""

    def __init__(self, log_dir: str) -> None:
        files = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if not p.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}: {files}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    self.jobs[jid] = {"submit": ev["Submission Time"] / 1e3,
                                      "end": None, "stages": ev["Stage IDs"]}
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = self._stage(info["Stage ID"])
                    st["submit"] = info.get("Submission Time", 0) / 1e3
                    st["end"] = info.get("Completion Time", 0) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    st = self._stage(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    st["spill"] += (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0))
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}
                                            ).get("Shuffle Bytes Written", 0)
        for sid, st in self.stages.items():
            st["job"] = stage_job.get(sid)

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {
            "submit": 0.0, "end": 0.0, "tasks": 0, "run_s": 0.0,
            "cpu_s": 0.0, "gc_s": 0.0, "spill": 0, "shuffle_write": 0})

    def window(self, start: float, end: float) -> dict:
        """Totals over the Spark jobs submitted within [start, end]."""
        jids = {j for j, job in self.jobs.items() if start <= job["submit"] <= end}
        stages = [st for st in self.stages.values() if st["job"] in jids]
        out = {"jobs": len(jids), "tasks": sum(s["tasks"] for s in stages)}
        for k in ("run_s", "cpu_s", "gc_s", "spill", "shuffle_write"):
            out[k] = sum(s[k] for s in stages)
        out["stages"] = stages
        out["job_spans"] = [(j, self.jobs[j]["submit"], self.jobs[j]["end"]
                             or self.jobs[j]["submit"]) for j in sorted(jids)]
        return out


def slot_idle_share(stages: list[dict], cores: int) -> float:
    """1 - task run time / (cores x stage wall) for the stage with the most
    task time: how much of the heaviest stage's slot capacity sat idle."""
    heavy = max(stages, key=lambda s: s["run_s"], default=None)
    if heavy is None or heavy["end"] <= heavy["submit"]:
        return 0.0
    return 1.0 - heavy["run_s"] / (cores * (heavy["end"] - heavy["submit"]))


def event_log_layers(evlog: EventLog, job_spans: list[dict], tracer: Tracer,
                     cores: int, rounds: int) -> dict:
    """Event-log figures per timed job; adds each Spark job as a child span
    of the timed job that submitted it."""
    per_job = [evlog.window(s["start"], s["end"]) for s in job_spans]
    for s, w in zip(job_spans, per_job):
        for jid, a, b in w["job_spans"]:
            tracer.add(f"spark job {jid}", a, b, s["id"])
    mean = lambda k: sum(w[k] for w in per_job) / len(per_job)  # noqa: E731
    out = {
        "spark.shuffle_write_bytes": mean("shuffle_write"),
        "spark.spill_bytes": mean("spill"),
        "spark.executor_cpu_s": mean("cpu_s"),
        "spark.gc_s": mean("gc_s"),
        "spark.slot_idle_share": slot_idle_share(per_job[0]["stages"], cores),
    }
    if rounds:
        out["spark.jobs_per_round"] = mean("jobs") / rounds
        out["spark.tasks_per_round"] = mean("tasks") / rounds
    return out
