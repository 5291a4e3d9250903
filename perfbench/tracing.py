"""Tracing for the benchmark's traced runs: spans recorded around each call
into the program, an eager-checkpoint counter, and an offline reader of
Spark's (uncompressed) event log that attributes every job to the span
whose interval covers its submission time."""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass, field

#: per-op metrics derived from the event log, in output order
OP_METRICS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("in_job_s", "s"),
    ("driver_gap_s", "s"),
    ("executor_cpu_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("gc_s", "s"),
)


@dataclass
class Span:
    name: str  # op or set-up step, e.g. "pagerank" or "catalog.artifact_build"
    start_ms: float
    end_ms: float = 0.0


@dataclass
class Tracer:
    """Span recorder. Inert unless ``enabled``: untraced runs pay one
    attribute test per span."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    checkpoints: list[tuple[float, float]] = field(default_factory=list)

    def begin(self, sc, name: str) -> Span | None:
        if not self.enabled:
            return None
        # the group tags jobs submitted from this thread; jobs inside the
        # span that carry another group were submitted from other threads
        sc.setJobGroup(name, name)
        span = Span(name, time.time() * 1000.0)
        self.spans.append(span)
        return span

    def end(self, span: Span | None) -> None:
        if span is not None:
            span.end_ms = time.time() * 1000.0

    def count_checkpoints(self) -> None:
        """Wrap ``DataFrame.localCheckpoint``/``checkpoint`` so every eager
        call records its interval, wherever in the program it is made."""
        from pyspark.sql.classic.dataframe import DataFrame

        for meth in ("localCheckpoint", "checkpoint"):
            orig = getattr(DataFrame, meth)

            def wrapped(df, eager=True, *a, _orig=orig, **kw):
                t0 = time.time() * 1000.0
                out = _orig(df, eager, *a, **kw)
                if eager:
                    self.checkpoints.append((t0, time.time() * 1000.0))
                return out

            setattr(DataFrame, meth, wrapped)

    def checkpoints_in(self, span: Span) -> tuple[int, float]:
        inside = [(a, b) for a, b in self.checkpoints if span.start_ms <= a < span.end_ms]
        return len(inside), sum(b - a for a, b in inside) / 1000.0


@dataclass
class Job:
    submit_ms: float
    end_ms: float
    group: str
    stages: set = field(default_factory=set)


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, dict]]:
    """(jobs by id, per-stage task totals) from the single application log
    under ``log_dir``."""
    (path,) = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".crc")]
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Submission Time"], ev["Submission Time"],
                          props.get("spark.jobGroup.id") or "")
                jobs[ev["Job ID"]] = job
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                st = stages.setdefault(
                    ev["Stage ID"],
                    {"tasks": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_bytes": 0,
                     "shuffle_records": 0},
                )
                st["tasks"] += 1
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                st["shuffle_records"] += sw.get("Shuffle Records Written", 0)
    for sid, jid in stage_job.items():
        if sid in stages and jid in jobs:
            jobs[jid].stages.add(sid)
    return jobs, stages


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute(span: Span, jobs: dict[int, Job], stages: dict[int, dict]) -> dict:
    """Event-log figures of the jobs submitted inside ``span``. ``in_job_s``
    is the union of their intervals clipped to the span, so ``in_job_s +
    driver_gap_s`` is the span's wall time."""
    mine = [j for j in jobs.values() if span.start_ms <= j.submit_ms < span.end_ms]
    sts = [stages[s] for j in mine for s in j.stages]
    in_job = _union_ms(
        [(j.submit_ms, min(max(j.end_ms, j.submit_ms), span.end_ms)) for j in mine]
    ) / 1000.0
    wall = (span.end_ms - span.start_ms) / 1000.0
    return {
        "jobs": len(mine),
        "stages": len(sts),
        "tasks": sum(s["tasks"] for s in sts),
        "in_job_s": in_job,
        "driver_gap_s": wall - in_job,
        "executor_cpu_s": sum(s["cpu_ns"] for s in sts) / 1e9,
        "shuffle_write_mb": sum(s["shuffle_bytes"] for s in sts) / 2**20,
        "gc_s": sum(s["gc_ms"] for s in sts) / 1000.0,
        "shuffle_records": sum(s["shuffle_records"] for s in sts),
        "untagged_jobs": sum(1 for j in mine if j.group != span.name),
    }
