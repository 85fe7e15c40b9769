"""Spans around the benchmark's calls into each layer, and the Spark
event-log parser that turns them into per-layer metrics.

Tracing lives entirely in the benchmark: a :class:`Tracer` records
``(name, start, end, counts)`` spans in memory with the wall clock, and
after the session stops, :func:`read_event_log` reads the jobs Spark
wrote to its event log. A job belongs to the span whose interval holds
its ``Submission Time``; call sites cannot be used, because DataFrame
actions record ``count at NativeMethodAccessorImpl.java:0``.

The event log is switched on from outside the program, through
``PYSPARK_SUBMIT_ARGS`` (:func:`event_log_submit_args`), uncompressed
and non-rolling, so the UI can stay off.

Each job also carries the root operator of the SQL execution that
submitted it (``CollectLimit`` for a ``df.limit(n).collect()``), read
from the execution's physical plan in the same log, so a phase can count
the jobs of one kind it submitted.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
# first operator of a physical plan, past the AdaptiveSparkPlan wrapper
_ROOT_OP = re.compile(r"^(?:\+- )?(?:\*(?:\(\d+\))? )?(\w+)", re.M)


def plan_root(plan: str) -> str:
    """Name of the root operator of a physical plan description."""
    for m in _ROOT_OP.finditer(plan):
        if m.group(1) != "AdaptiveSparkPlan":
            return m.group(1)
    return ""


def event_log_submit_args(log_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` that turn on a plain event log in ``log_dir``."""
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    return " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; spans are written out once, at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time())
        try:
            yield s.counts
        finally:
            s.end = time.time()
            self.spans.append(s)

    def as_json(self) -> str:
        return json.dumps([s.__dict__ for s in self.spans])


@dataclass
class Job:
    submitted: float  # epoch seconds
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    input_rows: int = 0
    output_mb: float = 0.0
    root_op: str = ""  # root operator of the job's SQL execution


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs from the one finished event log in ``log_dir``, with task
    metrics summed per job."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log, found {paths}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    roots: dict[str, str] = {}  # SQL execution id -> root operator
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == SQL_START:
                roots[str(ev["executionId"])] = plan_root(
                    ev.get("physicalPlanDescription", ""))
            elif kind == "SparkListenerJobStart":
                exec_id = (ev.get("Properties") or {}).get(
                    "spark.sql.execution.id")
                job = Job(ev["Submission Time"] / 1000.0,
                          root_op=roots.get(str(exec_id), ""))
                jobs[ev["Job ID"]] = job
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job.tasks += 1
                job.cpu_s += m["Executor CPU Time"] / 1e9
                job.spill_mb += m["Disk Bytes Spilled"] / MB
                job.shuffle_write_mb += (
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                )
                job.input_mb += m["Input Metrics"]["Bytes Read"] / MB
                job.input_rows += m["Input Metrics"]["Records Read"]
                job.output_mb += m["Output Metrics"]["Bytes Written"] / MB
    return sorted(jobs.values(), key=lambda j: j.submitted)


def span_jobs(span: Span, jobs: list[Job]) -> list[Job]:
    return [j for j in jobs if span.start <= j.submitted <= span.end]


def span_metrics(span: Span, jobs: list[Job]) -> dict:
    """``wall_s`` plus the job quantities of the jobs inside ``span``."""
    mine = span_jobs(span, jobs)
    return {
        "wall_s": span.end - span.start,
        "cpu_s": sum(j.cpu_s for j in mine),
        "jobs": len(mine),
        "tasks": sum(j.tasks for j in mine),
        "shuffle_write_mb": sum(j.shuffle_write_mb for j in mine),
        "spill_mb": sum(j.spill_mb for j in mine),
        "input_mb": sum(j.input_mb for j in mine),
        "input_rows": sum(j.input_rows for j in mine),
        "output_mb": sum(j.output_mb for j in mine),
        "collect_limit_jobs": sum(1 for j in mine
                                  if j.root_op == "CollectLimit"),
    }
