"""Benchmark-side tracing: spans around calls into the program's modules,
plus a reader for Spark's local event log that attributes jobs to spans.

Nothing here edits the program. :class:`Tracer` swaps chosen public
functions for timing wrappers in every loaded module that holds a
reference to them, and restores the originals on :meth:`Tracer.close`.
Spans live in memory and are analysed once the traced run ends.
"""

from __future__ import annotations

import importlib
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

PACKAGE = "iatlas_cbioportal_export_spark"

# Span name -> the functions it wraps (module path, attribute).
WRAPPED = {
    "sources.read": [
        (f"{PACKAGE}.sources.readers", "read_tsv"),
        (f"{PACKAGE}.sources.readers", "read_maf_folder"),
        (f"{PACKAGE}.sources.readers", "read_tsv_skip_cbioportal_header"),
    ],
    "sources.write": [
        (f"{PACKAGE}.sources.sinks", "write_tsv"),
        (f"{PACKAGE}.sources.sinks", "write_chunked_tsv"),
        (f"{PACKAGE}.sources.sinks", "write_cbioportal_clinical"),
        (f"{PACKAGE}.sources.sinks", "write_single_tsv"),
    ],
    "plans.write_study_bundle": [(f"{PACKAGE}.plans.bundle", "write_study_bundle")],
    "plans.write_load_stage_case_lists": [
        (f"{PACKAGE}.plans.bundle", "write_load_stage_case_lists")
    ],
    "operators.validation.findings_union": [
        (f"{PACKAGE}.operators.validation", "findings_union")
    ],
}


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run: int
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans. ``top`` spans (one per CLI command or query) tag
    their Spark jobs with a job group. A span opened on a thread that
    carries no span of its own (the bundle writer's thread pool) is
    parented to the innermost open span of the thread that opened the top
    span."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.run = 0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._top: Span | None = None
        self._top_stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.annotated_rows = None  # Spark accumulator, set by install()

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, top: bool = False, **attrs) -> Span:
        stack = self._stack()
        parent = (stack or self._top_stack or [None])[-1]
        span = Span(next(self._ids), name, time.time(), 0.0,
                    parent.id if parent else None, self.run, attrs)
        stack.append(span)
        if top:
            self._top, self._top_stack = span, stack
            self.spark.sparkContext.setJobGroup(f"perfbench-span-{span.id}", name)
        return span

    def close_span(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        if span is self._top:
            self._top, self._top_stack = None, []
            self.spark.sparkContext.setJobGroup("perfbench-idle", "")
        self.spans.append(span)

    def call(self, name: str, fn, *args, top: bool = False, attrs=None, **kwargs):
        span = self.open(name, top=top, **(attrs or {}))
        try:
            return fn(*args, **kwargs)
        finally:
            self.close_span(span)

    # -- wrappers ----------------------------------------------------------
    def install(self) -> None:
        """Wrap every function in :data:`WRAPPED` wherever the program
        holds a reference to it, and count the rows the MAF annotator is
        fed with an accumulator (the wrapper runs in the Python workers)."""
        for span_name, targets in WRAPPED.items():
            for module_name, attr in targets:
                original = getattr(importlib.import_module(module_name), attr)
                self._replace(original, self._wrapper(span_name, original))
        maf = importlib.import_module(f"{PACKAGE}.operators.maf")
        self.annotated_rows = self.spark.sparkContext.accumulator(0)
        self._replace(maf.fake_annotator, _counting_annotator(maf.fake_annotator, self.annotated_rows))

    def _wrapper(self, span_name: str, original):
        tracer = self

        def traced(*args, **kwargs):
            return tracer.call(span_name, original, *args, **kwargs)

        traced.__wrapped__ = original
        return traced

    def _replace(self, original, replacement) -> None:
        for module in list(sys.modules.values()):
            name = getattr(module, "__name__", "")
            if not (name.startswith(PACKAGE) or name == "__spark_entry__"):
                continue
            for attr, value in list(vars(module).items()):
                if value is original:
                    setattr(module, attr, replacement)
                    self._patches.append((module, attr, original))

    def close(self) -> None:
        for module, attr, original in reversed(self._patches):
            setattr(module, attr, original)
        self._patches.clear()


def _counting_annotator(annotator, counter):
    def counted(batch):
        counter.add(len(batch))
        return annotator(batch)

    return counted


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

# Event-log accumulable -> job metric. Spark records the two timings in ms.
PY_METRICS = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "time to run Python workers": "py_run",
    "time to initialize Python workers": "py_init",
}


@dataclass
class Job:
    id: int
    group: str | None
    execution: str | None  # root SQL execution id: one per DataFrame action
    submitted: float  # epoch seconds
    completed: float = 0.0
    stages: list[int] = field(default_factory=list)
    metrics: dict = field(default_factory=lambda: defaultdict(float))


def read_event_log(path: str) -> dict[int, Job]:
    """Parse an uncompressed event log into jobs with per-job sums of their
    tasks' metrics: ``stages`` (completed), ``tasks``, ``executor_run_s``,
    ``input_bytes``, ``output_bytes``, ``shuffle_write_bytes``,
    ``spill_bytes`` and the Python-worker metrics of :data:`PY_METRICS`."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            event = json.loads(line)
            kind = event["Event"]
            if kind == "SparkListenerJobStart":
                props = event.get("Properties") or {}
                job = Job(event["Job ID"], props.get("spark.jobGroup.id"),
                          props.get("spark.sql.execution.root.id"),
                          event["Submission Time"] / 1000.0, stages=list(event["Stage IDs"]))
                jobs[job.id] = job
                for sid in job.stages:
                    stage_job.setdefault(sid, job.id)
            elif kind == "SparkListenerJobEnd":
                jobs[event["Job ID"]].completed = event["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                sid = event["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    jobs[stage_job[sid]].metrics["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = event["Stage ID"]
                if sid not in stage_job:
                    continue
                m = jobs[stage_job[sid]].metrics
                tm = event.get("Task Metrics") or {}
                m["tasks"] += 1
                m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                m["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                m["output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
                m["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in event.get("Task Info", {}).get("Accumulables", []):
                    key = PY_METRICS.get(acc.get("Name"))
                    if key is not None:
                        m[key] += float(acc.get("Update") or 0)
    return jobs


def attribute(jobs: dict[int, Job], tops: list[Span]) -> dict[int, list[Job]]:
    """Map top-span id -> its jobs. A job belongs to the span whose job
    group it carries; a job without one (submitted from a thread that never
    inherited the group) belongs to the top span open at its submission."""
    by_group = {f"perfbench-span-{s.id}": s.id for s in tops}
    ordered = sorted(tops, key=lambda s: s.start)
    out: dict[int, list[Job]] = {s.id: [] for s in tops}
    for job in jobs.values():
        owner = by_group.get(job.group or "")
        if owner is None:
            owner = next(
                (s.id for s in ordered if s.start <= job.submitted <= s.end), None
            )
        if owner is not None:
            out[owner].append(job)
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's wall minus the part of it its child spans cover."""
    return span.wall - covered([(c.start, c.end) for c in children], span.start, span.end)


def children_of(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    return kids


def descendants(span_id: int, kids: dict[int, list[Span]]) -> list[Span]:
    out, todo = [], list(kids.get(span_id, []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out
