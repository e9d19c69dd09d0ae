"""Spans around the benchmark's calls into each layer, and the Spark
event-log reader that attributes jobs and task metrics to them.

A span records its layer, operation, parent span and wall-clock interval.
While a span is open its id is the Spark job group, so every job it
submits carries the id into the event log. A job with no matching group
falls to the innermost span whose interval holds its submission time.
Spans stay in memory; the event log is read with the stdlib after the
session stops.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field

LAYERS = ("session", "sources", "encoders", "whitening", "searcher", "knn",
          "ann", "incremental")

#: (metric, unit, better) recorded for every layer
LAYER_METRICS = (
    ("wall_s", "s", "lower"),
    ("driver_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("executor_run_s", "s", "lower"),
    ("executor_cpu_s", "s", "lower"),
    ("shuffle_read_mb", "MB", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("gc_s", "s", "lower"),
    ("failed_tasks", "count", "lower"),
)

#: layer-specific metrics: (name, unit, better)
EXTRA_METRICS = (
    ("searcher.search_build_s", "s", "lower"),
    ("searcher.search_exec_s", "s", "lower"),
    ("encoders.rows_per_s", "1/s", "higher"),
    ("knn.pairs_per_s", "1/s", "higher"),
    ("incremental.state_bytes_per_vec", "B", "lower"),
    ("trace.overhead", "ratio", "lower"),
)

GROUP_PREFIX = "perfbench-"
MB = float(1 << 20)


def per_layer_names() -> list[tuple[str, str, str]]:
    return ([(f"{layer}.{m}", unit, better) for layer in LAYERS
             for m, unit, better in LAYER_METRICS] + list(EXTRA_METRICS))


@dataclass
class Span:
    id: int
    layer: str
    op: str
    parent: "Span | None"
    start: float
    end: float = 0.0
    #: the interval's sub-spans, for self time
    children: list = field(default_factory=list)


class Tracer:
    """Opens spans and sets the job group for each; disabled, ``span`` only
    yields, so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, sc) -> None:
        self._sc = sc

    @contextlib.contextmanager
    def span(self, layer: str, op: str):
        if not self.enabled:
            yield None
            return
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), layer, op, parent, time.time())
        self.spans.append(sp)
        if parent is not None:
            parent.children.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, sp: "Span | None") -> None:
        if self._sc is None:
            return
        group = None if sp is None else f"{GROUP_PREFIX}{sp.id}"
        self._sc.setLocalProperty("spark.jobGroup.id", group)
        self._sc.setLocalProperty(
            "spark.job.description",
            None if sp is None else f"{sp.layer}.{sp.op}")


@contextlib.contextmanager
def instrument(tracer: Tracer, owner, attr: str, layer: str):
    """Wrap ``owner.attr`` (a function or method the benchmark's calls
    reach inside the package) in a span for the duration of the block."""
    original = vars(owner)[attr]
    func = original

    def wrapped(*args, **kwargs):
        with tracer.span(layer, attr):
            return func(*args, **kwargs)

    wrapped.__wrapped__ = func
    setattr(owner, attr, wrapped)
    try:
        yield
    finally:
        setattr(owner, attr, original)


# -- event log ---------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def enable_event_log(jvm, log_dir: str, on: bool = True) -> None:
    """Turn the event log on (or off) for the NEXT SparkContext of this
    JVM: a new SparkConf loads ``spark.*`` JVM system properties, so the
    package's session factory needs no extra option."""
    system = jvm.java.lang.System
    conf = dict(EVENT_LOG_CONF, **{"spark.eventLog.dir": "file://" + log_dir})
    for key, value in conf.items():
        if on:
            system.setProperty(key, value)
        else:
            system.clearProperty(key)


@dataclass
class Job:
    id: int
    group: "str | None"
    submit: float
    end: float = 0.0
    stages: list = field(default_factory=list)
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


def read_event_log(log_dir: str) -> dict[int, Job]:
    """Jobs with their task metrics from every uncompressed event log
    under ``log_dir``. A stage belongs to the first job that lists it:
    later jobs list a reused shuffle stage but skip it."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"),
                                 recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                              ev["Submission Time"] / 1000.0,
                              stages=list(ev.get("Stage IDs", [])))
                    jobs[job.id] = job
                    for sid in job.stages:
                        stage_job.setdefault(sid, job.id)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if job is not None:
                        _add_task(job, ev)
    return jobs


def _add_task(job: Job, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    job.tasks += 1
    job.failed_tasks += bool(info.get("Failed"))
    m = ev.get("Task Metrics") or {}
    job.run_s += m.get("Executor Run Time", 0) / 1000.0
    job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    job.gc_s += m.get("JVM GC Time", 0) / 1000.0
    job.spill += m.get("Disk Bytes Spilled", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    job.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    job.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)


def attribute(spans: list[Span], jobs: dict[int, Job]) -> dict[int, list[Job]]:
    """Span id → its jobs: by job group, else by the innermost span open
    at the job's submission time. Jobs outside every span are dropped."""
    by_span: dict[int, list[Job]] = {sp.id: [] for sp in spans}
    for job in jobs.values():
        sid = None
        if job.group and job.group.startswith(GROUP_PREFIX):
            sid = int(job.group[len(GROUP_PREFIX):])
        if sid is None or sid not in by_span:
            inner = [sp for sp in spans if sp.start <= job.submit <= sp.end]
            if not inner:
                continue
            sid = max(inner, key=lambda sp: sp.start).id
        by_span[sid].append(job)
    return by_span


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def _clip(intervals, lo: float, hi: float):
    return [(max(a, lo), min(b, hi)) for a, b in intervals
            if min(b, hi) > max(a, lo)]


def _minus(base: list[tuple[float, float]], cut: list[tuple[float, float]]):
    """``base`` intervals with the ``cut`` intervals removed."""
    out = []
    for a, b in base:
        pieces = [(a, b)]
        for c, d in cut:
            pieces = [p for x, y in pieces for p in
                      ([(x, min(y, c))] if min(y, c) > x else [])
                      + ([(max(x, d), y)] if y > max(x, d) else [])]
        out += pieces
    return out


def layer_metrics(spans: list[Span], jobs: dict[int, Job]) -> dict[str, float]:
    """``<layer>.<metric>`` totals over every span of each layer.

    ``wall_s`` counts a layer's outermost spans (a span nested in one of
    its own layer is not counted twice). ``driver_s`` is each span's self
    time (its interval minus its child spans) minus the part of that
    self time during which one of its own jobs ran. Job counts and task
    metrics belong to the span the job is attributed to."""
    out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m, _, _ in LAYER_METRICS}
    by_span = attribute(spans, jobs)
    for sp in spans:
        pre = f"{sp.layer}."
        anc = sp.parent
        while anc is not None and anc.layer != sp.layer:
            anc = anc.parent
        if anc is None:
            out[pre + "wall_s"] += sp.end - sp.start
        own = by_span[sp.id]
        self_iv = _minus([(sp.start, sp.end)],
                         _union([(c.start, c.end) for c in sp.children]))
        busy = _union([(j.submit, j.end or sp.end) for j in own])
        busy_self = sum(_length(_clip(busy, a, b)) for a, b in self_iv)
        out[pre + "driver_s"] += _length(self_iv) - busy_self
        for j in own:
            out[pre + "jobs"] += 1
            out[pre + "tasks"] += j.tasks
            out[pre + "failed_tasks"] += j.failed_tasks
            out[pre + "executor_run_s"] += j.run_s
            out[pre + "executor_cpu_s"] += j.cpu_s
            out[pre + "gc_s"] += j.gc_s
            out[pre + "shuffle_read_mb"] += j.shuffle_read / MB
            out[pre + "shuffle_write_mb"] += j.shuffle_write / MB
            out[pre + "spill_mb"] += j.spill / MB
    return out
