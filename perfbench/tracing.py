"""Benchmark-side tracing: a span around every call the benchmark makes
into an engine layer, plus Spark job and stage counters per span.

Spans stay in memory and are reduced at the end of the run. Each span
records its layer, name, start, end, parent and request id. A span's
self time is its duration minus the part of it that its child spans
cover. Spark work is attributed to top-level spans: each top-level
span tags the jobs its thread submits with ``bench-<span id>``, and the
status store records the tag. Jobs from threads the engine starts
(``search_many``'s pool) carry no tag; each goes to the top-level span
open at its submission time, as the benchmark is a single closed-loop
client.
"""

from __future__ import annotations

import bisect
import contextlib
import itertools
import re
import threading
import time
from dataclasses import dataclass, field

# The engine layers this benchmark measures (package modules).
LAYERS = ("session", "sources", "analysis", "functions", "index", "search", "streaming")

# Job tag of a top-level span: TAG_PREFIX + span id.
TAG_PREFIX = "bench-"

# The same node patterns as scripts/plan_audit.py.
EXCHANGE = re.compile(r"\bExchange\b")
PYTHON = re.compile(r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas)\b")


@dataclass
class Span:
    sid: int
    parent: int | None
    rid: int
    layer: str
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
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
    """Span id -> duration minus the union of its children, clipped to
    the span's own interval."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        inner = [(max(a, s.start), min(b, s.end)) for a, b in kids.get(s.sid, [])]
        out[s.sid] = s.duration - union_length([(a, b) for a, b in inner if b > a])
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.sid]
    return out


def coverage(spans: list[Span], start: float, end: float) -> float:
    """Share of ``[start, end]`` covered by top-level spans."""
    tops = [
        (max(s.start, start), min(s.end, end))
        for s in spans
        if s.parent is None and s.end > start and s.start < end
    ]
    return union_length(tops) / (end - start) if end > start else 0.0


class Tracer:
    """Records spans when enabled; a disabled tracer costs one context
    manager per call and records nothing."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        # perf_counter -> epoch milliseconds, to match Spark job times
        self._epoch0 = time.time()
        self._pc0 = time.perf_counter()

    def epoch_ms(self, pc: float) -> float:
        return (self._epoch0 + (pc - self._pc0)) * 1000.0

    @contextlib.contextmanager
    def span(self, layer: str, name: str, rid: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sp = Span(
            sid=next(self._ids),
            parent=parent.sid if parent else None,
            rid=rid if rid is not None else (parent.rid if parent else 0),
            layer=layer,
            name=name,
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        tag = f"{TAG_PREFIX}{sp.sid}" if parent is None and self.spark is not None else None
        if tag:
            self.spark.sparkContext.addJobTag(tag)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if tag:
                self.spark.sparkContext.removeJobTag(tag)
            self.spans.append(sp)

    def span_cost_s(self, n: int = 200) -> float:
        """Mean Spark driver time one top-level span adds (its bookkeeping and
        the two job-tag calls), from ``n`` empty spans that are then
        dropped."""
        keep = len(self.spans)
        t0 = time.perf_counter()
        for _ in range(n):
            with self.span("trace", "probe"):
                pass
        cost = (time.perf_counter() - t0) / n
        del self.spans[keep:]
        return cost

    def find(self, layer: str, name: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer and s.name == name]


# ------------------------------------------------------------ Spark counters
STAGE_FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "input_rows",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
)


def _jvm_sc(spark):
    return spark.sparkContext._jsc.sc()


def drain_listener(spark) -> None:
    """Wait until the status store has seen every finished job."""
    _jvm_sc(spark).listenerBus().waitUntilEmpty()


def spark_jobs(spark) -> list[dict]:
    """Every job the status store retains, with its stages' summed task
    metrics: ``{"id", "submitted_ms", "span", "stages", **STAGE_FIELDS}``,
    where ``span`` is the id in the job's ``bench-`` tag, or None."""
    store = _jvm_sc(spark).statusStore()
    jobs = store.jobsList(None)
    out, stage_cache = [], {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub = j.submissionTime()
        if sub.isEmpty():
            continue
        tags = j.jobTags()
        span = None
        for k in range(tags.size()):
            t = tags.apply(k)
            if t.startswith(TAG_PREFIX):
                span = int(t[len(TAG_PREFIX):])
        rec = {"id": j.jobId(), "submitted_ms": float(sub.get().getTime()), "span": span, "stages": 0}
        rec.update({k: 0.0 for k in STAGE_FIELDS})
        ids = j.stageIds()
        for k in range(ids.size()):
            sid = int(ids.apply(k))
            if sid not in stage_cache:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # a skipped stage never ran: no attempt
                    stage_cache[sid] = None
                    continue
                stage_cache[sid] = {
                    "tasks": sd.numCompleteTasks(),
                    "executor_run_s": sd.executorRunTime() / 1e3,
                    "executor_cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "input_bytes": sd.inputBytes(),
                    "input_rows": sd.inputRecords(),
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                }
            st = stage_cache[sid]
            if st is None or st["tasks"] == 0:
                continue
            rec["stages"] += 1
            for f in STAGE_FIELDS:
                rec[f] += st[f]
        out.append(rec)
    return out


def attribute_jobs(tracer: Tracer, jobs: list[dict]) -> None:
    """Add each job's counters to one top-level span: the span its tag
    names, else the top-level span open at its submission time, if any.
    Sets ``span.attrs["spark"]`` on every top-level span (so a span's
    counters include its children's)."""
    tops = sorted((s for s in tracer.spans if s.parent is None), key=lambda s: s.start)
    by_sid = {s.sid: s for s in tops}
    starts = [tracer.epoch_ms(s.start) for s in tops]
    for s in tops:
        s.attrs["spark"] = {"jobs": 0, "stages": 0, **{k: 0.0 for k in STAGE_FIELDS}}
    for j in jobs:
        s = by_sid.get(j["span"])
        if s is None:
            i = bisect.bisect_right(starts, j["submitted_ms"]) - 1
            if i < 0 or j["submitted_ms"] >= tracer.epoch_ms(tops[i].end):
                continue
            s = tops[i]
        acc = s.attrs["spark"]
        acc["jobs"] += 1
        acc["stages"] += j["stages"]
        for f in STAGE_FIELDS:
            acc[f] += j[f]


def plan_counts(df) -> tuple[int, int]:
    """(Exchange nodes, Python nodes) in a DataFrame's executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(EXCHANGE.findall(plan)), len(PYTHON.findall(plan))
