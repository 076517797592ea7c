"""Spans and per-call Spark counters, kept in memory and written as OTLP/JSON.

A `Tracer` times every call the benchmark makes into the package. With
`counters=True` (the traced run) each leaf span also runs its Spark work
under its own job group and, when it ends, reads from Spark's status stores:

- `jobs` and `tasks`: jobs of the group and tasks of their executed stages;
- `shuffle_write_bytes`: shuffle bytes those stages wrote;
- `python_bytes_sent`: the "data sent to Python workers" SQL metric of the
  SQL executions that ran during the span.

With `counters=False` (the untraced run) a span is just two clock reads.
"""

from __future__ import annotations

import math
import os
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = ("jobs", "tasks", "shuffle_write_bytes", "python_bytes_sent")

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE = re.compile(r"^([0-9.]+) (B|KiB|MiB|GiB|TiB)")


def parse_size_metric(text: str) -> int:
    """Bytes from a Spark size-metric string: either '12.0 KiB' or the
    'total (min, med, max ...)\\n12.0 KiB (...)' form with several tasks."""
    line = text.split("\n")[-1].strip()
    m = _SIZE.match(line)
    if not m:
        raise ValueError(f"unparsed size metric: {text!r}")
    return int(float(m.group(1)) * _UNITS[m.group(2)])


def tail_pct(n: int) -> int | None:
    """The highest of p99/p95/p90/p75/p66 with at least ten samples beyond
    it, or None when there are fewer than thirty samples."""
    for p in (99, 95, 90, 75, 66):
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def latency_stats(values: list[float]) -> tuple[float, float]:
    """(median, tail): the tail is the `tail_pct` nearest-rank percentile of
    the samples, or their maximum when there are too few for one. With 30
    samples, p66 is the 20th of them."""
    p = tail_pct(len(values))
    s = sorted(values)
    tail = s[math.ceil(p / 100 * len(s)) - 1] if p else s[-1]
    return statistics.median(s), tail


def sum_counters(tracer, prefixes: dict, per: int = 1, **match) -> dict[str, float]:
    """`<layer>.<counter>` summed over the leaf spans whose name starts with
    one of the layer's prefixes and whose attributes equal `match`, divided
    by `per` (the number of passes those spans cover)."""
    out = {}
    for layer, prefix in prefixes.items():
        spans = [s for s in tracer.spans if s.name.startswith(prefix)
                 and all(s.attrs.get(k) == v for k, v in match.items())]
        for c in COUNTERS:
            out[f"{layer}.{c}"] = sum(s.attrs.get(c, 0) for s in spans) / per
    return out


@dataclass
class Span:
    name: str
    start_ns: int
    span_id: bytes
    parent: bytes | None
    attrs: dict = field(default_factory=dict)
    end_ns: int = 0

    @property
    def seconds(self) -> float:
        return (self.end_ns - self.start_ns) / 1e9


class SparkCounters:
    """Reads job, stage and SQL metrics for one job group from Spark's
    status stores."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def executions(self) -> int:
        return self.sql.executionsCount()

    def read(self, group: str, first_execution: int) -> dict[str, int]:
        out = dict.fromkeys(COUNTERS, 0)
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                data = self.store.lastStageAttempt(stage)
                if data.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += data.numCompleteTasks()
                out["shuffle_write_bytes"] += data.shuffleWriteBytes()
        n = self.executions() - first_execution
        if n > 0:
            execs = self.sql.executionsList(first_execution, n).iterator()
            while execs.hasNext():
                ex = execs.next()
                ids = []
                metrics = ex.metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    if m.name() == "data sent to Python workers":
                        ids.append(m.accumulatorId())
                if not ids:
                    continue
                # iterate: py4j boxes small Python ints as Integer, which
                # never equals the map's Long keys in a lookup
                values = self.sql.executionMetrics(ex.executionId()).iterator()
                while values.hasNext():
                    kv = values.next()
                    if kv._1() in ids:
                        out["python_bytes_sent"] += parse_size_metric(kv._2())
        return out


class Tracer:
    """In-memory span recorder. One tracer is one trace (one workload run)."""

    def __init__(self, spark=None, *, counters: bool = False, seed: int = 0) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.trace_id = os.urandom(16)
        self.counters = SparkCounters(spark) if (spark is not None and counters) else None
        self._sc = spark.sparkContext if spark is not None else None
        self._groups = 0
        self.seed = seed
        self.counter_s = 0.0  # time spent reading counters, outside every span's own wall

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(name, 0, os.urandom(8), parent, dict(attrs))
        group = first_exec = None
        if self.counters is not None:
            self._groups += 1
            group = f"perfbench-{self._groups}"
            self._sc.setJobGroup(group, name)
            first_exec = self.counters.executions()
            sp.attrs["_group"] = group
        self._stack.append(sp)
        sp.start_ns = time.time_ns()
        try:
            yield sp
        finally:
            sp.end_ns = time.time_ns()
            self._stack.pop()
            self.spans.append(sp)
            if group is not None:
                t0 = time.perf_counter()
                sp.attrs.update(self.counters.read(group, first_exec))
                self.counter_s += time.perf_counter() - t0
                outer = self._stack[-1].attrs.get("_group") if self._stack else None
                if outer:
                    self._sc.setJobGroup(outer, self._stack[-1].name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def to_otlp(self, workload: str) -> dict:
        """One ExportTraceServiceRequest (OTLP/JSON) holding every span."""

        def attr(k, v):
            if isinstance(v, bool):
                return {"key": k, "value": {"boolValue": v}}
            if isinstance(v, int):
                return {"key": k, "value": {"intValue": str(v)}}
            if isinstance(v, float):
                return {"key": k, "value": {"doubleValue": v}}
            return {"key": k, "value": {"stringValue": str(v)}}

        spans = []
        for s in self.spans:
            span = {
                "traceId": self.trace_id.hex(),
                "spanId": s.span_id.hex(),
                "name": s.name,
                "kind": 1,
                "startTimeUnixNano": str(s.start_ns),
                "endTimeUnixNano": str(s.end_ns),
                "attributes": [attr(k, v) for k, v in sorted(s.attrs.items())
                               if not k.startswith("_")],
                "status": {"code": 1},
            }
            if s.parent:
                span["parentSpanId"] = s.parent.hex()
            spans.append(span)
        return {"resourceSpans": [{
            "resource": {"attributes": [
                attr("service.name", "perfbench"),
                attr("bench.workload", workload),
                attr("bench.seed", self.seed),
            ]},
            "scopeSpans": [{"scope": {"name": "perfbench"}, "spans": spans}],
        }]}
