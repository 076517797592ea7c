"""Deterministic OTLP input fixtures for the ingest, query, receiver, S3 and
streaming tests, built from this repository alone.

`testdata_dir()` returns the reference fixture directory where it exists;
otherwise it writes the same file set once per process (FIXTURES.md §1
shapes, seed 42, fixed base timestamps) into a temporary directory and
returns that:

- `logs.{pb,jsonl}` (81 records) and `log.json` (1 record);
- `traces.{pb,jsonl}` (19 spans) and `trace.{pb,json}` (2 spans);
- `metrics_{gauge,sum,histogram,exponential_histogram,summary,mixed}.{pb,json,jsonl}`;
- `invalid/*.json`, the negative corpus (one file per defect).

There is deliberately no `logs.json` and no `traces.json`, as in the
reference set. JSON follows the protobuf-JSON mapping (camelCase, 64-bit
integers as strings, base64 ids, enums by variant name). The pb bytes come
from `PROTO`, a field table transcribed from the opentelemetry-proto v1
`.proto` files and kept apart from `otel/wire.py`'s descriptors, so the
suite decodes protobuf that the decoder's own tables did not define.
"""

from __future__ import annotations

import atexit
import base64
import json
import os
import random
import shutil
import struct
import tempfile

REFERENCE_TESTDATA = "/root/reference/testdata"

LOG_SERVICES = (
    "frontend-proxy", "product-catalog", "cart", "kafka", "load-generator", "recommendation",
)
LOGS_BASE_NS = 1760741572254301000  # 2025-10-17T22:52:52.254301Z
TRACES_BASE_NS = 1760738064624180000  # 2025-10-17T21:54:24.624180Z
METRICS_BASE_NS = 1705327800000000000  # 2024-01-15T14:10:00Z

# ---------------------------------------------------------------------------
# Field table: message -> {field name: (number, kind, repeated)}, from
# opentelemetry-proto v1 common/resource/logs/trace/metrics .proto and the
# collector service requests.

PROTO: dict[str, dict[str, tuple[int, str, bool]]] = {
    "AnyValue": {
        "string_value": (1, "string", False),
        "bool_value": (2, "bool", False),
        "int_value": (3, "int64", False),
        "double_value": (4, "double", False),
        "array_value": (5, "msg:ArrayValue", False),
        "kvlist_value": (6, "msg:KeyValueList", False),
        "bytes_value": (7, "bytes", False),
    },
    "ArrayValue": {"values": (1, "msg:AnyValue", True)},
    "KeyValueList": {"values": (1, "msg:KeyValue", True)},
    "KeyValue": {"key": (1, "string", False), "value": (2, "msg:AnyValue", False)},
    "InstrumentationScope": {
        "name": (1, "string", False),
        "version": (2, "string", False),
        "attributes": (3, "msg:KeyValue", True),
        "dropped_attributes_count": (4, "uint32", False),
    },
    "Resource": {
        "attributes": (1, "msg:KeyValue", True),
        "dropped_attributes_count": (2, "uint32", False),
    },
    # logs
    "ExportLogsServiceRequest": {"resource_logs": (1, "msg:ResourceLogs", True)},
    "ResourceLogs": {
        "resource": (1, "msg:Resource", False),
        "scope_logs": (2, "msg:ScopeLogs", True),
        "schema_url": (3, "string", False),
    },
    "ScopeLogs": {
        "scope": (1, "msg:InstrumentationScope", False),
        "log_records": (2, "msg:LogRecord", True),
        "schema_url": (3, "string", False),
    },
    "LogRecord": {
        "time_unix_nano": (1, "fixed64", False),
        "severity_number": (2, "enum:SeverityNumber", False),
        "severity_text": (3, "string", False),
        "body": (5, "msg:AnyValue", False),
        "attributes": (6, "msg:KeyValue", True),
        "dropped_attributes_count": (7, "uint32", False),
        "flags": (8, "fixed32", False),
        "trace_id": (9, "bytes", False),
        "span_id": (10, "bytes", False),
        "observed_time_unix_nano": (11, "fixed64", False),
        "event_name": (12, "string", False),
    },
    # traces
    "ExportTraceServiceRequest": {"resource_spans": (1, "msg:ResourceSpans", True)},
    "ResourceSpans": {
        "resource": (1, "msg:Resource", False),
        "scope_spans": (2, "msg:ScopeSpans", True),
        "schema_url": (3, "string", False),
    },
    "ScopeSpans": {
        "scope": (1, "msg:InstrumentationScope", False),
        "spans": (2, "msg:Span", True),
        "schema_url": (3, "string", False),
    },
    "Span": {
        "trace_id": (1, "bytes", False),
        "span_id": (2, "bytes", False),
        "trace_state": (3, "string", False),
        "parent_span_id": (4, "bytes", False),
        "name": (5, "string", False),
        "kind": (6, "enum:SpanKind", False),
        "start_time_unix_nano": (7, "fixed64", False),
        "end_time_unix_nano": (8, "fixed64", False),
        "attributes": (9, "msg:KeyValue", True),
        "dropped_attributes_count": (10, "uint32", False),
        "events": (11, "msg:Span.Event", True),
        "dropped_events_count": (12, "uint32", False),
        "links": (13, "msg:Span.Link", True),
        "dropped_links_count": (14, "uint32", False),
        "status": (15, "msg:Status", False),
        "flags": (16, "fixed32", False),
    },
    "Span.Event": {
        "time_unix_nano": (1, "fixed64", False),
        "name": (2, "string", False),
        "attributes": (3, "msg:KeyValue", True),
        "dropped_attributes_count": (4, "uint32", False),
    },
    "Span.Link": {
        "trace_id": (1, "bytes", False),
        "span_id": (2, "bytes", False),
        "trace_state": (3, "string", False),
        "attributes": (4, "msg:KeyValue", True),
        "dropped_attributes_count": (5, "uint32", False),
        "flags": (6, "fixed32", False),
    },
    "Status": {"message": (2, "string", False), "code": (3, "enum:StatusCode", False)},
    # metrics
    "ExportMetricsServiceRequest": {"resource_metrics": (1, "msg:ResourceMetrics", True)},
    "ResourceMetrics": {
        "resource": (1, "msg:Resource", False),
        "scope_metrics": (2, "msg:ScopeMetrics", True),
        "schema_url": (3, "string", False),
    },
    "ScopeMetrics": {
        "scope": (1, "msg:InstrumentationScope", False),
        "metrics": (2, "msg:Metric", True),
        "schema_url": (3, "string", False),
    },
    "Metric": {
        "name": (1, "string", False),
        "description": (2, "string", False),
        "unit": (3, "string", False),
        "gauge": (5, "msg:Gauge", False),
        "sum": (7, "msg:Sum", False),
        "histogram": (9, "msg:Histogram", False),
        "exponential_histogram": (10, "msg:ExponentialHistogram", False),
        "summary": (11, "msg:Summary", False),
        "metadata": (12, "msg:KeyValue", True),
    },
    "Gauge": {"data_points": (1, "msg:NumberDataPoint", True)},
    "Sum": {
        "data_points": (1, "msg:NumberDataPoint", True),
        "aggregation_temporality": (2, "enum:AggregationTemporality", False),
        "is_monotonic": (3, "bool", False),
    },
    "Histogram": {
        "data_points": (1, "msg:HistogramDataPoint", True),
        "aggregation_temporality": (2, "enum:AggregationTemporality", False),
    },
    "ExponentialHistogram": {
        "data_points": (1, "msg:ExponentialHistogramDataPoint", True),
        "aggregation_temporality": (2, "enum:AggregationTemporality", False),
    },
    "Summary": {"data_points": (1, "msg:SummaryDataPoint", True)},
    "NumberDataPoint": {
        "start_time_unix_nano": (2, "fixed64", False),
        "time_unix_nano": (3, "fixed64", False),
        "as_double": (4, "double", False),
        "as_int": (6, "sfixed64", False),
        "attributes": (7, "msg:KeyValue", True),
        "flags": (8, "uint32", False),
    },
    "HistogramDataPoint": {
        "start_time_unix_nano": (2, "fixed64", False),
        "time_unix_nano": (3, "fixed64", False),
        "count": (4, "fixed64", False),
        "sum": (5, "double", False),
        "bucket_counts": (6, "fixed64", True),
        "explicit_bounds": (7, "double", True),
        "attributes": (9, "msg:KeyValue", True),
        "flags": (10, "uint32", False),
        "min": (11, "double", False),
        "max": (12, "double", False),
    },
    "ExponentialHistogramDataPoint": {
        "attributes": (1, "msg:KeyValue", True),
        "start_time_unix_nano": (2, "fixed64", False),
        "time_unix_nano": (3, "fixed64", False),
        "count": (4, "fixed64", False),
        "sum": (5, "double", False),
        "scale": (6, "sint32", False),
        "zero_count": (7, "fixed64", False),
        "positive": (8, "msg:ExponentialHistogramDataPoint.Buckets", False),
        "negative": (9, "msg:ExponentialHistogramDataPoint.Buckets", False),
        "flags": (10, "uint32", False),
        "min": (12, "double", False),
        "max": (13, "double", False),
        "zero_threshold": (14, "double", False),
    },
    "ExponentialHistogramDataPoint.Buckets": {
        "offset": (1, "sint32", False),
        "bucket_counts": (2, "uint64", True),
    },
    "SummaryDataPoint": {
        "start_time_unix_nano": (2, "fixed64", False),
        "time_unix_nano": (3, "fixed64", False),
        "count": (4, "fixed64", False),
        "sum": (5, "double", False),
        "quantile_values": (6, "msg:SummaryDataPoint.ValueAtQuantile", True),
        "attributes": (7, "msg:KeyValue", True),
        "flags": (8, "uint32", False),
    },
    "SummaryDataPoint.ValueAtQuantile": {
        "quantile": (1, "double", False),
        "value": (2, "double", False),
    },
}

ENUMS = {
    "SeverityNumber": {9: "SEVERITY_NUMBER_INFO"},
    "SpanKind": {
        0: "SPAN_KIND_UNSPECIFIED", 1: "SPAN_KIND_INTERNAL", 2: "SPAN_KIND_SERVER",
        3: "SPAN_KIND_CLIENT", 4: "SPAN_KIND_PRODUCER", 5: "SPAN_KIND_CONSUMER",
    },
    "StatusCode": {0: "STATUS_CODE_UNSET", 1: "STATUS_CODE_OK", 2: "STATUS_CODE_ERROR"},
    "AggregationTemporality": {
        0: "AGGREGATION_TEMPORALITY_UNSPECIFIED",
        1: "AGGREGATION_TEMPORALITY_DELTA",
        2: "AGGREGATION_TEMPORALITY_CUMULATIVE",
    },
}

_VARINT_KINDS = {"uint32", "uint64", "int64", "bool"}
_FIXED = {"fixed64": (1, "<Q"), "sfixed64": (1, "<q"), "double": (1, "<d"), "fixed32": (5, "<I")}
_INT64_KINDS = {"uint64", "int64", "fixed64", "sfixed64"}

# ---------------------------------------------------------------------------
# Protobuf encoding and protobuf-JSON rendering of one canonical tree
# (snake_case names, enums as numbers, ids as bytes)


def _varint(n: int) -> bytes:
    n &= 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while n > 0x7F:
        out.append(n & 0x7F | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _scalar(kind: str, v) -> tuple[int, bytes]:
    """(wire type, value bytes) of one non-length-delimited scalar."""
    if kind in _FIXED:
        wire_type, fmt = _FIXED[kind]
        return wire_type, struct.pack(fmt, v)
    if kind == "sint32":
        return 0, _varint((v << 1) ^ (v >> 31))
    # uint32/uint64/int64/bool/enum: two's complement varint
    return 0, _varint(int(v))


def encode(obj: dict, msg: str) -> bytes:
    """Protobuf wire bytes of `obj` as message `msg`; repeated scalars are
    packed, as proto3 encoders write them."""
    fields = PROTO[msg]
    out = bytearray()
    for name, val in obj.items():
        no, kind, repeated = fields[name]
        if kind.startswith("msg:") or kind in ("string", "bytes"):
            for v in val if repeated else [val]:
                if kind.startswith("msg:"):
                    body = encode(v, kind[4:])
                else:
                    body = v.encode("utf-8") if kind == "string" else v
                out += _varint(no << 3 | 2) + _varint(len(body)) + body
        elif repeated:
            body = b"".join(_scalar(kind, v)[1] for v in val)
            out += _varint(no << 3 | 2) + _varint(len(body)) + body
        else:
            wire_type, body = _scalar(kind, val)
            out += _varint(no << 3 | wire_type) + body
    return bytes(out)


def _camel(name: str) -> str:
    head, *rest = name.split("_")
    return head + "".join(p.capitalize() for p in rest)


def to_json(obj: dict, msg: str) -> dict:
    """protobuf-JSON rendering of `obj` as message `msg`."""
    fields = PROTO[msg]
    out = {}
    for name, val in obj.items():
        _, kind, repeated = fields[name]

        def one(v, kind=kind):
            if kind.startswith("msg:"):
                return to_json(v, kind[4:])
            if kind.startswith("enum:"):
                return ENUMS[kind[5:]][v]
            if kind == "bytes":
                return base64.b64encode(v).decode()
            if kind in _INT64_KINDS:
                return str(v)
            return v

        out[_camel(name)] = [one(v) for v in val] if repeated else one(val)
    return out


def _kv(key: str, value) -> dict:
    if isinstance(value, bool):
        member = {"bool_value": value}
    elif isinstance(value, int):
        member = {"int_value": value}
    elif isinstance(value, float):
        member = {"double_value": value}
    else:
        member = {"string_value": value}
    return {"key": key, "value": member}


def _attrs(d: dict) -> list[dict]:
    return [_kv(k, v) for k, v in d.items()]


# ---------------------------------------------------------------------------
# The §1 datasets


def logs_request() -> dict:
    """81 INFO records over the 6 demo services, inside 22:00-23:00 UTC; every
    tenth-digit 0/3/7 record (25 of 81) carries trace context."""
    rng = random.Random(42)
    by_service: dict[str, list[dict]] = {s: [] for s in LOG_SERVICES}
    ts = LOGS_BASE_NS
    for i in range(81):
        service = LOG_SERVICES[i % len(LOG_SERVICES)]
        status = rng.choice((200, 200, 200, 201, 404, 500))
        record = {
            "time_unix_nano": ts,
            "observed_time_unix_nano": ts + rng.randrange(1, 50_000) * 1000,
            "severity_number": 9,
            "severity_text": "INFO",
            "body": {"string_value": f"{service} handled request {i} with status {status}"},
            "attributes": _attrs(
                {
                    "http.status_code": status,
                    "duration_ms": round(rng.uniform(0.5, 250.0), 3),
                    "retry": i % 11 == 0,
                    "user.id": f"user-{rng.randrange(1000):03d}",
                }
            ),
        }
        if i % 10 in (0, 3, 7):
            record |= {"trace_id": rng.randbytes(16), "span_id": rng.randbytes(8), "flags": 1}
        by_service[service].append(record)
        ts += rng.randrange(1_000_000, 5_000_000) * 1000  # 1-5 s apart
    resource_logs = []
    for k, (service, records) in enumerate(by_service.items()):
        resource = {
            "service.name": service,
            "service.instance.id": f"{service}-{k}",
            "host.name": f"node-{k % 3}",
            "telemetry.sdk.language": ("go", "python", "java")[k % 3],
        }
        if k % 2 == 0:
            resource["service.namespace"] = "opentelemetry-demo"
        scope = {"name": f"{service}.logger"}
        if k % 3:
            scope["version"] = "1.4.0"
        resource_logs.append(
            {
                "resource": {"attributes": _attrs(resource)},
                "scope_logs": [{"scope": scope, "log_records": records}],
            }
        )
    return {"resource_logs": resource_logs}


def traces_request() -> dict:
    """19 spans in 6 traces over the demo services: each root is SERVER, its children CLIENT or
    INTERNAL (13 of 19 have a parent); 6 carry one event; status UNSET;
    durations 1-500 ms."""
    rng = random.Random(42)
    spans: dict[str, list[dict]] = {s: [] for s in LOG_SERVICES}
    start = TRACES_BASE_NS
    n = 0
    for t, size in enumerate((4, 3, 3, 3, 3, 3)):
        trace_id = rng.randbytes(16)
        root_id = None
        for j in range(size):
            span_id = rng.randbytes(8)
            duration = rng.randrange(1_000, 500_000) * 1000  # 1-500 ms
            kind = 2 if j == 0 else (3, 1)[j % 2]
            span = {
                "trace_id": trace_id,
                "span_id": span_id,
                "name": f"{('GET', 'POST')[t % 2]} /api/{('cart', 'checkout', 'products')[j % 3]}",
                "kind": kind,
                "start_time_unix_nano": start,
                "end_time_unix_nano": start + duration,
                "attributes": _attrs(
                    {"http.route": f"/api/v{t % 2 + 1}", "net.peer.port": 8080 + j}
                ),
                "status": {},
            }
            if root_id is not None:
                span["parent_span_id"] = root_id
            if n % 10 in (1, 4, 8):
                span["events"] = [
                    {
                        "time_unix_nano": start + duration // 2,
                        "name": "cache.lookup",
                        "attributes": _attrs({"cache.hit": j % 2 == 0}),
                    }
                ]
            spans[LOG_SERVICES[(t + j) % len(LOG_SERVICES)]].append(span)
            root_id = root_id or span_id
            start += rng.randrange(1_000, 2_000_000) * 1000
            n += 1
    scope = {"name": "opentelemetry.instrumentation.http", "version": "0.48b0"}
    return {
        "resource_spans": [
            {
                "resource": {"attributes": _attrs(
                    {"service.name": s, "deployment.environment": "demo"}
                )},
                "scope_spans": [{"scope": scope, "spans": ss}],
            }
            for s, ss in spans.items()
        ]
    }


def _point(k: int, attrs: dict, **fields) -> dict:
    return {
        "start_time_unix_nano": METRICS_BASE_NS - 60_000_000_000,
        "time_unix_nano": METRICS_BASE_NS + k * 10_000_000_000,
        "attributes": _attrs(attrs),
        **fields,
    }


def _metrics_request(*metrics: dict) -> dict:
    return {
        "resource_metrics": [
            {
                "resource": {"attributes": _attrs(
                    {"service.name": "metrics-demo", "host.name": "node-0"}
                )},
                "scope_metrics": [
                    {"scope": {"name": "otel-metrics-generator", "version": "1.0.0"},
                     "metrics": list(metrics)}
                ],
            }
        ]
    }


def _histogram(k: int, counts: list[int], route: str) -> dict:
    bounds = [5.0, 10.0, 25.0, 50.0, 100.0, 250.0]
    return _point(
        k, {"http.route": route}, count=sum(counts),
        sum=float(sum(c * b for c, b in zip(counts, bounds + [400.0]))),
        bucket_counts=counts, explicit_bounds=bounds, min=1.25, max=380.5,
    )


def metrics_requests() -> dict[str, dict]:
    """Per-type metric requests: gauge 3 points (cpu.usage double x2,
    memory.available as_int x1), cumulative monotonic int sum 4, histogram
    3, exponential histogram 2 (scale 3, empty negative buckets), summary
    2 (6 quantiles), and mixed = one gauge, one sum and one histogram."""
    gauge = [
        {"name": "cpu.usage", "unit": "1", "description": "CPU utilisation",
         "gauge": {"data_points": [
             _point(0, {"cpu": 0}, as_double=0.42), _point(1, {"cpu": 1}, as_double=0.73)]}},
        {"name": "memory.available", "unit": "By",
         "gauge": {"data_points": [_point(0, {}, as_int=2_147_483_648)]}},
    ]
    total = {
        "name": "http.server.requests", "unit": "{request}",
        "sum": {"aggregation_temporality": 2, "is_monotonic": True, "data_points": [
            _point(k, {"http.method": m, "http.status_code": c}, as_int=v)
            for k, (m, c, v) in enumerate(
                [("GET", 200, 1520), ("GET", 404, 37), ("POST", 201, 311), ("POST", 500, 4)]
            )
        ]},
    }
    histogram = {
        "name": "http.server.duration", "unit": "ms",
        "histogram": {"aggregation_temporality": 2, "data_points": [
            _histogram(0, [3, 8, 12, 9, 4, 2, 1], "/api/cart"),
            _histogram(1, [10, 20, 15, 7, 3, 0, 0], "/api/products"),
            _histogram(2, [1, 2, 4, 8, 6, 3, 2], "/api/checkout"),
        ]},
    }
    exp_histogram = {
        "name": "rpc.server.duration", "unit": "ms",
        "exponential_histogram": {"aggregation_temporality": 2, "data_points": [
            _point(k, {"rpc.method": meth}, count=count, sum=total_, scale=3,
                   zero_count=zeros, positive={"offset": off, "bucket_counts": buckets},
                   negative={}, min=0.0, max=maxv)
            for k, (meth, count, total_, zeros, off, buckets, maxv) in enumerate([
                ("GetCart", 20, 118.5, 2, 3, [4, 6, 5, 3], 9.75),
                ("PlaceOrder", 13, 271.0, 1, 10, [2, 5, 3, 1, 1], 41.0),
            ])
        ]},
    }
    summary = {
        "name": "gc.pause", "unit": "ms",
        "summary": {"data_points": [
            _point(k, {"gc": gc}, count=count, sum=total_, quantile_values=[
                {"quantile": q, "value": round(lo + (hi - lo) * q, 3)}
                for q in (0.0, 0.25, 0.5, 0.75, 0.95, 1.0)
            ])
            for k, (gc, count, total_, lo, hi) in enumerate(
                [("young", 48, 96.5, 0.4, 7.5), ("old", 6, 210.0, 12.0, 61.0)]
            )
        ]},
    }
    mixed = [
        {"name": "cpu.usage", "unit": "1", "gauge": {"data_points": [
            _point(3, {"cpu": 0}, as_double=0.5)]}},
        {"name": "http.server.requests", "unit": "{request}", "sum": {
            "aggregation_temporality": 2, "is_monotonic": True,
            "data_points": [_point(3, {"http.method": "GET", "http.status_code": 200},
                                   as_int=1604)]}},
        {"name": "http.server.duration", "unit": "ms", "histogram": {
            "aggregation_temporality": 2,
            "data_points": [_histogram(3, [0, 1, 3, 5, 2, 1, 0], "/api/cart")]}},
    ]
    return {
        "metrics_gauge": _metrics_request(*gauge),
        "metrics_sum": _metrics_request(total),
        "metrics_histogram": _metrics_request(histogram),
        "metrics_exponential_histogram": _metrics_request(exp_histogram),
        "metrics_summary": _metrics_request(summary),
        "metrics_mixed": _metrics_request(*mixed),
    }


_TRACE_ID = "W47/95gDgQPSabYzgT/GDA=="
_SPAN_ID = "7uGbfsPBsXQ="


def _invalid_span(**fields) -> dict:
    span = {
        "traceId": _TRACE_ID, "spanId": _SPAN_ID, "name": "GET /", "kind": "SPAN_KIND_SERVER",
        "startTimeUnixNano": str(TRACES_BASE_NS), "endTimeUnixNano": str(TRACES_BASE_NS + 10**6),
    }
    return {"resourceSpans": [{"resource": {}, "scopeSpans": [{"spans": [span | fields]}]}]}


def invalid_corpus() -> dict[str, str]:
    """The negative corpus: {file name: JSON text}, one defect each."""
    record = {"timeUnixNano": str(LOGS_BASE_NS), "severityNumber": "SEVERITY_NUMBER_BOGUS",
              "body": {"stringValue": "bad severity"}}
    temporality = {"name": "requests", "sum": {
        "aggregationTemporality": 7, "isMonotonic": True,
        "dataPoints": [{"timeUnixNano": str(METRICS_BASE_NS), "asInt": "1"}]}}
    docs = {
        "log_invalid_severity.json": {
            "resourceLogs": [{"resource": {}, "scopeLogs": [{"logRecords": [record]}]}]},
        "metrics_invalid_temporality.json": {
            "resourceMetrics": [{"resource": {}, "scopeMetrics": [{"metrics": [temporality]}]}]},
        "trace_invalid_base64.json": _invalid_span(traceId="not*valid*base64!!"),
        "trace_invalid_kind.json": _invalid_span(kind="SPAN_KIND_BOGUS"),
        "trace_mixed_encoding.json": _invalid_span(spanId="eee19b7e-c3c1b174"),
    }
    out = {name: json.dumps(doc, indent=2) for name, doc in docs.items()}
    out["malformed.json"] = '{"resourceLogs": [{"resource": {"attributes": [\n'
    return out


# ---------------------------------------------------------------------------
# File set


_REQUEST_MSG = {
    "logs": ("ExportLogsServiceRequest", "resource_logs"),
    "traces": ("ExportTraceServiceRequest", "resource_spans"),
    "metrics": ("ExportMetricsServiceRequest", "resource_metrics"),
}


def _write_request(root: str, stem: str, signal: str, req: dict, fmts: tuple[str, ...]) -> None:
    msg, key = _REQUEST_MSG[signal]
    for fmt in fmts:
        path = os.path.join(root, f"{stem}.{fmt}")
        if fmt == "pb":
            data = encode(req, msg)
        elif fmt == "json":
            data = json.dumps(to_json(req, msg), indent=2).encode()
        else:  # one export request per resource, one per line
            data = b"".join(
                json.dumps(to_json({key: [r]}, msg)).encode() + b"\n" for r in req[key]
            )
        with open(path, "wb") as f:
            f.write(data)


def _head(req: dict, resources: str, scopes: str, items: str, n: int) -> dict:
    """`req` cut to the first `n` items of its first resource's first scope."""
    resource = req[resources][0]
    scope = resource[scopes][0]
    return {resources: [resource | {scopes: [scope | {items: scope[items][:n]}]}]}


def write_fixtures(root: str) -> str:
    """Write the in-repo fixture set under `root` and return `root`."""
    os.makedirs(os.path.join(root, "invalid"), exist_ok=True)
    logs = logs_request()
    _write_request(root, "logs", "logs", logs, ("pb", "jsonl"))
    one_log = _head(logs, "resource_logs", "scope_logs", "log_records", 1)
    _write_request(root, "log", "logs", one_log, ("json",))
    traces = traces_request()
    _write_request(root, "traces", "traces", traces, ("pb", "jsonl"))
    two_spans = _head(traces, "resource_spans", "scope_spans", "spans", 2)
    _write_request(root, "trace", "traces", two_spans, ("pb", "json"))
    for stem, req in metrics_requests().items():
        _write_request(root, stem, "metrics", req, ("pb", "json", "jsonl"))
    for name, text in invalid_corpus().items():
        with open(os.path.join(root, "invalid", name), "w") as f:
            f.write(text)
    return root


_written: str | None = None


def testdata_dir() -> str:
    """The reference fixture directory if present, else the in-repo set,
    written once per process into a temporary directory."""
    global _written
    if os.path.isdir(REFERENCE_TESTDATA):
        return REFERENCE_TESTDATA
    if _written is None:
        _written = write_fixtures(tempfile.mkdtemp(prefix="otlp-fixtures-"))
        atexit.register(shutil.rmtree, _written, True)
    return _written


testdata_dir.__test__ = False  # test modules import it by name; it is not a test
