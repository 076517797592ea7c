"""Fused OTLP/JSON -> flat rows: the hot lane of the Python codec.

`otlp_json.parse_request_json` + `flatten.flatten_*` build a canonical
request dict (per-attribute KeyValue/AnyValue nodes) that the flatten step
immediately tears back down into attr maps and canonical JSON strings.
Profiling the bench jsonl fixture put the generic converter at ~6x the cost
of `json.loads` itself (5.6k rows/s/core end-to-end). This module walks the
`json.loads` output ONCE and emits the flat row directly — same validation,
same output, no intermediate tree. The slow pair stays as the semantic
authority (differential Hypothesis suite: tests/test_fast_flatten.py) and
keeps serving the pb lane and metrics.

One documented divergence (applies to the logs, traces AND metrics
walkers): a payload spelling the SAME field both camelCase and snake_case
in one object takes the camelCase member here, while the generic walker
takes whichever appears last in the JSON document. Duplicate
mixed-spelling members are undefined in protobuf-JSON (the spec requires
serializers to emit one spelling); no reference fixture exercises this.

Reference decode semantics: tests/e2e.rs:238-318, testdata/invalid/README.md
(ids hex-or-base64, int64-as-string, enum variant strings, unknown-field
ignore).
"""

from __future__ import annotations

import base64
import binascii
import functools
import json
from typing import Any

from otlp2parquet_spark.otel.flatten import _SPAN_KIND_NAME, _STATUS_CODE_NAME
from otlp2parquet_spark.otel.otlp_json import SEVERITY_NUMBER, decode_id_bytes
from otlp2parquet_spark.otel.wire import OtlpDecodeError

# precompiled canonical encoder (sorted keys, compact, raw UTF-8): skips the
# per-call JSONEncoder construction inside json.dumps(**kwargs)
_canon = json.JSONEncoder(
    sort_keys=True, separators=(",", ":"), ensure_ascii=False
).encode

_ZERO16 = b"\x00" * 16
_ZERO8 = b"\x00" * 8


def _decode_guard(fn):
    """Per-request guard matching flatten_logs_pb: any non-OtlpDecodeError
    escaping the walk (e.g. TypeError from float({}) on {"doubleValue": {}})
    becomes an OtlpDecodeError, so ingest's quarantine contract is
    format-consistent — a malformed payload quarantines one request instead
    of failing the whole Spark task. Once per request, not per row, so the
    hot-path cost is nil."""

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except OtlpDecodeError:
            raise
        except Exception as e:
            # name the underlying class: a quarantine-rate spike caused by a
            # genuine codec bug (vs malformed input) must be diagnosable from
            # the sidecar files alone (ADVICE r6)
            raise OtlpDecodeError(
                f"malformed OTLP/JSON ({type(e).__name__}): {e}"
            ) from e

    return wrapped


def _av(v: Any) -> Any:
    """JSON AnyValue -> plain Python value (validated, one pass).

    Fuses otlp_json._conv_anyvalue + flatten.anyvalue_to_py: same accepted
    shapes, same result, no KeyValue/AnyValue intermediate."""
    if not isinstance(v, dict):
        raise OtlpDecodeError(f"expected object for AnyValue, got {type(v).__name__}")
    s = v.get("stringValue")
    if s is None:
        s = v.get("string_value")
    if s is not None:
        if not isinstance(s, str):
            raise OtlpDecodeError(f"bad string for AnyValue.string_value: {s!r}")
        return s
    i = v.get("intValue")
    if i is None:
        i = v.get("int_value")
    if i is not None:
        try:
            return int(i)
        except (TypeError, ValueError) as e:
            raise OtlpDecodeError(f"bad integer for AnyValue.int_value: {i!r}") from e
    d = v.get("doubleValue")
    if d is None:
        d = v.get("double_value")
    if d is not None:
        return float(d)
    b = v.get("boolValue")
    if b is None:
        b = v.get("bool_value")
    if b is not None:
        if not isinstance(b, bool):
            raise OtlpDecodeError(f"bad bool for AnyValue.bool_value: {b!r}")
        return b
    a = v.get("arrayValue") or v.get("array_value")
    if a is not None:
        vals = a.get("values") if isinstance(a, dict) else None
        return [_av(x) for x in vals or []]
    kv = v.get("kvlistValue") or v.get("kvlist_value")
    if kv is not None:
        vals = kv.get("values") if isinstance(kv, dict) else None
        return _kvmap(vals or [])
    by = v.get("bytesValue") or v.get("bytes_value")
    if by is not None:
        if not isinstance(by, str):
            raise OtlpDecodeError(f"bad bytes for AnyValue.bytes_value: {by!r}")
        try:
            raw = base64.b64decode(by, validate=True)
        except (binascii.Error, ValueError) as e:
            raise OtlpDecodeError(f"bad base64 for AnyValue.bytes_value: {by!r}") from e
        # round-trip like the slow pair (anyvalue_to_py re-encodes the bytes)
        return base64.b64encode(raw).decode("ascii")
    return None


def _kvmap(attrs: Any) -> dict[str, Any]:
    """JSON KeyValue list -> {key: value} map (validated)."""
    out: dict[str, Any] = {}
    for kv in attrs:
        if not isinstance(kv, dict):
            raise OtlpDecodeError(f"expected object for KeyValue, got {type(kv).__name__}")
        k = kv.get("key")
        if k is None:
            k = ""
        elif not isinstance(k, str):
            raise OtlpDecodeError(f"bad string for KeyValue.key: {k!r}")
        v = kv.get("value")
        out[k] = _av(v) if v is not None else None
    return out


def _attrs_json(attrs: Any, what: str) -> str:
    if attrs is None:
        return "{}"
    if not isinstance(attrs, list):
        raise OtlpDecodeError(f"expected array for {what}")
    if not attrs:
        return "{}"
    return _canon(_kvmap(attrs))


def _int(v: Any, label: str) -> int:
    if isinstance(v, bool) or not isinstance(v, (int, str, float)):
        raise OtlpDecodeError(f"bad integer for {label}: {v!r}")
    try:
        return int(v)
    except ValueError as e:
        raise OtlpDecodeError(f"bad integer for {label}: {v!r}") from e


def _str(v: Any, label: str) -> str:
    if not isinstance(v, str):
        raise OtlpDecodeError(f"bad string for {label}: {v!r}")
    return v


def _id(v: Any, label: str, want: int, zero: bytes) -> bytes:
    if v is None:
        return zero
    raw = decode_id_bytes(_str(v, label), label)
    if raw and len(raw) != want:
        what = label.rsplit(".", 1)[-1].replace("_", " ")
        raise OtlpDecodeError(f"invalid {what} length {len(raw)} (want {want})")
    return raw if raw else zero


def _list(obj: dict, camel: str, snake: str, what: str) -> list:
    v = obj.get(camel)
    if v is None:
        v = obj.get(snake)
    if v is None:
        return ()
    if not isinstance(v, list):
        raise OtlpDecodeError(f"expected array for {what}")
    return v


def _opt_str(obj: dict, camel: str, snake: str, label: str) -> str | None:
    v = obj.get(camel)
    if v is None:
        v = obj.get(snake)
    if v is None:
        return None
    return _str(v, label) or None


# ---------------------------------------------------------------------------
# Logs


@_decode_guard
def flatten_logs_json(obj: Any) -> list[dict[str, Any]]:
    """One OTLP/JSON logs export request -> flat rows (== the slow pair)."""
    if not isinstance(obj, dict):
        raise OtlpDecodeError(
            f"expected object for ExportLogsServiceRequest, got {type(obj).__name__}"
        )
    rows: list[dict[str, Any]] = []
    for rl in _list(obj, "resourceLogs", "resource_logs", "ExportLogsServiceRequest.resource_logs"):
        if not isinstance(rl, dict):
            raise OtlpDecodeError(f"expected object for ResourceLogs, got {type(rl).__name__}")
        res = rl.get("resource")
        if res is not None and not isinstance(res, dict):
            raise OtlpDecodeError(f"expected object for Resource, got {type(res).__name__}")
        rattrs = _kvmap(
            _list(res, "attributes", "attributes", "Resource.attributes") if res else ()
        )
        service_name = rattrs.pop("service.name", None)
        service_ns = rattrs.pop("service.namespace", None)
        service_iid = rattrs.pop("service.instance.id", None)
        res_attrs_json = _canon(rattrs) if rattrs else "{}"
        res_schema = _opt_str(rl, "schemaUrl", "schema_url", "ResourceLogs.schema_url")
        svc = service_name if service_name is not None else ""
        for sl in _list(rl, "scopeLogs", "scope_logs", "ResourceLogs.scope_logs"):
            if not isinstance(sl, dict):
                raise OtlpDecodeError(f"expected object for ScopeLogs, got {type(sl).__name__}")
            scope = sl.get("scope")
            if scope is not None and not isinstance(scope, dict):
                raise OtlpDecodeError(
                    f"expected object for InstrumentationScope, got {type(scope).__name__}"
                )
            if scope:
                sname = scope.get("name")
                scope_name = _str(sname, "InstrumentationScope.name") if sname is not None else ""
                scope_version = _opt_str(
                    scope, "version", "version", "InstrumentationScope.version"
                )
                scope_attrs = _attrs_json(
                    scope.get("attributes"), "InstrumentationScope.attributes"
                )
            else:
                scope_name, scope_version, scope_attrs = "", None, "{}"
            scope_schema = _opt_str(sl, "schemaUrl", "schema_url", "ScopeLogs.schema_url")
            for rec in _list(sl, "logRecords", "log_records", "ScopeLogs.log_records"):
                if not isinstance(rec, dict):
                    raise OtlpDecodeError(
                        f"expected object for LogRecord, got {type(rec).__name__}"
                    )
                t = rec.get("timeUnixNano")
                if t is None:
                    t = rec.get("time_unix_nano")
                ts_ns = _int(t, "LogRecord.time_unix_nano") if t is not None else 0
                ts_us = ts_ns // 1000 if ts_ns else 0
                ot = rec.get("observedTimeUnixNano")
                if ot is None:
                    ot = rec.get("observed_time_unix_nano")
                obs_ns = _int(ot, "LogRecord.observed_time_unix_nano") if ot is not None else 0
                sev = rec.get("severityNumber")
                if sev is None:
                    sev = rec.get("severity_number")
                if sev is None:
                    sev_no = 0
                elif isinstance(sev, int) and not isinstance(sev, bool):
                    sev_no = sev
                elif isinstance(sev, str) and sev in SEVERITY_NUMBER:
                    sev_no = SEVERITY_NUMBER[sev]
                else:
                    raise OtlpDecodeError(
                        f"unknown enum variant for LogRecord.severity_number: {sev!r}"
                    )
                sev_text = rec.get("severityText")
                if sev_text is None:
                    sev_text = rec.get("severity_text")
                sev_text = _str(sev_text, "LogRecord.severity_text") if sev_text is not None else ""
                fl = rec.get("flags")
                flags = _int(fl, "LogRecord.flags") if fl is not None else 0
                tid = rec.get("traceId")
                if tid is None:
                    tid = rec.get("trace_id")
                sid = rec.get("spanId")
                if sid is None:
                    sid = rec.get("span_id")
                body = rec.get("body")
                if body:
                    bv = _av(body)
                    # _av yields None exactly when no known AnyValue member
                    # is present — the slow pair encodes that as NULL, not
                    # the JSON literal "null"
                    body_out = None if bv is None else _canon(bv)
                else:
                    body_out = None
                rows.append(
                    {
                        "Timestamp": ts_us,
                        "TraceId": _id(tid, "LogRecord.trace_id", 16, _ZERO16),
                        "SpanId": _id(sid, "LogRecord.span_id", 8, _ZERO8),
                        "ServiceName": svc,
                        "ServiceNamespace": service_ns,
                        "ServiceInstanceId": service_iid,
                        "ResourceAttributes": res_attrs_json,
                        "ResourceSchemaUrl": res_schema,
                        "ScopeName": scope_name,
                        "ScopeVersion": scope_version,
                        "ScopeAttributes": scope_attrs,
                        "ScopeSchemaUrl": scope_schema,
                        "TimestampTime": ts_us,
                        "ObservedTimestamp": obs_ns // 1000 if obs_ns else 0,
                        "TraceFlags": flags,
                        "SeverityText": sev_text,
                        "SeverityNumber": sev_no,
                        "Body": body_out,
                        "LogAttributes": _attrs_json(
                            rec.get("attributes"), "LogRecord.attributes"
                        ),
                    }
                )
    return rows


# ---------------------------------------------------------------------------
# Traces


@_decode_guard
def flatten_traces_json(obj: Any) -> list[dict[str, Any]]:
    """One OTLP/JSON traces export request -> flat rows (== the slow pair)."""
    if not isinstance(obj, dict):
        raise OtlpDecodeError(
            f"expected object for ExportTraceServiceRequest, got {type(obj).__name__}"
        )
    rows: list[dict[str, Any]] = []
    for rs in _list(obj, "resourceSpans", "resource_spans", "ExportTraceServiceRequest.resource_spans"):
        if not isinstance(rs, dict):
            raise OtlpDecodeError(f"expected object for ResourceSpans, got {type(rs).__name__}")
        res = rs.get("resource")
        if res is not None and not isinstance(res, dict):
            raise OtlpDecodeError(f"expected object for Resource, got {type(res).__name__}")
        rattrs = _kvmap(
            _list(res, "attributes", "attributes", "Resource.attributes") if res else ()
        )
        service_name = rattrs.pop("service.name", None)
        rattrs.pop("service.namespace", None)
        rattrs.pop("service.instance.id", None)
        res_attrs_json = _canon(rattrs) if rattrs else "{}"
        for ss in _list(rs, "scopeSpans", "scope_spans", "ResourceSpans.scope_spans"):
            if not isinstance(ss, dict):
                raise OtlpDecodeError(f"expected object for ScopeSpans, got {type(ss).__name__}")
            scope = ss.get("scope")
            if scope is not None and not isinstance(scope, dict):
                raise OtlpDecodeError(
                    f"expected object for InstrumentationScope, got {type(scope).__name__}"
                )
            if scope:
                scope_name = _opt_str(scope, "name", "name", "InstrumentationScope.name")
                scope_version = _opt_str(
                    scope, "version", "version", "InstrumentationScope.version"
                )
            else:
                scope_name, scope_version = None, None
            for span in _list(ss, "spans", "spans", "ScopeSpans.spans"):
                if not isinstance(span, dict):
                    raise OtlpDecodeError(f"expected object for Span, got {type(span).__name__}")
                st_ns = span.get("startTimeUnixNano")
                if st_ns is None:
                    st_ns = span.get("start_time_unix_nano")
                start = _int(st_ns, "Span.start_time_unix_nano") if st_ns is not None else 0
                en_ns = span.get("endTimeUnixNano")
                if en_ns is None:
                    en_ns = span.get("end_time_unix_nano")
                end = _int(en_ns, "Span.end_time_unix_nano") if en_ns is not None else 0
                kind = span.get("kind", 0)
                if isinstance(kind, str):
                    kind_name = kind if kind in _SPAN_KIND_NAME.values() else None
                    if kind_name is None:
                        raise OtlpDecodeError(f"unknown enum variant for Span.kind: {kind!r}")
                elif isinstance(kind, int) and not isinstance(kind, bool):
                    kind_name = _SPAN_KIND_NAME.get(kind)
                    if kind_name is None:
                        raise OtlpDecodeError(f"invalid span kind: {kind}")
                else:
                    raise OtlpDecodeError(f"unknown enum variant for Span.kind: {kind!r}")
                status = span.get("status")
                if status is not None and not isinstance(status, dict):
                    raise OtlpDecodeError(
                        f"expected object for Status, got {type(status).__name__}"
                    )
                status = status or {}
                code = status.get("code", 0)
                if isinstance(code, str):
                    code_name = code if code in _STATUS_CODE_NAME.values() else None
                    if code_name is None:
                        raise OtlpDecodeError(f"unknown enum variant for Status.code: {code!r}")
                elif isinstance(code, int) and not isinstance(code, bool):
                    code_name = _STATUS_CODE_NAME.get(code)
                    if code_name is None:
                        raise OtlpDecodeError(f"invalid status code: {code}")
                else:
                    raise OtlpDecodeError(f"unknown enum variant for Status.code: {code!r}")
                status_msg = _opt_str(status, "message", "message", "Status.message")
                events = _list(span, "events", "events", "Span.events")
                links = _list(span, "links", "links", "Span.links")
                for e in events:
                    if not isinstance(e, dict):
                        raise OtlpDecodeError(
                            f"expected object for Event, got {type(e).__name__}"
                        )
                for ln in links:
                    if not isinstance(ln, dict):
                        raise OtlpDecodeError(
                            f"expected object for Link, got {type(ln).__name__}"
                        )
                parent = _id(
                    span.get("parentSpanId", span.get("parent_span_id")),
                    "Span.parent_span_id",
                    8,
                    _ZERO8,
                )
                name = span.get("name")
                ev_ts = []
                ev_name = []
                ev_attrs = []
                for e in events:
                    et = e.get("timeUnixNano")
                    if et is None:
                        et = e.get("time_unix_nano")
                    etn = _int(et, "Event.time_unix_nano") if et is not None else 0
                    ev_ts.append(etn // 1000 if etn else 0)
                    en = e.get("name")
                    ev_name.append(_str(en, "Event.name") if en is not None else "")
                    ev_attrs.append(_attrs_json(e.get("attributes"), "Event.attributes"))
                rows.append(
                    {
                        "Timestamp": start // 1000,
                        "TraceId": _id(
                            span.get("traceId", span.get("trace_id")),
                            "Span.trace_id",
                            16,
                            _ZERO16,
                        ).hex(),
                        "SpanId": _id(
                            span.get("spanId", span.get("span_id")),
                            "Span.span_id",
                            8,
                            _ZERO8,
                        ).hex(),
                        "ServiceName": service_name,
                        "ResourceAttributes": res_attrs_json,
                        "ScopeName": scope_name,
                        "ScopeVersion": scope_version,
                        "ParentSpanId": parent.hex() if parent.strip(b"\x00") else None,
                        "TraceState": _opt_str(
                            span, "traceState", "trace_state", "Span.trace_state"
                        ),
                        "SpanName": _str(name, "Span.name") if name is not None else "",
                        "SpanKind": kind_name,
                        "SpanAttributes": _attrs_json(
                            span.get("attributes"), "Span.attributes"
                        ),
                        "Duration": end - start,
                        "StatusCode": code_name,
                        "StatusMessage": status_msg,
                        "EventsTimestamp": ev_ts,
                        "EventsName": ev_name,
                        "EventsAttributes": ev_attrs,
                        "LinksTraceId": [
                            _id(
                                ln.get("traceId", ln.get("trace_id")),
                                "Link.trace_id",
                                16,
                                _ZERO16,
                            ).hex()
                            for ln in links
                        ],
                        "LinksSpanId": [
                            _id(
                                ln.get("spanId", ln.get("span_id")),
                                "Link.span_id",
                                8,
                                _ZERO8,
                            ).hex()
                            for ln in links
                        ],
                        "LinksTraceState": [
                            _opt_str(ln, "traceState", "trace_state", "Link.trace_state")
                            for ln in links
                        ],
                        "LinksAttributes": [
                            _attrs_json(ln.get("attributes"), "Link.attributes")
                            for ln in links
                        ],
                    }
                )
    return rows


def flatten_request_json(body: str | bytes, signal: str) -> list[dict[str, Any]]:
    """One JSON export request body -> flat rows via the fused walker."""
    try:
        obj = json.loads(body)
    except json.JSONDecodeError as e:
        raise OtlpDecodeError(f"malformed JSON: {e}") from e
    except UnicodeDecodeError as e:
        # bytes body that isn't UTF-8: json.loads raises UnicodeDecodeError
        # BEFORE parsing (fuzz-found r7 — the .json-file twin of the JSONL
        # lane's explicit decode guard)
        raise OtlpDecodeError(f"invalid utf-8 in JSON payload: {e}") from e
    if signal == "logs":
        return flatten_logs_json(obj)
    return flatten_traces_json(obj)


def flatten_request_jsonl(body: str | bytes, signal: str) -> list[dict[str, Any]]:
    """JSONL payload -> flat rows (one export request per non-empty line)."""
    if isinstance(body, bytes):
        try:
            body = body.decode("utf-8")
        except UnicodeDecodeError as e:
            raise OtlpDecodeError(f"invalid utf-8 in JSONL payload: {e}") from e
    fn = flatten_logs_json if signal == "logs" else flatten_traces_json
    loads = json.loads
    rows: list[dict[str, Any]] = []
    for line in body.splitlines():
        if not line.strip():
            continue
        try:
            obj = loads(line)
        except json.JSONDecodeError as e:
            raise OtlpDecodeError(f"malformed JSON: {e}") from e
        rows.extend(fn(obj))
    return rows


# ---------------------------------------------------------------------------
# Metrics


def _enum_int(v: Any, table: dict, label: str) -> int:
    if isinstance(v, int) and not isinstance(v, bool):
        return v
    if isinstance(v, str) and v in table:
        return table[v]
    raise OtlpDecodeError(f"unknown enum variant for {label}: {v!r}")


def _get2(d: dict, camel: str, snake: str):
    v = d.get(camel)
    return d.get(snake) if v is None else v


def _num(d: dict, camel: str, snake: str, label: str) -> int:
    v = _get2(d, camel, snake)
    return _int(v, label) if v is not None else 0


def _fnum(d: dict, camel: str, snake: str) -> float:
    v = _get2(d, camel, snake)
    return float(v) if v is not None else 0.0


def _dp_common_json(dp: dict) -> dict[str, Any]:
    t = _get2(dp, "timeUnixNano", "time_unix_nano")
    ts = _int(t, "time_unix_nano") if t is not None else 0
    return {
        "Timestamp": ts // 1000 if ts else 0,
        "Attributes": _attrs_json(dp.get("attributes"), "DataPoint.attributes"),
    }


@_decode_guard
def flatten_metrics_json(obj: Any):
    """One OTLP/JSON metrics export request -> ({metric_type: rows},
    skipped counters) — fused twin of parse_request_json + flatten_metrics
    (same member-priority quirks as the pb walker: gauge > sum > histogram
    > exponential_histogram > summary, as_double > as_int)."""
    import math

    from otlp2parquet_spark.otel.otlp_json import AGGREGATION_TEMPORALITY

    if not isinstance(obj, dict):
        raise OtlpDecodeError(
            f"expected object for ExportMetricsServiceRequest, got {type(obj).__name__}"
        )
    out: dict[str, list[dict[str, Any]]] = {
        "gauge": [],
        "sum": [],
        "histogram": [],
        "exponential_histogram": [],
        "summary": [],
    }
    skipped = {"summaries": 0, "nan_values": 0, "infinity_values": 0, "missing_values": 0}

    def number_points(container, base, extra, rows):
        for dp in _list(container, "dataPoints", "data_points", "Gauge.data_points"):
            if not isinstance(dp, dict):
                raise OtlpDecodeError(
                    f"expected object for NumberDataPoint, got {type(dp).__name__}"
                )
            vd = _get2(dp, "asDouble", "as_double")
            vi = _get2(dp, "asInt", "as_int")
            if vd is not None:
                val = float(vd)
            elif vi is not None:
                val = float(_int(vi, "NumberDataPoint.as_int"))
            else:
                skipped["missing_values"] += 1
                continue
            if math.isnan(val):
                skipped["nan_values"] += 1
                continue
            if math.isinf(val):
                skipped["infinity_values"] += 1
                continue
            row = base | _dp_common_json(dp) | {"Value": val}
            if extra:
                row |= extra
            rows.append(row)

    for rm in _list(obj, "resourceMetrics", "resource_metrics", "ExportMetricsServiceRequest.resource_metrics"):
        if not isinstance(rm, dict):
            raise OtlpDecodeError(f"expected object for ResourceMetrics, got {type(rm).__name__}")
        res = rm.get("resource")
        if res is not None and not isinstance(res, dict):
            raise OtlpDecodeError(f"expected object for Resource, got {type(res).__name__}")
        rattrs = _kvmap(
            _list(res, "attributes", "attributes", "Resource.attributes") if res else ()
        )
        service_name = rattrs.get("service.name", "")
        res_attrs_json = _canon(rattrs) if rattrs else "{}"
        svc = service_name if isinstance(service_name, str) else ""
        for sm in _list(rm, "scopeMetrics", "scope_metrics", "ResourceMetrics.scope_metrics"):
            if not isinstance(sm, dict):
                raise OtlpDecodeError(f"expected object for ScopeMetrics, got {type(sm).__name__}")
            scope = sm.get("scope")
            if scope is not None and not isinstance(scope, dict):
                raise OtlpDecodeError(
                    f"expected object for InstrumentationScope, got {type(scope).__name__}"
                )
            scope_name = (
                _opt_str(scope, "name", "name", "InstrumentationScope.name")
                if scope
                else None
            )
            scope_version = (
                _opt_str(scope, "version", "version", "InstrumentationScope.version")
                if scope
                else None
            )
            for metric in _list(sm, "metrics", "metrics", "ScopeMetrics.metrics"):
                if not isinstance(metric, dict):
                    raise OtlpDecodeError(
                        f"expected object for Metric, got {type(metric).__name__}"
                    )
                mname = metric.get("name")
                base = {
                    "ServiceName": svc,
                    "ResourceAttributes": res_attrs_json,
                    "ScopeName": scope_name,
                    "ScopeVersion": scope_version,
                    "MetricName": _str(mname, "Metric.name") if mname is not None else "",
                    "MetricDescription": _opt_str(
                        metric, "description", "description", "Metric.description"
                    ),
                    "MetricUnit": _opt_str(metric, "unit", "unit", "Metric.unit"),
                }
                gauge = _get2(metric, "gauge", "gauge")
                msum = _get2(metric, "sum", "sum")
                hist = _get2(metric, "histogram", "histogram")
                ehist = _get2(metric, "exponentialHistogram", "exponential_histogram")
                summ = _get2(metric, "summary", "summary")
                for member in (gauge, msum, hist, ehist, summ):
                    if member is not None and not isinstance(member, dict):
                        raise OtlpDecodeError(
                            f"expected object for Metric data, got {type(member).__name__}"
                        )
                if gauge is not None:
                    number_points(gauge, base, None, out["gauge"])
                elif msum is not None:
                    t = _get2(msum, "aggregationTemporality", "aggregation_temporality")
                    temporality = (
                        _enum_int(t, AGGREGATION_TEMPORALITY, "Sum.aggregation_temporality")
                        if t is not None
                        else 0
                    )
                    if temporality not in (0, 1, 2):
                        raise OtlpDecodeError(
                            f"invalid aggregation temporality: {temporality}"
                        )
                    mono = _get2(msum, "isMonotonic", "is_monotonic")
                    if mono is not None and not isinstance(mono, bool):
                        raise OtlpDecodeError(f"bad bool for Sum.is_monotonic: {mono!r}")
                    extra = {
                        "AggregationTemporality": temporality,
                        "IsMonotonic": bool(mono) if mono is not None else False,
                    }
                    number_points(msum, base, extra, out["sum"])
                elif hist is not None:
                    for dp in _list(hist, "dataPoints", "data_points", "Histogram.data_points"):
                        if not isinstance(dp, dict):
                            raise OtlpDecodeError(
                                f"expected object for HistogramDataPoint, got {type(dp).__name__}"
                            )
                        bc = _get2(dp, "bucketCounts", "bucket_counts") or []
                        eb = _get2(dp, "explicitBounds", "explicit_bounds") or []
                        if not isinstance(bc, list) or not isinstance(eb, list):
                            raise OtlpDecodeError("expected array for histogram buckets")
                        vmin = _get2(dp, "min", "min")
                        vmax = _get2(dp, "max", "max")
                        out["histogram"].append(
                            base
                            | _dp_common_json(dp)
                            | {
                                "Count": _num(dp, "count", "count", "HistogramDataPoint.count"),
                                "Sum": _fnum(dp, "sum", "sum"),
                                "BucketCounts": [
                                    _int(c, "bucket_counts") for c in bc
                                ],
                                "ExplicitBounds": [float(b) for b in eb],
                                "Min": float(vmin) if vmin is not None else None,
                                "Max": float(vmax) if vmax is not None else None,
                            }
                        )
                elif ehist is not None:
                    for dp in _list(ehist, "dataPoints", "data_points", "ExponentialHistogram.data_points"):
                        if not isinstance(dp, dict):
                            raise OtlpDecodeError(
                                f"expected object for ExponentialHistogramDataPoint, got {type(dp).__name__}"
                            )
                        pos = _get2(dp, "positive", "positive") or {}
                        neg = _get2(dp, "negative", "negative") or {}
                        if not isinstance(pos, dict) or not isinstance(neg, dict):
                            raise OtlpDecodeError("expected object for EHBuckets")
                        pbc = _get2(pos, "bucketCounts", "bucket_counts") or []
                        nbc = _get2(neg, "bucketCounts", "bucket_counts") or []
                        vmin = _get2(dp, "min", "min")
                        vmax = _get2(dp, "max", "max")
                        out["exponential_histogram"].append(
                            base
                            | _dp_common_json(dp)
                            | {
                                "Count": _num(dp, "count", "count", "EHDP.count"),
                                "Sum": _fnum(dp, "sum", "sum"),
                                "Scale": _num(dp, "scale", "scale", "EHDP.scale"),
                                "ZeroCount": _num(
                                    dp, "zeroCount", "zero_count", "EHDP.zero_count"
                                ),
                                "PositiveOffset": _num(pos, "offset", "offset", "EHBuckets.offset"),
                                "PositiveBucketCounts": [
                                    _int(c, "bucket_counts") for c in pbc
                                ],
                                "NegativeOffset": _num(neg, "offset", "offset", "EHBuckets.offset"),
                                "NegativeBucketCounts": [
                                    _int(c, "bucket_counts") for c in nbc
                                ],
                                "Min": float(vmin) if vmin is not None else None,
                                "Max": float(vmax) if vmax is not None else None,
                            }
                        )
                elif summ is not None:
                    for dp in _list(summ, "dataPoints", "data_points", "Summary.data_points"):
                        if not isinstance(dp, dict):
                            raise OtlpDecodeError(
                                f"expected object for SummaryDataPoint, got {type(dp).__name__}"
                            )
                        skipped["summaries"] += 1
                        qs = _get2(dp, "quantileValues", "quantile_values") or []
                        if not isinstance(qs, list):
                            raise OtlpDecodeError("expected array for quantile_values")
                        for q in qs:
                            if not isinstance(q, dict):
                                raise OtlpDecodeError(
                                    f"expected object for ValueAtQuantile, got {type(q).__name__}"
                                )
                        out["summary"].append(
                            base
                            | _dp_common_json(dp)
                            | {
                                "Count": _num(dp, "count", "count", "SummaryDataPoint.count"),
                                "Sum": _fnum(dp, "sum", "sum"),
                                "QuantileValues": [
                                    _fnum(q, "value", "value") for q in qs
                                ],
                                "QuantileQuantiles": [
                                    _fnum(q, "quantile", "quantile") for q in qs
                                ],
                            }
                        )
    return out, skipped


def flatten_metrics_request_json(body: str | bytes):
    """One JSON metrics export request body -> (per_type, skipped)."""
    try:
        obj = json.loads(body)
    except json.JSONDecodeError as e:
        raise OtlpDecodeError(f"malformed JSON: {e}") from e
    except UnicodeDecodeError as e:
        raise OtlpDecodeError(f"invalid utf-8 in JSON payload: {e}") from e
    return flatten_metrics_json(obj)


def flatten_metrics_request_jsonl(body: str | bytes):
    """JSONL metrics payload -> [(per_type, skipped)] per non-empty line."""
    if isinstance(body, bytes):
        try:
            body = body.decode("utf-8")
        except UnicodeDecodeError as e:
            raise OtlpDecodeError(f"invalid utf-8 in JSONL payload: {e}") from e
    loads = json.loads
    out = []
    for line in body.splitlines():
        if not line.strip():
            continue
        try:
            obj = loads(line)
        except json.JSONDecodeError as e:
            raise OtlpDecodeError(f"malformed JSON: {e}") from e
        out.append(flatten_metrics_json(obj))
    return out
