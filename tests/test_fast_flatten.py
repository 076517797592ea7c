"""Differential verification of the fused OTLP/JSON walker
(otel/fast_flatten.py) against the semantic authority — the two-step
parse_request_json + flatten pair — over Hypothesis-generated requests,
both JSON spellings, and the reference fixtures (tests/e2e.rs decode
semantics; invalid fixtures testdata/invalid/README.md)."""

from __future__ import annotations

import base64
import json

import pytest
from hypothesis import example, given, settings

from otlp2parquet_spark.otel import fast_flatten, flatten, otlp_json, wire
from otlp2parquet_spark.otel.wire import OtlpDecodeError

from otlp_fixtures import testdata_dir
from test_wire_property import (
    _INT64_KINDS,
    _logs_request,
    _traces_request,
    render_json,
)


def render_json_snake(obj: dict, msg: str) -> dict:
    """snake_case spelling, ints as JSON numbers, ids as hex — the other
    half of the accepted input space (render_json covers camel/str/b64)."""
    desc = wire.DESCRIPTORS[msg]
    by_name = {name: (kind, rep) for _, (name, kind, rep) in desc.items()}
    out = {}
    for name, val in obj.items():
        kind, rep = by_name[name]

        def one(v):
            if kind.startswith("msg:"):
                return render_json_snake(v, kind[4:])
            if kind == "bytes":
                return v.hex() if v else ""
            return v

        out[name] = [one(v) for v in val] if rep else one(val)
    return out


_HOSTILE = 'he said "hi"\\\twith\nnewlines \x01 é中文 😀'
# hostile string escaping (keys and values), integral vs fractional doubles,
# 19-digit intValues (one past int64), and ids: the camel rendering writes
# them base64, the snake one hex
_EDGE_LOGS = {
    "resource_logs": [
        {
            "resource": {"attributes": [{"key": 'k"x\\', "value": {"string_value": _HOSTILE}}]},
            "scope_logs": [
                {
                    "log_records": [
                        {
                            "time_unix_nano": 1760741572254301000,
                            "severity_text": _HOSTILE,
                            "body": {"string_value": _HOSTILE},
                            "attributes": [
                                {"key": "a", "value": {"double_value": 8589934592.0}},
                                {"key": "b", "value": {"double_value": 0.25}},
                                {"key": "c", "value": {"int_value": 42}},
                                {"key": "d", "value": {"bool_value": True}},
                                {"key": "e", "value": {"int_value": 1234567890123456789}},
                                {"key": "f", "value": {"int_value": 2**63 + 5}},
                            ],
                            "trace_id": bytes.fromhex("a71f3d1a6d2d3cadb3669cbd50e165e4"),
                            "span_id": bytes.fromhex("34249d8b829f4116"),
                        }
                    ]
                }
            ],
        }
    ]
}


def _slow_logs(doc: str):
    return flatten.flatten_logs(otlp_json.parse_request_json(doc, "logs"))


def _slow_traces(doc: str):
    return flatten.flatten_traces(otlp_json.parse_request_json(doc, "traces"))


@settings(max_examples=150, deadline=None)
@given(_logs_request)
@example(_EDGE_LOGS)
def test_logs_fused_matches_slow_camel(tree):
    doc = json.dumps(render_json(tree, "ExportLogsServiceRequest"))
    assert fast_flatten.flatten_request_json(doc, "logs") == _slow_logs(doc)


@settings(max_examples=150, deadline=None)
@given(_logs_request)
@example(_EDGE_LOGS)
def test_logs_fused_matches_slow_snake(tree):
    doc = json.dumps(render_json_snake(tree, "ExportLogsServiceRequest"))
    assert fast_flatten.flatten_request_json(doc, "logs") == _slow_logs(doc)


@settings(max_examples=150, deadline=None)
@given(_traces_request)
def test_traces_fused_matches_slow_camel(tree):
    doc = json.dumps(render_json(tree, "ExportTraceServiceRequest"))
    assert fast_flatten.flatten_request_json(doc, "traces") == _slow_traces(doc)


@settings(max_examples=150, deadline=None)
@given(_traces_request)
def test_traces_fused_matches_slow_snake(tree):
    doc = json.dumps(render_json_snake(tree, "ExportTraceServiceRequest"))
    assert fast_flatten.flatten_request_json(doc, "traces") == _slow_traces(doc)


def test_reference_fixture_parity():
    body = open(f"{testdata_dir()}/logs.jsonl").read()
    slow = []
    for req in otlp_json.parse_request_jsonl(body, "logs"):
        slow.extend(flatten.flatten_logs(req))
    assert fast_flatten.flatten_request_jsonl(body, "logs") == slow

    tr = open(f"{testdata_dir()}/trace.json").read()
    assert fast_flatten.flatten_request_json(tr, "traces") == _slow_traces(tr)


# Error parity: every payload the slow lane rejects, the fused lane must
# reject too (class-level; messages may differ in wording).
_BAD_LOGS = [
    "not json",
    "[1,2,3]",
    '{"resourceLogs": 7}',
    '{"resourceLogs": [7]}',
    '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"timeUnixNano": true}]}]}]}',
    '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"severityNumber": "NOPE"}]}]}]}',
    '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"traceId": "zz!"}]}]}]}',
    '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"traceId": "abcd"}]}]}]}',
    '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"severityText": 5}]}]}]}',
    '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"attributes": 3}]}]}]}',
    '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"attributes": [{"key": 1}]}]}]}]}',
    '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"body": {"intValue": "x"}}]}]}]}',
    '{"resourceLogs": [{"resource": {"attributes": [{"value": {"stringValue": 9}}]}}]}',
    # float({}) used to escape as TypeError and fail the Spark task instead
    # of quarantining the payload (round-6 ADVICE finding)
    '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"body": {"doubleValue": {}}}]}]}]}',
]

_BAD_TRACES = [
    '{"resourceSpans": [{"scopeSpans": [{"spans": [{"kind": 99}]}]}]}',
    '{"resourceSpans": [{"scopeSpans": [{"spans": [{"kind": "SPAN_KIND_BOGUS"}]}]}]}',
    '{"resourceSpans": [{"scopeSpans": [{"spans": [{"status": {"code": 9}}]}]}]}',
    '{"resourceSpans": [{"scopeSpans": [{"spans": [{"spanId": "xyz"}]}]}]}',
    '{"resourceSpans": [{"scopeSpans": [{"spans": [{"startTimeUnixNano": []}]}]}]}',
    '{"resourceSpans": [{"scopeSpans": [{"spans": [{"links": [{"traceId": "0102"}]}]}]}]}',
]


def test_severity_enum_values():
    """The SeverityNumber name table every JSON decoder shares must carry
    the full public 0..24 range with the official names (TRACE=1..4,
    DEBUG=5..8, ..., FATAL=21..24)."""
    vals = otlp_json.SEVERITY_NUMBER
    assert vals["SEVERITY_NUMBER_UNSPECIFIED"] == 0
    assert vals["SEVERITY_NUMBER_TRACE"] == 1
    assert vals["SEVERITY_NUMBER_DEBUG"] == 5
    assert vals["SEVERITY_NUMBER_INFO"] == 9
    assert vals["SEVERITY_NUMBER_WARN"] == 13
    assert vals["SEVERITY_NUMBER_ERROR"] == 17
    assert vals["SEVERITY_NUMBER_FATAL"] == 21
    assert vals["SEVERITY_NUMBER_FATAL4"] == 24
    assert len(vals) == 25


@pytest.mark.parametrize("doc", _BAD_LOGS)
def test_bad_logs_rejected_by_both(doc):
    with pytest.raises(OtlpDecodeError):
        _slow_logs(doc)
    with pytest.raises(OtlpDecodeError):
        fast_flatten.flatten_request_json(doc, "logs")


@pytest.mark.parametrize("doc", _BAD_TRACES)
def test_bad_traces_rejected_by_both(doc):
    with pytest.raises(OtlpDecodeError):
        _slow_traces(doc)
    with pytest.raises(OtlpDecodeError):
        fast_flatten.flatten_request_json(doc, "traces")


def test_body_with_no_known_member_is_null():
    """{} and unknown-member AnyValue bodies encode as NULL, not "null"."""
    for body in ("{}", '{"mystery": 1}'):
        doc = f'{{"resourceLogs": [{{"scopeLogs": [{{"logRecords": [{{"body": {body}}}]}}]}}]}}'
        slow = _slow_logs(doc)
        fast = fast_flatten.flatten_request_json(doc, "logs")
        assert fast == slow
        assert fast[0]["Body"] is None


def test_bytes_value_roundtrip_matches():
    raw = b"\x00\xffhello"
    b64 = base64.b64encode(raw).decode()
    doc = json.dumps(
        {
            "resourceLogs": [
                {
                    "scopeLogs": [
                        {"logRecords": [{"body": {"bytesValue": b64}}]}
                    ]
                }
            ]
        }
    )
    assert fast_flatten.flatten_request_json(doc, "logs") == _slow_logs(doc)


def test_int64_kinds_exported():
    # guard the shared-import surface this module leans on
    assert "fixed64" in _INT64_KINDS


from test_wire_property import _metrics_request  # noqa: E402


def _slow_metrics_json(doc: str):
    from otlp2parquet_spark.otel import flatten as _fl

    return _fl.flatten_metrics(otlp_json.parse_request_json(doc, "metrics"))


@settings(max_examples=150, deadline=None)
@given(_metrics_request)
def test_metrics_fused_matches_slow_camel(tree):
    doc = json.dumps(render_json(tree, "ExportMetricsServiceRequest"))
    assert fast_flatten.flatten_metrics_json(json.loads(doc)) == _slow_metrics_json(doc)


@settings(max_examples=150, deadline=None)
@given(_metrics_request)
def test_metrics_fused_matches_slow_snake(tree):
    doc = json.dumps(render_json_snake(tree, "ExportMetricsServiceRequest"))
    assert fast_flatten.flatten_metrics_json(json.loads(doc)) == _slow_metrics_json(doc)


def test_metrics_fused_exotic_and_fixture_parity():
    import copy as _copy

    from test_metrics_exotic import _gen_tree

    # exotic trees rendered to protobuf-JSON (exemplars stripped — the
    # canonical strategy shape only; pb-side exemplars are covered in
    # test_fast_wire)
    def strip(o):
        if isinstance(o, dict):
            return {k: strip(v) for k, v in o.items() if k != "__exemplars__"}
        if isinstance(o, list):
            return [strip(v) for v in o]
        return o

    for seed in range(25):
        tree = strip(_copy.deepcopy(_gen_tree(seed)))
        for render in (render_json, render_json_snake):
            doc = json.dumps(render(tree, "ExportMetricsServiceRequest"))
            assert fast_flatten.flatten_metrics_json(
                json.loads(doc)
            ) == _slow_metrics_json(doc), (seed, render.__name__)


def test_metrics_skip_counters_and_big_counts():
    """Valueless, literal-NaN, literal-Infinity and overflowing (1e400)
    number points and summary points become skipped.* counters, and 19-digit
    uint64 counts keep their exact value, on both JSON walkers."""
    big = 1234567890123456789  # 19 digits, fits int64
    doc = json.dumps(
        {
            "resourceMetrics": [
                {
                    "scopeMetrics": [
                        {
                            "metrics": [
                                {
                                    "name": "g",
                                    "gauge": {
                                        "dataPoints": [
                                            {"timeUnixNano": "1000"},
                                            {"timeUnixNano": "2000", "asDouble": 1.5},
                                        ]
                                    },
                                },
                                {
                                    "name": "s",
                                    "summary": {
                                        "dataPoints": [{"count": "4", "quantileValues": [{"value": 1.0}]}]
                                    },
                                },
                                {
                                    "name": "h",
                                    "histogram": {
                                        "dataPoints": [{"count": str(big), "bucketCounts": [str(big), "2"]}]
                                    },
                                },
                                {
                                    "name": "eh",
                                    "exponentialHistogram": {
                                        "dataPoints": [{"count": "1", "zeroCount": str(big)}]
                                    },
                                },
                            ]
                        }
                    ]
                }
            ]
        }
    )
    # literal NaN / Infinity / 1e400 are valid input for json.loads
    doc = doc.replace(
        '"asDouble": 1.5', '"asDouble": 1.5}, {"asDouble": NaN}, '
        '{"asDouble": -Infinity}, {"asDouble": 1e400', 1
    )
    fused = fast_flatten.flatten_metrics_json(json.loads(doc))
    assert fused == _slow_metrics_json(doc)
    per_type, skipped = fused
    assert skipped == {"missing_values": 1, "nan_values": 1, "infinity_values": 2, "summaries": 1}
    assert [r["Value"] for r in per_type["gauge"]] == [1.5]
    (hist,) = per_type["histogram"]
    assert hist["Count"] == big and hist["BucketCounts"] == [big, 2]
    assert per_type["exponential_histogram"][0]["ZeroCount"] == big


def test_bad_metrics_rejected_not_crashed():
    """Malformed metrics payloads must raise OtlpDecodeError (the class the
    ingest quarantine catches), never a bare AttributeError/TypeError that
    would fail the Spark task (round-5 review finding)."""
    bad = [
        '{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"summary":{"dataPoints":[{"quantileValues":[1]}]}}]}]}]}',
        '{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"gauge":{"dataPoints":[7]}}]}]}]}',
        '{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"sum":{"aggregationTemporality":"BOGUS"}}]}]}]}',
        '{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"sum":{"aggregationTemporality":7}}]}]}]}',
        '{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"histogram":{"dataPoints":[{"bucketCounts":7}]}}]}]}]}',
        '{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"sum":{"isMonotonic":3}}]}]}]}',
        '{"resourceMetrics":[{"scopeMetrics":[{"metrics":[{"gauge":{"dataPoints":[{"asDouble":{}}]}}]}]}]}',
    ]
    for doc in bad:
        with pytest.raises(OtlpDecodeError):
            fast_flatten.flatten_metrics_json(json.loads(doc))
        with pytest.raises(OtlpDecodeError):
            _slow_metrics_json(doc)
