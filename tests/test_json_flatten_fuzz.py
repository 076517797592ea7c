"""Fuzz the OTLP decode kernels' quarantine contract (the JSON-lane twin of
tests/test_media_parser_fuzz.py): over arbitrary bytes, arbitrary JSON
trees, and structured mutations of valid requests, every production decode
entry point must either return rows or raise OtlpDecodeError — any other
exception class escapes ingest._decode_kernel's `except OtlpDecodeError`
clause and kills the whole Spark task instead of quarantining one payload
(the D25 posture; reference testdata/invalid/README.md: "invalid data is
properly rejected, no silent failures").

This is the generative closure of round 6's fixed bad-shape lists
(test_fast_flatten.py _BAD_LOGS/_BAD_TRACES): the float({}) escape that
motivated _decode_guard was one instance of a class; hypothesis searches
the class. Driver-side only — no Spark session needed, hundreds of
examples run in seconds against the same functions the mapInArrow kernels
call (ingest._flatten_payload / ingest._flatten_metrics_payload).
"""

from __future__ import annotations

import gzip
import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from otlp2parquet_spark.otel import fast_flatten, ingest
from otlp2parquet_spark.otel.wire import OtlpDecodeError

# ---------------------------------------------------------------------------
# Strategies

# arbitrary JSON values (what json.loads can ever hand the walkers)
_json_val = st.recursive(
    st.none()
    | st.booleans()
    | st.integers(min_value=-(2**70), max_value=2**70)
    | st.floats(allow_nan=True, allow_infinity=True)
    | st.text(max_size=20),
    lambda inner: st.lists(inner, max_size=4)
    | st.dictionaries(st.text(max_size=12), inner, max_size=4),
    max_leaves=25,
)

# the field names the walkers actually dispatch on, so mutations hit the
# deep branches (bare random keys would mostly exercise the unknown-field
# ignore path)
_HOT_KEYS = st.sampled_from(
    [
        "resourceLogs", "resource_logs", "resourceSpans", "resource_spans",
        "resourceMetrics", "resource_metrics", "resource", "attributes",
        "scopeLogs", "scope_logs", "scopeSpans", "scope_spans",
        "scopeMetrics", "scope_metrics", "scope", "logRecords", "log_records",
        "spans", "metrics", "dataPoints", "data_points", "key", "value",
        "stringValue", "intValue", "doubleValue", "boolValue", "arrayValue",
        "kvlistValue", "bytesValue", "values", "body", "timeUnixNano",
        "severityNumber", "severityText", "traceId", "spanId", "kind",
        "status", "code", "events", "links", "name", "gauge", "sum",
        "histogram", "exponentialHistogram", "summary", "asDouble", "asInt",
        "aggregationTemporality", "isMonotonic", "bucketCounts",
        "explicitBounds", "positive", "negative", "offset", "count",
        "quantileValues", "quantile", "min", "max", "scale", "zeroCount",
        "flags", "schemaUrl", "version", "startTimeUnixNano",
        "endTimeUnixNano", "parentSpanId", "traceState", "message",
    ]
)

# JSON trees built from the walkers' own vocabulary: every level uses hot
# keys, every leaf is arbitrary — this is the AnyValue-shape fuzzer the
# round-6 verdict asked for
_hot_tree = st.recursive(
    st.none()
    | st.booleans()
    | st.integers(min_value=-(2**70), max_value=2**70)
    | st.floats(allow_nan=True, allow_infinity=True)
    | st.text(max_size=16),
    lambda inner: st.lists(inner, max_size=3)
    | st.dictionaries(_HOT_KEYS, inner, max_size=5),
    max_leaves=40,
)

_SIGNALS = st.sampled_from(["logs", "traces"])


def _contract(fn, *args):
    """The kernel contract: return a value or raise OtlpDecodeError."""
    try:
        fn(*args)
    except OtlpDecodeError:
        pass
    # anything else propagates and fails the test


# ---------------------------------------------------------------------------
# Arbitrary JSON trees through every fused walker


@settings(max_examples=300, deadline=None)
@given(_json_val, _SIGNALS)
def test_arbitrary_json_tree_logs_traces(tree, signal):
    doc = json.dumps(tree)
    _contract(fast_flatten.flatten_request_json, doc, signal)


@settings(max_examples=300, deadline=None)
@given(_json_val)
def test_arbitrary_json_tree_metrics(tree):
    doc = json.dumps(tree)
    _contract(fast_flatten.flatten_metrics_request_json, doc)


@settings(max_examples=400, deadline=None)
@given(_hot_tree, _SIGNALS)
def test_hotkey_tree_logs_traces(tree, signal):
    doc = json.dumps(tree)
    _contract(fast_flatten.flatten_request_json, doc, signal)


@settings(max_examples=400, deadline=None)
@given(_hot_tree)
def test_hotkey_tree_metrics(tree):
    doc = json.dumps(tree)
    _contract(fast_flatten.flatten_metrics_request_json, doc)


# ---------------------------------------------------------------------------
# Structured mutations: a VALID request with one subtree replaced by junk —
# exercises the deep per-field branches the bare tree strategy rarely
# reaches (e.g. a junk value inside the 5th log record of a valid resource)

_VALID_LOGS = {
    "resourceLogs": [
        {
            "resource": {
                "attributes": [
                    {"key": "service.name", "value": {"stringValue": "svc"}}
                ]
            },
            "scopeLogs": [
                {
                    "scope": {"name": "lib", "version": "1"},
                    "logRecords": [
                        {
                            "timeUnixNano": "1700000000000000000",
                            "severityNumber": 9,
                            "severityText": "INFO",
                            "body": {"stringValue": "hello"},
                            "attributes": [
                                {"key": "k", "value": {"intValue": "7"}}
                            ],
                            "traceId": "0102030405060708090a0b0c0d0e0f10",
                            "spanId": "0102030405060708",
                        }
                    ],
                }
            ],
        }
    ]
}

_VALID_TRACES = {
    "resourceSpans": [
        {
            "resource": {
                "attributes": [
                    {"key": "service.name", "value": {"stringValue": "svc"}}
                ]
            },
            "scopeSpans": [
                {
                    "scope": {"name": "lib"},
                    "spans": [
                        {
                            "traceId": "0102030405060708090a0b0c0d0e0f10",
                            "spanId": "0102030405060708",
                            "name": "op",
                            "kind": 2,
                            "startTimeUnixNano": "1700000000000000000",
                            "endTimeUnixNano": "1700000001000000000",
                            "status": {"code": 1},
                            "events": [
                                {
                                    "timeUnixNano": "1700000000500000000",
                                    "name": "ev",
                                    "attributes": [],
                                }
                            ],
                            "links": [],
                        }
                    ],
                }
            ],
        }
    ]
}

_VALID_METRICS = {
    "resourceMetrics": [
        {
            "resource": {
                "attributes": [
                    {"key": "service.name", "value": {"stringValue": "svc"}}
                ]
            },
            "scopeMetrics": [
                {
                    "scope": {"name": "lib"},
                    "metrics": [
                        {
                            "name": "m",
                            "gauge": {
                                "dataPoints": [
                                    {
                                        "timeUnixNano": "1700000000000000000",
                                        "asDouble": 1.5,
                                        "attributes": [],
                                    }
                                ]
                            },
                        },
                        {
                            "name": "h",
                            "histogram": {
                                "dataPoints": [
                                    {
                                        "timeUnixNano": "1700000000000000000",
                                        "count": "3",
                                        "sum": 6.0,
                                        "bucketCounts": ["1", "2"],
                                        "explicitBounds": [1.0],
                                    }
                                ]
                            },
                        },
                    ],
                }
            ],
        }
    ]
}


def _paths(obj, prefix=()):
    """Every replaceable location in a JSON tree (dict values + list items)."""
    out = [prefix] if prefix else []
    if isinstance(obj, dict):
        for k, v in obj.items():
            out.extend(_paths(v, prefix + (k,)))
    elif isinstance(obj, list):
        for i, v in enumerate(obj):
            out.extend(_paths(v, prefix + (i,)))
    return out


def _replace(obj, path, junk):
    if not path:
        return junk
    if isinstance(obj, dict):
        return {
            k: (_replace(v, path[1:], junk) if k == path[0] else v)
            for k, v in obj.items()
        }
    return [
        (_replace(v, path[1:], junk) if i == path[0] else v)
        for i, v in enumerate(obj)
    ]


_LOGS_PATHS = _paths(_VALID_LOGS)
_TRACES_PATHS = _paths(_VALID_TRACES)
_METRICS_PATHS = _paths(_VALID_METRICS)


@settings(max_examples=400, deadline=None)
@given(st.integers(min_value=0, max_value=len(_LOGS_PATHS) - 1), _json_val)
def test_mutated_valid_logs(path_idx, junk):
    doc = json.dumps(_replace(_VALID_LOGS, _LOGS_PATHS[path_idx], junk))
    _contract(fast_flatten.flatten_request_json, doc, "logs")


@settings(max_examples=400, deadline=None)
@given(st.integers(min_value=0, max_value=len(_TRACES_PATHS) - 1), _json_val)
def test_mutated_valid_traces(path_idx, junk):
    doc = json.dumps(_replace(_VALID_TRACES, _TRACES_PATHS[path_idx], junk))
    _contract(fast_flatten.flatten_request_json, doc, "traces")


@settings(max_examples=400, deadline=None)
@given(st.integers(min_value=0, max_value=len(_METRICS_PATHS) - 1), _json_val)
def test_mutated_valid_metrics(path_idx, junk):
    doc = json.dumps(_replace(_VALID_METRICS, _METRICS_PATHS[path_idx], junk))
    _contract(fast_flatten.flatten_metrics_request_json, doc)


# ---------------------------------------------------------------------------
# The kernel boundary itself: arbitrary BYTES through the exact functions
# ingest._decode_kernel calls (per signal) — covers the gzip sniff,
# the utf-8 decode, json.loads, the pb wire walkers, and the JSONL split
# in one property (everything between "payload bytes" and "rows")

_FMT = st.sampled_from(["pb", "json", "jsonl"])


@settings(max_examples=400, deadline=None)
@given(st.binary(max_size=200), _FMT, _SIGNALS)
def test_arbitrary_bytes_flatten_payload(content, fmt, signal):
    _contract(ingest._flatten_payload, content, fmt, signal)


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=200), _FMT)
def test_arbitrary_bytes_metrics_payload(content, fmt):
    _contract(ingest._flatten_metrics_payload, content, fmt)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=120), _FMT, _SIGNALS)
def test_gzipped_arbitrary_bytes(content, fmt, signal):
    # valid gzip wrapping junk: the sniff+gunzip path succeeds, the decode
    # beneath must still hold the contract
    _contract(ingest._flatten_payload, gzip.compress(content), fmt, signal)


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=2, max_size=120))
def test_gzip_magic_corrupt_body(content):
    # gzip magic, garbage after: must be OtlpDecodeError (corrupted gzip),
    # never a bare zlib.error/EOFError
    _contract(ingest._flatten_payload, b"\x1f\x8b" + content, "json", "logs")


@settings(max_examples=300, deadline=None)
@given(_hot_tree, _SIGNALS)
def test_hotkey_tree_through_jsonl(tree, signal):
    body = (json.dumps(tree) + "\n" + json.dumps(tree)).encode()
    _contract(ingest._flatten_payload, body, "jsonl", signal)


# ---------------------------------------------------------------------------
# Regression pins: the escapes this class of fuzzing has found so far must
# quarantine with a typed message naming the underlying exception class
# (ADVICE r6: a quarantine-rate spike from a codec bug must be diagnosable
# from the sidecars alone)


@pytest.mark.parametrize(
    "doc,signal",
    [
        ('{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"body": {"doubleValue": {}}}]}]}]}', "logs"),
        ('{"resourceSpans": [{"scopeSpans": [{"spans": [{"status": []}]}]}]}', "traces"),
    ],
)
def test_escape_message_names_exception_class(doc, signal):
    with pytest.raises(OtlpDecodeError) as exc:
        fast_flatten.flatten_request_json(doc, signal)
    # the guard's message must make the non-OtlpDecodeError origin visible
    assert "TypeError" in str(exc.value) or "expected object" in str(exc.value)
