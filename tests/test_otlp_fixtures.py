"""The in-repo OTLP fixture set (tests/otlp_fixtures.py) has the FIXTURES.md
§1 shapes: every wire format of a dataset decodes to the same rows, with
the §1 count per file, and each invalid file fails with its own code. Its
.proto field table also pins wire.DESCRIPTORS' field numbers."""

from __future__ import annotations

import collections
import os

import pytest

from otlp2parquet_spark.otel import flatten, ingest, otlp_json, wire
from otlp2parquet_spark.otel.wire import OtlpDecodeError
from otlp_fixtures import PROTO, write_fixtures

# (stem, signal, formats, rows per file; metrics rows by type)
DATASETS = [
    ("logs", "logs", ("pb", "jsonl"), 81),
    ("log", "logs", ("json",), 1),
    ("traces", "traces", ("pb", "jsonl"), 19),
    ("trace", "traces", ("pb", "json"), 2),
    ("metrics_gauge", "metrics", ("pb", "json", "jsonl"), {"gauge": 3}),
    ("metrics_sum", "metrics", ("pb", "json", "jsonl"), {"sum": 4}),
    ("metrics_histogram", "metrics", ("pb", "json", "jsonl"), {"histogram": 3}),
    (
        "metrics_exponential_histogram", "metrics", ("pb", "json", "jsonl"),
        {"exponential_histogram": 2},
    ),
    ("metrics_summary", "metrics", ("pb", "json", "jsonl"), {"summary": 2}),
    (
        "metrics_mixed", "metrics", ("pb", "json", "jsonl"),
        {"gauge": 1, "sum": 1, "histogram": 1},
    ),
]

INVALID_CODES = {
    "log_invalid_severity.json": ("logs", "E-ENUM"),
    "malformed.json": ("logs", "E-JSON"),
    "metrics_invalid_temporality.json": ("metrics", "E-ENUM-TEMPORALITY"),
    "trace_invalid_base64.json": ("traces", "E-ID"),
    "trace_invalid_kind.json": ("traces", "E-ENUM"),
    "trace_mixed_encoding.json": ("traces", "E-ID"),
}


@pytest.fixture(scope="module")
def fixture_root(tmp_path_factory):
    return write_fixtures(str(tmp_path_factory.mktemp("otlp_fixtures")))


def _rows(path: str, signal: str):
    fmt = ingest.payload_format(path)
    rows = []
    for req in ingest._parse_payload(open(path, "rb").read(), fmt, signal):
        if signal == "logs":
            rows += flatten.flatten_logs(req)
        elif signal == "traces":
            rows += flatten.flatten_traces(req)
        else:
            per_type, _ = flatten.flatten_metrics(req)
            rows += [(t, r) for t, rs in per_type.items() for r in rs]
    return rows


def test_file_set(fixture_root):
    files = {
        os.path.relpath(os.path.join(d, f), fixture_root)
        for d, _, fs in os.walk(fixture_root)
        for f in fs
    }
    want = {f"{stem}.{fmt}" for stem, _, fmts, _ in DATASETS for fmt in fmts}
    want |= {f"invalid/{name}" for name in INVALID_CODES}
    assert files == want
    assert "logs.json" not in files and "traces.json" not in files


@pytest.mark.parametrize("stem,signal,fmts,count", DATASETS, ids=[d[0] for d in DATASETS])
def test_formats_decode_to_the_same_rows(fixture_root, stem, signal, fmts, count):
    decoded = [_rows(f"{fixture_root}/{stem}.{fmt}", signal) for fmt in fmts]
    for fmt, rows in zip(fmts, decoded):
        if signal == "metrics":
            assert collections.Counter(t for t, _ in rows) == count, fmt
        else:
            assert len(rows) == count, fmt
        assert rows == decoded[0], fmt


def test_logs_and_traces_shapes(fixture_root):
    logs = _rows(f"{fixture_root}/logs.pb", "logs")
    assert {r["ServiceName"] for r in logs} == {
        "frontend-proxy", "product-catalog", "cart", "kafka", "load-generator", "recommendation",
    }
    assert {r["SeverityNumber"] for r in logs} == {9}
    assert all(r["Body"].startswith('"') for r in logs)  # string bodies
    assert min(r["Timestamp"] for r in logs) == 1760741572254301
    hours = {(r["Timestamp"] // 3_600_000_000) % 24 for r in logs}
    assert hours == {22}
    with_context = sum(r["TraceId"] != b"\x00" * 16 for r in logs)
    assert 0.25 <= with_context / len(logs) <= 0.35

    spans = _rows(f"{fixture_root}/traces.pb", "traces")
    assert min(r["Timestamp"] for r in spans) == 1760738064624180
    assert {r["SpanKind"] for r in spans} == {
        "SPAN_KIND_SERVER", "SPAN_KIND_CLIENT", "SPAN_KIND_INTERNAL",
    }
    assert {r["StatusCode"] for r in spans} == {"STATUS_CODE_UNSET"}
    assert all(1_000_000 <= r["Duration"] <= 500_000_000 for r in spans)
    assert 0.6 <= sum(r["ParentSpanId"] is not None for r in spans) / len(spans) <= 0.8
    assert {len(r["EventsName"]) for r in spans} == {0, 1}
    assert 0.25 <= sum(len(r["EventsName"]) for r in spans) / len(spans) <= 0.35


@pytest.mark.parametrize("name", sorted(INVALID_CODES))
def test_invalid_file_fails_with_its_code(fixture_root, name):
    signal, code = INVALID_CODES[name]
    with pytest.raises(OtlpDecodeError) as err:
        body = open(f"{fixture_root}/invalid/{name}", "rb").read()
        req = otlp_json.parse_request_json(body, signal)
        getattr(flatten, f"flatten_{signal}")(req)
    assert err.value.code == code


def test_wire_descriptors_match_the_proto_field_table():
    """wire.DESCRIPTORS names every field at the number the .proto files
    give it (the table the fixtures' pb bytes are encoded from)."""
    nested = {
        "Span.Event": "SpanEvent",
        "Span.Link": "SpanLink",
        "ExponentialHistogramDataPoint.Buckets": "EHBuckets",
        "SummaryDataPoint.ValueAtQuantile": "ValueAtQuantile",
    }
    assert {nested.get(m, m) for m in PROTO} == set(wire.DESCRIPTORS)
    for msg, fields in PROTO.items():
        decoded = {name: no for no, (name, _, _) in wire.DESCRIPTORS[nested.get(msg, msg)].items()}
        assert decoded == {name: no for name, (no, _, _) in fields.items()}, msg
