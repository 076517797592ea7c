"""Every ingest entry point decodes one landing dir to the same rows.

The landing dir is built in-process with the benchmark's seeded generator
(`perfbench/gen.py`) and covers every signal x format cell, gzip included,
plus the payloads the admission rule and the quarantine must catch: a 9 MiB
pb (size guard, D4), a `.txt` file (format dispatch, D3) and a truncated pb
(decode error). The JSONL files also carry hand-written lines in the shapes
that need care in a JSON decoder: kvlist/array/bytes values, snake_case
keys, 19-digit intValues, hostile escapes and unicode, integral doubles,
hex and base64 ids, span enums, events and links.

Each output table is reduced to an order-independent hash (sorted per-row
sha256 of the golden columns as JSON), pinned below, and every path must
reproduce it: `ingest_directory` on the payload-locality lane and on the
content lane, `stream_ingest` with `available_now`, and `cli ingest` with
the parity and the native layout. `ingest_jsonl_fast` (the line-split lane)
must give the same rows as the file-payload decode of the same JSONL files.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys

import pytest
from pyspark.sql import functions as F

from otlp2parquet_spark import cli
from otlp2parquet_spark.otel import ingest, schemas, writer
from otlp2parquet_spark.streaming import ingest as sing

sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))

import gen  # noqa: E402

SIGNAL_TABLES = {
    "logs": ("otel_logs",),
    "traces": ("otel_traces",),
    "metrics": tuple(schemas.METRIC_TABLES[t] for t in schemas.PERSISTED_METRIC_TYPES),
}

# (rows, hash) per table; a change to any decoder, writer or ingest path
# that moves one row or one cell changes these
PINNED = {
    "otel_logs": (90, "35c33d785e76af94"),
    "otel_traces": (55, "0a1cef1d178fd28a"),
    "otel_metrics_gauge": (18, "1b12af160f0bf479"),
    "otel_metrics_sum": (18, "05fff1351ba249f1"),
    "otel_metrics_histogram": (18, "b1e6a66ed088d096"),
    "otel_metrics_exponential_histogram": (18, "aeb3b8fa9407a253"),
}
# the JSONL files alone, through the line-split lane and the file-payload lane
PINNED_JSONL = {"otel_logs": (49, "6d00d172f0f0e49c"), "otel_traces": (25, "925624e3c9f76e7d")}


def _req_logs(records: list, resource_attrs: list | None = None) -> dict:
    return {
        "resourceLogs": [
            {
                "resource": {"attributes": resource_attrs or []},
                "scopeLogs": [{"scope": {"name": "edge"}, "logRecords": records}],
            }
        ]
    }


_SVC = [{"key": "service.name", "value": {"stringValue": "edge"}}]
_HOSTILE = 'he said "hi"\\\twith\nnewlines \x01 é中文 😀 </script>'


def _edge_log_lines() -> list[str]:
    t = gen.BASE_NS
    nested = _req_logs(
        [
            {
                "timeUnixNano": str(t),
                "body": {"kvlistValue": {"values": [{"key": "a", "value": {"intValue": "7"}}]}},
                "attributes": [
                    {
                        "key": "arr",
                        "value": {"arrayValue": {"values": [{"stringValue": "x"}, {"intValue": "2"}]}},
                    },
                    {"key": "raw", "value": {"bytesValue": "AP9oZWxsbw=="}},
                ],
            }
        ],
        _SVC,
    )
    snake = {
        "resource_logs": [
            {
                "scope_logs": [
                    {
                        "log_records": [
                            {
                                "time_unix_nano": str(t + 1000),
                                "severity_number": 9,
                                "body": {"string_value": "snake"},
                                "attributes": [{"key": "n", "value": {"int_value": 3}}],
                            }
                        ]
                    }
                ]
            }
        ]
    }
    big_ints = _req_logs(
        [
            {
                "timeUnixNano": str(t + 2000),
                "body": {"stringValue": "x"},
                "attributes": [
                    {"key": "i64", "value": {"intValue": "1234567890123456789"}},
                    {"key": "over", "value": {"intValue": str(2**63 + 5)}},
                ],
            }
        ],
        _SVC,
    )
    hostile = _req_logs(
        [
            {
                "timeUnixNano": str(t + 3000),
                "severityText": _HOSTILE,
                "body": {"stringValue": _HOSTILE},
                "attributes": [{"key": 'k"x\\', "value": {"stringValue": _HOSTILE}}],
            }
        ],
        _SVC,
    )
    doubles = _req_logs(
        [
            {
                "timeUnixNano": str(t + 4000),
                "severityNumber": "SEVERITY_NUMBER_WARN",
                "attributes": [
                    {"key": "a", "value": {"doubleValue": 8589934592.0}},
                    {"key": "b", "value": {"doubleValue": 0.25}},
                    {"key": "c", "value": {"doubleValue": 3}},
                    {"key": "d", "value": {"boolValue": True}},
                ],
            }
        ],
        _SVC,
    )
    ids = _req_logs(
        [
            {"timeUnixNano": str(t + 5000), "traceId": "px89Gm0tPK2zZpy9UOFl5A==", "spanId": "NCSdi4KfQRY="},
            {
                "timeUnixNano": str(t + 6000),
                "traceId": "a71f3d1a6d2d3cadb3669cbd50e165e4",
                "spanId": "34249d8b829f4116",
            },
        ],
        _SVC,
    )
    lines = [json.dumps(d) for d in (nested, snake, big_ints, hostile, doubles, ids)]
    # raw UTF-8 as well as \\uXXXX escapes
    lines.append(json.dumps(hostile, ensure_ascii=False))
    return lines


def _edge_trace_line() -> str:
    span = {
        "traceId": "a71f3d1a6d2d3cadb3669cbd50e165e4",
        "spanId": "34249d8b829f4116",
        "parentSpanId": "44e61d9ab30fcb06",
        "name": _HOSTILE,
        "kind": "SPAN_KIND_CLIENT",
        "startTimeUnixNano": str(gen.BASE_NS),
        "endTimeUnixNano": str(gen.BASE_NS + 367000000),
        "status": {"code": "STATUS_CODE_ERROR", "message": "boom"},
        "attributes": [{"key": "rpc.method", "value": {"stringValue": "Get"}}],
        "events": [
            {
                "timeUnixNano": str(gen.BASE_NS + 1000),
                "name": "retry",
                "attributes": [{"key": "n", "value": {"intValue": "2"}}],
            }
        ],
        "links": [{"traceId": "px89Gm0tPK2zZpy9UOFl5A==", "spanId": "NCSdi4KfQRY=", "attributes": []}],
    }
    return json.dumps(
        {
            "resourceSpans": [
                {
                    "resource": {"attributes": _SVC},
                    "scopeSpans": [{"scope": {"name": "sc"}, "spans": [span]}],
                }
            ]
        }
    )


@pytest.fixture(scope="module")
def landing(tmp_path_factory) -> str:
    root = str(tmp_path_factory.mktemp("ingest_paths") / "landing")
    gen.write_landing(
        root, 3, log_requests=6, log_records=12, trace_requests=4, trace_spans=9,
        metric_requests=4, metric_points=3, jsonl_lines=2,
    )
    fac = gen.RequestFactory(4, tag="x")
    trees = {
        "logs": lambda: fac.logs(5)[1],
        "traces": lambda: fac.traces(6)[1],
        "metrics": lambda: fac.metrics(2)[1],
    }
    # the cells write_landing leaves out, so each signal has every format
    for signal, fmt, gz in (
        ("logs", "json", False), ("logs", "jsonl", True),
        ("traces", "json", True), ("traces", "jsonl", True), ("traces", "pb", True),
        ("metrics", "jsonl", False), ("metrics", "pb", True), ("metrics", "json", True),
    ):
        os.makedirs(os.path.join(root, signal, fmt), exist_ok=True)
        name = os.path.join(root, signal, fmt, f"extra.{fmt}")
        gen._write(name, gen.render(trees[signal](), signal, fmt), gz)
    with open(os.path.join(root, "logs", "jsonl", "edge.jsonl"), "w", encoding="utf-8") as f:
        f.write("\n".join(_edge_log_lines()) + "\n")
    with open(os.path.join(root, "traces", "jsonl", "edge.jsonl"), "w", encoding="utf-8") as f:
        f.write(_edge_trace_line() + "\n")
    # rejected at admission: over the 8 MiB guard (a valid request repeated,
    # so a missing guard would add rows), and an unknown extension
    body = gen.render(fac.logs(50)[1], "logs", "pb")
    with open(os.path.join(root, "logs", "pb", "oversize.pb"), "wb") as f:
        f.write(body * ((9 << 20) // len(body) + 1))
    with open(os.path.join(root, "logs", "notes.txt"), "w") as f:
        f.write("not a payload\n")
    # quarantined at decode
    pb = gen.render(fac.metrics(2)[1], "metrics", "pb")
    with open(os.path.join(root, "metrics", "pb", "truncated.pb"), "wb") as f:
        f.write(pb[: len(pb) // 2])
    return root


def table_hash(df, table: str) -> tuple[int, str]:
    """(rows, order-independent hash) over the golden columns of `table`."""
    cols = [f.name for f in schemas.spark_schema(table).fields]
    digests = sorted(r[0] for r in df.select(F.sha2(F.to_json(F.struct(*cols)), 256)).collect())
    return len(digests), hashlib.sha256("".join(digests).encode()).hexdigest()[:16]


def _sidecar_codes(qdir: str) -> dict[str, str]:
    out = {}
    for p in glob.glob(os.path.join(qdir, "*.error.json")):
        with open(p) as f:
            side = json.load(f)
        out[os.path.basename(side["path"])] = side["code"]
    return out


def _ingest_hashes(spark, landing: str, qroot: str) -> dict:
    got = {}
    for signal, tables in SIGNAL_TABLES.items():
        qdir = os.path.join(qroot, signal)
        frames = ingest.ingest_directory(
            spark, os.path.join(landing, signal), signal, quarantine_dir=qdir
        )
        for t in tables:
            got[t] = table_hash(frames[t], t)
        if signal == "logs":
            got["_rejected"] = sorted(
                (os.path.basename(r.path), r.reason) for r in frames["_rejected"].collect()
            )
        if "_union" in frames:
            got["_skipped"] = {r["reason"]: r["count"] for r in frames["_skipped"].collect()}
            frames["_union"].unpersist()
    return got


def _expect(got: dict) -> None:
    assert {t: got[t] for t in PINNED} == PINNED


def test_ingest_directory_locality_lane(spark, landing, tmp_path):
    assert "content" not in ingest.read_landing_auto(spark, landing)[0].columns
    got = _ingest_hashes(spark, landing, str(tmp_path / "q"))
    _expect(got)
    assert got["_rejected"] == [("notes.txt", "unknown format"), ("oversize.pb", "payload too large")]
    assert got["_skipped"] == {"summaries": 18}
    assert _sidecar_codes(str(tmp_path / "q" / "metrics")) == {"truncated.pb": "E-PB"}


def test_ingest_directory_content_lane(spark, landing, tmp_path, monkeypatch):
    # bare paths resolve against fs.defaultFS; a non-local one routes the
    # shipped reader to the binaryFile content lane
    monkeypatch.setattr(ingest, "_default_fs_is_local", lambda spark: False)
    assert "content" in ingest.read_landing_auto(spark, landing)[0].columns
    got = _ingest_hashes(spark, landing, str(tmp_path / "q"))
    _expect(got)
    assert got["_rejected"] == [("notes.txt", "unknown format"), ("oversize.pb", "payload too large")]
    assert _sidecar_codes(str(tmp_path / "q" / "metrics")) == {"truncated.pb": "E-PB"}


STREAM_LAYOUT = {"logs": "parity", "traces": "parity", "metrics": "native"}


@pytest.fixture(scope="module")
def streamed(spark, landing, tmp_path_factory):
    """One available_now stream per signal, with quarantine; metrics write
    the native layout, logs and traces the parity one."""
    root = tmp_path_factory.mktemp("streamed")
    progress = {}
    for signal in SIGNAL_TABLES:
        q = sing.stream_ingest(
            spark, os.path.join(landing, signal), signal, str(root / "out"),
            str(root / "ckpt" / signal), layout=STREAM_LAYOUT[signal], available_now=True,
            quarantine_dir=str(root / "q" / signal),
        )
        q.awaitTermination(180)
        q.stop()
        progress[signal] = q.recentProgress
    return root, progress


def test_stream_ingest(spark, streamed):
    root, _ = streamed
    got = {
        t: table_hash(writer.read_table(spark, str(root / "out"), t, layout=STREAM_LAYOUT[s]), t)
        for s, tables in SIGNAL_TABLES.items()
        for t in tables
    }
    _expect(got)
    assert _sidecar_codes(str(root / "q" / "metrics")) == {"truncated.pb": "E-PB"}


def test_stream_counts_rejected_payloads(streamed):
    """Admission rejects are counted on the stream's own progress events
    (observe on the pre-filter frame), not dropped silently."""
    _, progress = streamed
    rejected = {
        s: sum(p["observedMetrics"]["landing"]["rejected"] for p in ps)
        for s, ps in progress.items()
    }
    assert rejected == {"logs": 2, "traces": 0, "metrics": 0}
    records = sum(p["observedMetrics"]["ingest"]["records"] for p in progress["logs"])
    assert records == PINNED["otel_logs"][0]


@pytest.mark.parametrize("layout", ["parity", "native"])
def test_cli_ingest(spark, landing, tmp_path, monkeypatch, capsys, layout):
    monkeypatch.setenv("OTLP2PARQUET_LAYOUT", layout)
    out = str(tmp_path / "out")
    written = {}
    for signal in SIGNAL_TABLES:
        qdir = str(tmp_path / "q" / signal)
        argv = ["--output", out, "ingest", os.path.join(landing, signal), signal, "--quarantine", qdir]
        assert cli.main(argv) == 0
        resp = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        written.update(resp["written"])
        assert resp["quarantined"] == ({"E-PB": 1} if signal == "metrics" else {})
    assert written == {t: rows for t, (rows, _) in PINNED.items()}
    got = {t: table_hash(writer.read_table(spark, out, t, layout=layout), t) for t in PINNED}
    _expect(got)


@pytest.mark.parametrize("signal", ["logs", "traces"])
def test_jsonl_line_split_matches_file_payload(spark, landing, signal):
    src = os.path.join(landing, signal, "jsonl")
    table = SIGNAL_TABLES[signal][0]
    lines = table_hash(ingest.ingest_jsonl_fast(spark, src, signal), table)
    payloads, _ = ingest.read_landing_auto(spark, src)
    decoded = ingest.decode_signal(payloads, signal)[table]
    assert lines == table_hash(decoded, table) == PINNED_JSONL[table]
