"""OTLP ingest pipeline tests (SURVEY.md §5 mirror).

- golden-file equality: decode every reference fixture (pb + json + jsonl)
  and compare cell-by-cell against the reference's golden Parquet — its
  own expected-output oracle (mirror of its golden tests); these run only
  where the reference snapshot is present;
- invalid-corpus hard errors (mirror reference tests/e2e.rs:238-318);
- end-to-end: landing dir -> Spark decode -> partitioned write (both
  layouts) -> spark + duckdb read-back row counts (mirror tests/smoke.rs).
"""

from __future__ import annotations

import glob
import gzip
import json
import math
import os
import re
import shutil
import sys

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from otlp2parquet_spark import cli
from otlp2parquet_spark.otel import flatten, ingest, otlp_json, schemas, wire, writer
from otlp2parquet_spark.otel.wire import OtlpDecodeError
from otlp_fixtures import REFERENCE_TESTDATA, testdata_dir

sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))

import gen  # noqa: E402

TD = testdata_dir()
GOLDEN_DIR = f"{REFERENCE_TESTDATA}/parquet"
# the Rust-written goldens, and the exact inputs they were written from,
# exist only in the reference snapshot
needs_golden = pytest.mark.skipif(
    not os.path.isdir(GOLDEN_DIR),
    reason=f"needs the reference's golden Parquet directory {GOLDEN_DIR}",
)

FIXTURES = [
    # (fixture stem, signal, golden parquet stem, metric type or None, rows)
    ("logs", "logs", "logs", None, 81),
    ("traces", "traces", "traces", None, 19),
    ("metrics_gauge", "metrics", "metrics_gauge", "gauge", 3),
    ("metrics_sum", "metrics", "metrics_sum", "sum", 4),
    ("metrics_histogram", "metrics", "metrics_histogram", "histogram", 3),
    (
        "metrics_exponential_histogram",
        "metrics",
        "metrics_exponential_histogram",
        "exponential_histogram",
        2,
    ),
    ("metrics_summary", "metrics", "metrics_summary", "summary", 2),
]


def _decode_file(path: str, signal: str) -> list[dict]:
    content = open(path, "rb").read()
    fmt = ingest.payload_format(path)
    reqs = ingest._parse_payload(content, fmt, signal)
    rows = []
    for req in reqs:
        if signal == "logs":
            rows += flatten.flatten_logs(req)
        elif signal == "traces":
            rows += flatten.flatten_traces(req)
        else:
            per_type, _ = flatten.flatten_metrics(req)
            rows.append(per_type)  # caller picks the type
    return rows


def _golden_cell(ref, is_ts: bool, is_ts_list: bool):
    import numpy as np

    if is_ts_list:
        return [pd.Timestamp(x).value // 1000 for x in ref]
    if is_ts:
        return None if pd.isna(ref) else ref.value // 1000
    if isinstance(ref, np.ndarray):
        return ref.tolist()
    if isinstance(ref, np.integer):
        return int(ref)
    if isinstance(ref, np.floating):
        v = float(ref)
        return None if math.isnan(v) else v
    if ref is pd.NA:
        return None
    return ref


def _timestamp_columns(table: str) -> dict[str, bool]:
    """{column: is_list} for the golden timestamp and list<timestamp> columns."""
    out = {}
    for name, typ, _ in schemas.TABLE_COLUMNS[table]:
        if typ == schemas.TS:
            out[name] = False
        elif pa.types.is_list(typ) and typ.value_field.type == schemas.TS:
            out[name] = True
    return out


def _assert_rows_match_golden(rows: list[dict], golden_stem: str, table: str):
    g = pq.read_table(f"{GOLDEN_DIR}/{golden_stem}.parquet").to_pandas()
    ts_cols = _timestamp_columns(table)
    assert len(rows) == len(g), f"row count {len(rows)} != {len(g)}"
    for i, row in enumerate(rows):
        for col in g.columns:
            ref = _golden_cell(g.iloc[i][col], ts_cols.get(col) is False, ts_cols.get(col) is True)
            assert row[col] == ref or (row[col] is None and ref is None), (
                f"{golden_stem} row {i} col {col}: {row[col]!r} != {ref!r}"
            )


@needs_golden
@pytest.mark.parametrize("fmt", ["pb", "json", "jsonl"])
@pytest.mark.parametrize("stem,signal,golden,mtype,nrows", FIXTURES)
def test_golden_parity(stem, signal, golden, mtype, nrows, fmt):
    """Every fixture x wire format decodes bit-identical to the golden file."""
    path = f"{REFERENCE_TESTDATA}/{stem}.{fmt}"
    if not os.path.exists(path):  # logs has log.json (single record) not logs.json
        pytest.skip(f"no fixture {path}")
    content = open(path, "rb").read()
    reqs = ingest._parse_payload(content, fmt, signal)
    if signal == "metrics":
        rows = []
        for req in reqs:
            per_type, _ = flatten.flatten_metrics(req)
            rows += per_type[mtype]
        table = schemas.METRIC_TABLES[mtype]
    else:
        flat = flatten.flatten_logs if signal == "logs" else flatten.flatten_traces
        rows = [r for req in reqs for r in flat(req)]
        table = f"otel_{signal}"
    assert len(rows) == nrows
    _assert_rows_match_golden(rows, golden, table)


def test_mixed_metrics_type_split():
    """metrics_mixed routes one request to 3 tables (D10)."""
    req = wire.parse_request_pb(open(f"{TD}/metrics_mixed.pb", "rb").read(), "metrics")
    per_type, skipped = flatten.flatten_metrics(req)
    assert {k: len(v) for k, v in per_type.items() if v} == {
        "gauge": 1,
        "sum": 1,
        "histogram": 1,
    }
    assert not any(skipped.values())


def test_summary_skip_accounting():
    """Summary points are counted-and-dropped (reference tests/e2e.rs:114-126)."""
    req = wire.parse_request_pb(open(f"{TD}/metrics_summary.pb", "rb").read(), "metrics")
    per_type, skipped = flatten.flatten_metrics(req)
    assert skipped["summaries"] == 2
    assert len(per_type["summary"]) == 2  # schema rows still produced


INVALID_EXPECT = {
    "log_invalid_severity.json": "logs",
    "malformed.json": "logs",
    "metrics_invalid_temporality.json": "metrics",
    "trace_invalid_base64.json": "traces",
    "trace_invalid_kind.json": "traces",
    "trace_mixed_encoding.json": "traces",
}


@pytest.mark.parametrize("name,signal", sorted(INVALID_EXPECT.items()))
def test_invalid_corpus_hard_errors(name, signal):
    """Negative corpus: every file is a hard error (testdata/invalid/README.md)."""
    body = open(f"{TD}/invalid/{name}", "rb").read()
    with pytest.raises(OtlpDecodeError):
        req = otlp_json.parse_request_json(body, signal)
        if signal == "logs":
            flatten.flatten_logs(req)
        elif signal == "traces":
            flatten.flatten_traces(req)
        else:
            flatten.flatten_metrics(req)


def test_base64_and_hex_ids_both_accepted():
    """JSON IDs decode from base64 (protobuf-JSON) and hex alike (D6)."""
    b64 = otlp_json.decode_id_bytes("px89Gm0tPK2zZpy9UOFl5A==", "t")
    assert len(b64) == 16
    hx = otlp_json.decode_id_bytes("69842a979911036cf3e822086ecaa007", "t")
    assert hx.hex() == "69842a979911036cf3e822086ecaa007"


def test_sanitize_service_name():
    """D22 twin of reference src/writer/write.rs:242-250."""
    assert writer.sanitize_service_name('a/b\\c:d*e?f"g<h>i|j k') == "a_b_c_d_e_f_g_h_i_j_k"
    assert writer.sanitize_service_name("") == "unknown-service"
    assert writer.sanitize_service_name(None) == "unknown-service"
    assert writer.sanitize_service_name("ok-name") == "ok-name"


def test_generate_parquet_path():
    """D21 path builder: layout + ts-based partition dirs + now() fallback."""
    ts = 1760741572254301  # µs
    p = writer.generate_parquet_path("/out", "otel_logs", "svc a", ts)
    assert p.startswith("/out/logs/svc_a/year=2025/month=10/day=17/hour=22/")
    assert p.endswith(".parquet") and os.path.basename(p).startswith(f"{ts}-")
    p2 = writer.generate_parquet_path("/out", "otel_metrics_gauge", "s", 0)
    assert "/metrics/gauge/s/year=" in p2  # now() fallback produced a real date


# ---------------------------------------------------------------------------
# Spark end-to-end


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    """Landing dir with every signal in every format (+ one gzip payload)."""
    root = tmp_path_factory.mktemp("landing")
    for sig, stems in [
        ("logs", ["logs"]),
        ("traces", ["traces"]),
        ("metrics", ["metrics_gauge", "metrics_sum", "metrics_histogram",
                     "metrics_exponential_histogram", "metrics_summary", "metrics_mixed"]),
    ]:
        d = root / sig
        d.mkdir()
        for stem in stems:
            for fmt in ("pb", "json", "jsonl"):
                src = f"{TD}/{stem}.{fmt}"
                if os.path.exists(src):
                    shutil.copy(src, d / f"{stem}.{fmt}")
    # gzip variant exercises D2
    raw = open(f"{TD}/logs.jsonl", "rb").read()
    (root / "logs" / "logs_gz.jsonl.gz").write_bytes(gzip.compress(raw))
    # oversized + unknown-extension files exercise D4/D3 rejection
    (root / "logs" / "oversize.pb").write_bytes(b"x" * (9 * 1024 * 1024))
    (root / "logs" / "notes.txt").write_bytes(b"not otlp")
    return root


def test_spark_ingest_logs_counts(spark, landing):
    payloads, rejected = ingest.read_landing_auto(spark, str(landing / "logs"))
    # oversize.pb (9 MiB > default 8 MiB guard) and notes.txt rejected
    rej = {os.path.basename(r.path): r.reason for r in rejected.collect()}
    assert rej == {"oversize.pb": "payload too large", "notes.txt": "unknown format"}
    payloads, _ = ingest.read_landing_auto(spark, str(landing / "logs"))
    df = ingest.decode_logs(payloads.filter(~payloads.path.contains("oversize")))
    # logs.pb + log.json? (not copied) + logs.jsonl + gz copy: 81 * 3
    assert df.count() == 81 * 3
    assert [f.name for f in df.schema.fields] == [c for c, _, _ in schemas.LOGS_COLUMNS]


def test_spark_ingest_metrics_split_and_skips(spark, landing):
    out = ingest.ingest_directory(spark, str(landing / "metrics"), "metrics")
    counts = {k: v.count() for k, v in out.items() if not k.startswith("_")}
    # per format: gauge 3+1(mixed), sum 4+1, histogram 3+1, exp 2 — ×3 formats
    assert counts == {
        "otel_metrics_gauge": 12,
        "otel_metrics_sum": 15,
        "otel_metrics_histogram": 12,
        "otel_metrics_exponential_histogram": 6,
    }
    skips = {r.reason: r["count"] for r in out["_skipped"].collect()}
    assert skips == {"summaries": 6}  # metrics_summary × 3 formats, 2 points each


@pytest.mark.parametrize("layout", ["parity", "native"])
def test_write_read_roundtrip(spark, landing, tmp_path, layout):
    """Decode -> partitioned write -> Spark + DuckDB read-back (smoke twin)."""
    payloads, _ = ingest.read_landing_auto(spark, str(landing / "traces"))
    df = ingest.decode_signal(payloads, "traces")["otel_traces"]
    root = str(tmp_path / layout)
    if layout == "parity":
        acct = writer.write_partitioned(df, "otel_traces", root).collect()
        assert sum(r.rows for r in acct) == 19 * 2  # traces.pb + traces.jsonl (no traces.json fixture)
        files = [r.path for r in acct]
        # layout: root/traces/{service}/year=/month=/day=/hour=/{ts}-{uuid}.parquet
        for p in files:
            rel = os.path.relpath(p, root)
            parts = rel.split(os.sep)
            assert parts[0] == "traces"
            assert [seg.split("=")[0] for seg in parts[2:6]] == ["year", "month", "day", "hour"]
        # golden footer metadata + field_ids survive the parity writer
        sch = pq.ParquetFile(files[0]).schema_arrow
        assert sch.metadata[b"otlp2parquet.traces_schema_version"] == b"1.0.0"
        assert sch.field(0).metadata[b"PARQUET:field_id"] == b"1"
    else:
        writer.write_native(df, "otel_traces", root)
    back = writer.read_table(spark, root, "otel_traces", layout=layout)
    assert back.count() == 19 * 2
    # DuckDB sees the same rows (external-engine oracle, reference smoke test)
    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{root}/traces/**/*.parquet')"
    ).fetchone()[0]
    assert n == 19 * 2
    if layout == "native":
        # service is a real prunable partition column in native mode
        assert "service" in [f.name for f in back.schema.fields]
        svc = back.filter(back.service == "product-catalog")
        plan = svc._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PartitionFilters: \[[^\]]*\(service#\d+ = product-catalog\)", plan), plan
        assert svc.count() > 0


def test_native_write_of_empty_table_returns_zero(spark, tmp_path):
    """write_table returns the rows written: a native write of an empty
    decoded table is 0 (metrics_mixed has no exponential-histogram point),
    and a non-empty one still counts its rows through the same probe."""
    d = tmp_path / "metrics"
    d.mkdir()
    shutil.copy(f"{TD}/metrics_mixed.pb", d / "metrics_mixed.pb")
    out = ingest.ingest_directory(spark, str(d), "metrics")
    root = str(tmp_path / "native")
    for table, rows in [
        ("otel_metrics_exponential_histogram", 0),
        ("otel_metrics_gauge", 1),
    ]:
        assert writer.write_table(out[table], table, root, layout="native") == rows, table
    out["_union"].unpersist()


@needs_golden
def test_parity_writer_matches_golden_bytes(spark, tmp_path):
    """Logs written by the parity writer read back cell-identical to golden
    (uint32 TraceFlags preserved at the parquet level)."""
    (tmp_path / "in").mkdir()
    shutil.copy(f"{REFERENCE_TESTDATA}/logs.pb", tmp_path / "in" / "logs.pb")
    payloads, _ = ingest.read_landing_auto(spark, str(tmp_path / "in"))
    df = ingest.decode_logs(payloads)
    root = str(tmp_path / "golden")
    writer.write_partitioned(df, "otel_logs", root).collect()
    files = glob.glob(f"{root}/logs/**/*.parquet", recursive=True)
    import pyarrow as pa

    # per-file read: keeps the on-disk schema (pq.read_table over a file list
    # would hive-infer year=/month= dirs as extra columns)
    mine = pa.concat_tables([pq.ParquetFile(f).read() for f in files])
    golden = pq.read_table(f"{GOLDEN_DIR}/logs.parquet")
    assert mine.schema.field("TraceFlags").type == "uint32"
    ms = mine.to_pandas().sort_values(["Timestamp", "ServiceName", "Body"]).reset_index(drop=True)
    gs = golden.to_pandas().sort_values(["Timestamp", "ServiceName", "Body"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(ms[sorted(ms.columns)], gs[sorted(gs.columns)])


def test_jsonl_line_split_ingest(spark, tmp_path):
    """S3 scale path: one large JSONL file decodes across many tasks via the
    line-splitting text source, same results as the whole-file payload path."""
    src = open(f"{TD}/logs.jsonl").read()
    big = tmp_path / "big.jsonl"
    big.write_text(src * 10)  # 810 records in one file
    lines = ingest.read_landing_lines(spark, str(big))
    df = ingest.decode_logs(lines)
    assert df.count() == 81 * 10
    # same decoded content as the whole-file path
    whole_dir = tmp_path / "whole"
    whole_dir.mkdir()
    shutil.copy(big, whole_dir / "big.jsonl")
    payloads, _ = ingest.read_landing_auto(spark, str(whole_dir))
    df2 = ingest.decode_logs(payloads)
    a = sorted((r.Timestamp, r.ServiceName, r.Body) for r in df.collect())
    b = sorted((r.Timestamp, r.ServiceName, r.Body) for r in df2.collect())
    assert a == b


def test_generate_parquet_path_deterministic_sentinel():
    """ADVICE r1: with a deterministic file_id, ts<=0 must NOT fall back to
    now() — a replayed task re-derives the same 1970-sentinel path."""
    p = writer.generate_parquet_path("/out", "otel_logs", "s", 0, file_id="abc")
    assert "/year=1970/month=01/day=01/hour=00/" in p
    assert p.endswith("/0-abc.parquet")
    assert writer.generate_parquet_path("/out", "otel_logs", "s", 0, file_id="abc") == p
    # without file_id the reference's now() fallback behavior is preserved
    p2 = writer.generate_parquet_path("/out", "otel_logs", "s", 0)
    assert "/year=1970/" not in p2


def test_parity_writer_reexecution_idempotent(spark, landing, tmp_path):
    """ADVICE r1: batch parity writes are task-retry-safe — re-evaluating the
    accounting frame (== a retried/speculative task) overwrites the same
    deterministic paths instead of duplicating files."""
    payloads, _ = ingest.read_landing_auto(spark, str(landing / "traces"))
    df = ingest.decode_signal(payloads, "traces")["otel_traces"]
    root = str(tmp_path / "idem")
    acct = writer.write_partitioned(df, "otel_traces", root)
    first = sorted(r.path for r in acct.collect())
    second = sorted(r.path for r in acct.collect())
    assert first == second
    on_disk = sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))
    assert on_disk == first
    # distinct plans (runs) still append distinct files
    writer.write_partitioned(df, "otel_traces", root).collect()
    assert len(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)) == 2 * len(first)


def test_parity_writer_file_uri_root(spark, landing, tmp_path):
    """D24: an object-store-style URI root routes through pyarrow.fs on the
    executors (file:// stands in for s3:// — same code path)."""
    payloads, _ = ingest.read_landing_auto(spark, str(landing / "traces"))
    df = ingest.decode_signal(payloads, "traces")["otel_traces"]
    root_dir = tmp_path / "uri_root"
    acct = writer.write_partitioned(df, "otel_traces", f"file://{root_dir}").collect()
    assert sum(r.rows for r in acct) == df.count() > 0
    assert all(r.path.startswith("file://") for r in acct)
    files = list(root_dir.rglob("*.parquet"))
    assert files
    back = writer.read_table(spark, f"file://{root_dir}", "otel_traces")
    assert back.count() == df.count()


def _plan_nodes(plan) -> list[str]:
    """Node names of a physical plan, not descending into the plan a cached
    relation was built from (an inner child, not a child)."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    children = plan.children()
    names = [plan.nodeName()]
    for i in range(children.size()):
        names += _plan_nodes(children.apply(i))
    return names


def test_metrics_fanout_single_decode_job(spark, landing):
    """The 5-way metrics fan-out (4 tables + skip accounting) must run ONE
    decode pass over the payloads: the union frame is persisted inside
    ingest_directory, mirroring the streaming micro-batch persist, so each
    consumer's plan reads the cached union and runs no decode of its own."""
    out = ingest.ingest_directory(spark, str(landing / "metrics"), "metrics")
    consumers = [df for name, df in out.items() if not name.startswith("_")] + [out["_skipped"]]
    assert len(consumers) == 5
    for df in consumers:
        nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())
        assert "InMemoryTableScan" in nodes and "MapInArrow" not in nodes, nodes
        df.count()  # one action per consumer, like the CLI write loop
    assert out["_union"].is_cached
    out["_union"].unpersist()


INVALID_TD = f"{TD}/invalid"


def test_quarantine_invalid_corpus(spark, tmp_path):
    """D25: the reference's invalid corpus (testdata/invalid/README.md) lands
    in the quarantine dir with typed reasons; valid payloads still decode and
    the pipeline continues (no raise)."""
    cases = {
        "logs": {"log_invalid_severity.json": "E-ENUM", "malformed.json": "E-JSON"},
        "traces": {
            "trace_invalid_base64.json": "E-ID",
            "trace_invalid_kind.json": "E-ENUM",
            "trace_mixed_encoding.json": "E-ID",
        },
        "metrics": {"metrics_invalid_temporality.json": "E-ENUM-TEMPORALITY"},
    }
    valid = {"logs": "log.json", "traces": "traces.pb", "metrics": "metrics_gauge.pb"}
    for sig, bad in cases.items():
        d = tmp_path / sig
        d.mkdir()
        shutil.copy(f"{TD}/{valid[sig]}", d / valid[sig])
        for f in bad:
            shutil.copy(f"{INVALID_TD}/{f}", d / f)
        qdir = str(tmp_path / f"quarantine_{sig}")
        out = ingest.ingest_directory(spark, str(d), sig, quarantine_dir=qdir)
        # valid payloads decode; invalid ones are absent, pipeline continues
        total = sum(df.count() for name, df in out.items() if not name.startswith("_"))
        assert total > 0
        q = {r.path.split("/")[-1]: r.code for r in ingest.read_quarantine(spark, qdir).collect()}
        assert q == bad, sig
        # payload copy + sidecar both present, deterministically named
        # (basename + 8-hex path hash, so same-named files in different
        # source dirs never clobber each other)
        for f in bad:
            copies = glob.glob(str(tmp_path / f"quarantine_{sig}" / (f + ".*")))
            names = {os.path.basename(c) for c in copies}
            payload = [n for n in names if not n.endswith(".error.json")]
            assert len(payload) == 1 and len(payload[0]) == len(f) + 9
            assert payload[0] + ".error.json" in names
        if "_union" in out:
            out["_union"].unpersist()


def test_quarantine_same_basename_no_clobber(tmp_path):
    """ADVICE r2: two bad payloads with the same basename in different
    source subdirectories must land as distinct quarantine files."""
    err = wire.OtlpDecodeError("boom")
    qdir = str(tmp_path / "q")
    ingest._write_quarantine(qdir, "a/x.pb", b"payload-a", err)
    ingest._write_quarantine(qdir, "b/x.pb", b"payload-b", err)
    payloads = sorted(
        p for p in os.listdir(qdir) if not p.endswith(".error.json")
    )
    assert len(payloads) == 2
    contents = {open(os.path.join(qdir, p), "rb").read() for p in payloads}
    assert contents == {b"payload-a", b"payload-b"}
    # retried/speculative task with the SAME full path still overwrites
    ingest._write_quarantine(qdir, "a/x.pb", b"payload-a", err)
    assert len([p for p in os.listdir(qdir) if not p.endswith(".error.json")]) == 2


def test_decode_error_raises_without_quarantine_dir(tmp_path):
    """No quarantine dir: the payload's error propagates and nothing is
    written. With one: it is quarantined, not raised."""
    err = wire.OtlpDecodeError("x")
    with pytest.raises(wire.OtlpDecodeError) as raised:
        ingest._handle_decode_error(err, None, "p", b"")
    assert raised.value is err and not os.listdir(tmp_path)
    ingest._handle_decode_error(err, str(tmp_path), "p", b"")
    assert os.listdir(tmp_path)


def test_auto_lane_routes_by_source_and_matches_content_lane(spark, landing):
    """read_landing_auto is the shipped batch path: its scan ships no
    content column (each payload is read from its path in the decode task),
    and its decoded rows equal those of the same files' bytes handed to the
    kernel as a content column."""
    logs_dir = str(landing / "logs")
    auto, _ = ingest.read_landing_auto(spark, logs_dir)
    assert "content" not in auto.columns
    content = auto.join(
        spark.read.format("binaryFile").load(logs_dir).select("path", "content"), "path"
    )
    a = sorted(map(tuple, ingest.decode_logs(auto).collect()), key=repr)
    b = sorted(map(tuple, ingest.decode_logs(content).collect()), key=repr)
    assert a == b and a


def test_locality_lane_quarantine_parity(spark, landing, tmp_path):
    """A malformed payload quarantines while the good one decodes."""
    bad_dir = tmp_path / "bad-landing"
    bad_dir.mkdir()
    shutil.copy(f"{TD}/logs.pb", bad_dir / "good.pb")
    (bad_dir / "bad.pb").write_bytes(b"\x0a\x03xx")  # truncated message
    payloads, _ = ingest.read_landing_auto(spark, str(bad_dir))
    qdir = str(tmp_path / "q")
    n = ingest.decode_logs(payloads, quarantine_dir=qdir).count()
    assert n == 81  # the good payload decoded
    qfiles = sorted(os.path.basename(p) for p in __import__("glob").glob(f"{qdir}/*"))
    assert any(f.startswith("bad.pb") and f.endswith(".error.json") for f in qfiles), qfiles


def test_payload_paths_are_read_raw(spark, tmp_path):
    """binaryFile prints paths unescaped, so a payload named with a space,
    `#` and `%41` is read from exactly that name, never URI-decoded."""
    d = tmp_path / "land ing"
    d.mkdir()
    shutil.copy(f"{TD}/logs.pb", d / "a b#c%41.pb")
    payloads, _ = ingest.read_landing_auto(spark, str(d))
    qdir = str(tmp_path / "q")
    assert ingest.decode_logs(payloads, quarantine_dir=qdir).count() == 81
    assert not os.path.exists(qdir)


def test_locality_read_failure_quarantines_without_empty_payload(spark, tmp_path):
    """ADVICE r6 (ingest.py path-only scan): when the payload file vanishes
    between the listing scan and the decode task, the quarantine record must
    NOT be an empty payload copy (replay would silently lose the bytes) —
    sidecar only, with `payload_at` pointing at the original source path."""
    d = tmp_path / "landing"
    d.mkdir()
    shutil.copy(f"{TD}/logs.pb", d / "good.pb")
    doomed = d / "doomed.pb"
    doomed.write_bytes(open(f"{TD}/logs.pb", "rb").read())
    meta, _ = ingest.read_landing_auto(spark, str(d))
    meta = meta.cache()
    assert meta.count() == 2  # listing done, bytes not yet read
    doomed.unlink()  # rotate the file away before the decode task runs
    qdir = str(tmp_path / "q")
    n = ingest.decode_logs(meta, quarantine_dir=qdir).count()
    meta.unpersist()
    assert n == 81  # the good payload decoded; pipeline continued
    files = sorted(os.listdir(qdir))
    sidecars = [f for f in files if f.endswith(".error.json")]
    payload_copies = [f for f in files if not f.endswith(".error.json")]
    assert len(sidecars) == 1 and "doomed.pb" in sidecars[0]
    assert payload_copies == []  # no empty-bytes artifact
    import json as _json

    side = _json.load(open(os.path.join(qdir, sidecars[0])))
    assert side["payload_at"].endswith("doomed.pb")
    assert "read failed" in side["error"]


def test_corrupt_gzip_and_bad_utf8_quarantine_not_crash(spark, tmp_path):
    """Round-6 review finding: corrupted gzip (zlib.error/EOFError) and
    non-UTF-8 JSONL (UnicodeDecodeError) must quarantine the one payload,
    never escape as a bare exception that fails the whole Spark task —
    the same contract the float({}) guard enforces for walker errors."""
    bad_dir = tmp_path / "landing"
    bad_dir.mkdir()
    shutil.copy(f"{TD}/logs.pb", bad_dir / "good.pb")
    (bad_dir / "trunc.pb.gz").write_bytes(b"\x1f\x8b" + b"\x00" * 10)  # corrupt gzip
    (bad_dir / "bad_utf8.jsonl").write_bytes(b'{"resourceLogs": []}\n\xff\xfe{')
    payloads, _ = ingest.read_landing_auto(spark, str(bad_dir))
    qdir = str(tmp_path / "quarantine")
    n = ingest.decode_logs(payloads, quarantine_dir=qdir).count()
    assert n == 81  # only the good payload's rows
    import glob as _glob

    sidecars = sorted(
        os.path.basename(p)
        for p in _glob.glob(f"{qdir}/*.error.json")
    )
    assert len(sidecars) == 2 and any("trunc" in s for s in sidecars) and any(
        "bad_utf8" in s for s in sidecars
    ), sidecars


def test_payload_format_col_equals_python_twin(spark):
    """The JVM-side regexp format tagger (payload_format_col) must agree
    with the Python reference (payload_format) over adversarial paths —
    the scan lane replaced the package's last row-at-a-time F.udf with
    the column form in r9, so their equality IS the scan's correctness."""
    from pyspark.sql import functions as F

    from otlp2parquet_spark.otel.ingest import payload_format, payload_format_col

    paths = [
        "a.pb", "a.json", "a.jsonl", "A.JSONL", "a.pb.gz", "A.PB.GZ",
        "a.pb.gz.gz", "a.gz", "a.tar.gz", "a", "pb", ".pb", ".pb.gz",
        "a.pbx", "a.xpb", "a.json5", "dir/x.y.pb", "dir.pb/x", "s3://b/k.jsonl.gz",
        "a.", "a..pb", "a.pb.", "a.PB", "weird .pb", "tab\t.json",
        # trailing line terminators: Java's $ matches BEFORE a final \n,
        # so the column form must anchor with \z to agree with Python
        "x.pb\n", "x.json\r\n", "x.pb.gz\n", "x\n.pb",
    ]
    want = [payload_format(p) for p in paths]
    got = [
        r.fmt
        for r in spark.createDataFrame([(p,) for p in paths], "path string")
        .select(payload_format_col(F.col("path")).alias("fmt"))
        .collect()
    ]
    assert got == want, list(zip(paths, got, want))


def test_cli_ingest_summary_counts_rejected_and_skipped(spark, tmp_path, monkeypatch, capsys):
    """`cli ingest` says what it did not write: the landing files the
    admission rule rejected (over the configured request.max_payload_bytes,
    unknown format) and the metrics data points it skipped (summaries)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _, tree = gen.RequestFactory(11).metrics(1)  # one point of each of the 5 types
    (landing / "small.pb").write_bytes(gen.render(tree, "metrics", "pb"))
    _, tree = gen.RequestFactory(12).metrics(20)
    (landing / "big.pb").write_bytes(gen.render(tree, "metrics", "pb"))
    (landing / "notes.txt").write_bytes(b"not otlp")
    limit = 4096
    assert os.path.getsize(landing / "small.pb") <= limit < os.path.getsize(landing / "big.pb")
    monkeypatch.setenv("OTLP2PARQUET_CONFIG_CONTENT", f"[request]\nmax_payload_bytes = {limit}\n")

    argv = ["--output", str(tmp_path / "out"), "ingest", str(landing), "metrics"]
    assert cli.main(argv) == 0
    resp = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert resp["written"] == dict.fromkeys(
        (schemas.METRIC_TABLES[t] for t in schemas.PERSISTED_METRIC_TYPES), 1
    )
    assert resp["rejected"] == {"payload too large": 1, "unknown format": 1}
    assert resp["skipped"] == {"summaries": 1}
