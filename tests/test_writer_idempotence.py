"""Exactly-once contract of the parity sink under task retry / speculative
execution (round-5 verdict ask #8): the deterministic `{run_tag}-{group
hash}-{chunk}` naming claims a re-executed write overwrites its own first
attempt instead of duplicating it. These tests force the double-write and
assert the file SET and the file BYTES are identical — for the batch
writer and for the foreachBatch sink's write path (write_partitioned with
run_tag=epochN, exactly what streaming/ingest._write calls per
micro-batch).

Byte-identity is the strong form: pyarrow's writer is deterministic given
the same rows in the same order, and the writer streams each group sorted
by Timestamp (nulls last), cutting a file every `max_rows_per_file` rows.
Rows tied on Timestamp keep shuffle arrival order, so byte-identity is
guaranteed when Timestamp orders rows — true for the payloads built here
(every record has its own timestamp) and for the sink's re-executed plan
(same shuffle, same arrival order). The contract the sink NEEDS — same
file set, no duplicated rows — holds regardless of tie order, and is
asserted separately via the path set and row counts.

The payloads are OTLP protobuf built in-repo with the descriptor-driven
encoder of tests/test_wire_property.py.
"""

from __future__ import annotations

import glob
import hashlib
import math

import pyarrow.parquet as pq

from otlp2parquet_spark.otel import ingest, writer
from tests.test_wire_property import encode_message

BASE_NS = 1_705_312_800_000_000_000  # 2024-01-15T10:00:00Z


def logs_payload(services: dict[str, int], step_s: int = 7) -> bytes:
    """ExportLogsServiceRequest with `n` records per service, `step_s`
    seconds apart, listed newest first so the writer's sort matters."""
    resource_logs = []
    for si, (service, n) in enumerate(services.items()):
        records = [
            {
                "time_unix_nano": BASE_NS + (i * step_s + si) * 1_000_000_000,
                "observed_time_unix_nano": BASE_NS + (i * step_s + si) * 1_000_000_000 + 5,
                "severity_number": 9 + i % 8,
                "severity_text": ("INFO", "WARN", "ERROR")[i % 3],
                "body": {"string_value": f"{service} message {i}"},
                "attributes": [{"key": "seq", "value": {"int_value": i}}],
                "trace_id": hashlib.sha256(f"{service}{i}".encode()).digest()[:16],
                "span_id": hashlib.sha256(f"{service}{i}".encode()).digest()[16:24],
            }
            for i in reversed(range(n))
        ]
        resource_logs.append(
            {
                "resource": {
                    "attributes": [{"key": "service.name", "value": {"string_value": service}}]
                },
                "scope_logs": [{"scope": {"name": "writer-test", "version": "1"}, "log_records": records}],
            }
        )
    return encode_message({"resource_logs": resource_logs}, "ExportLogsServiceRequest")


def _decoded(spark, services: dict[str, int] | None = None, step_s: int = 7):
    payload = logs_payload(services or {"checkout": 40, "payments api": 25, "": 16}, step_s)
    payloads = spark.createDataFrame(
        [("m.pb", bytearray(payload), "pb")],
        "path string, content binary, fmt string",
    )
    return ingest.decode_logs(payloads)


def _digests(out: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(f, "rb").read()).hexdigest()
        for f in sorted(glob.glob(f"{out}/logs/**/*.parquet", recursive=True))
    }


def test_batch_writer_double_write_is_byte_identical(spark, tmp_path):
    out = str(tmp_path / "lake")
    df = _decoded(spark)
    n = df.count()
    acct1 = writer.write_partitioned(df, "otel_logs", out, run_tag="retry-tag").collect()
    first = _digests(out)
    assert len(first) == len(acct1) > 1

    # forced re-execution of the same plan with the same tag (what a
    # speculative duplicate or retried task does)
    acct2 = writer.write_partitioned(df, "otel_logs", out, run_tag="retry-tag").collect()
    second = _digests(out)
    assert second == first  # same file set, same bytes — no duplicates
    assert sorted(map(tuple, acct1)) == sorted(map(tuple, acct2))
    assert writer.read_table(spark, out, "otel_logs").count() == n


def test_streaming_sink_epoch_replay_is_byte_identical(spark, tmp_path):
    """The foreachBatch sink's exact write call (bucket=minute,
    run_tag=epochN): a replayed micro-batch epoch must converge on the
    identical file set."""
    out = str(tmp_path / "stream-lake")
    df = _decoded(spark)
    n = df.count()
    writer.write_partitioned(
        df, "otel_logs", out, bucket="minute", run_tag="epoch42"
    ).collect()
    first = _digests(out)
    assert len(first) > 3  # records 7 s apart span several minutes

    writer.write_partitioned(
        df, "otel_logs", out, bucket="minute", run_tag="epoch42"
    ).collect()
    assert _digests(out) == first
    assert writer.read_table(spark, out, "otel_logs").count() == n

    # a DIFFERENT epoch over new data appends instead of overwriting
    writer.write_partitioned(
        df, "otel_logs", out, bucket="minute", run_tag="epoch43"
    ).collect()
    assert writer.read_table(spark, out, "otel_logs").count() == 2 * n


def test_hot_group_is_cut_into_sorted_files(spark, tmp_path):
    """One (service, hour) group of n > max_rows_per_file rows becomes
    ceil(n / max) files, each sorted by Timestamp, with disjoint time
    ranges and n rows in total; a rewrite with the same run_tag gives the
    same paths and bytes. Arrow batches of 64 rows make the writer carry
    rows across batch and file boundaries."""
    n, max_rows = 2_345, 500
    df = _decoded(spark, {"hot-svc": n}, step_s=1)  # 39 minutes: one hour
    out = str(tmp_path / "hot")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        acct = writer.write_partitioned(
            df, "otel_logs", out, max_rows_per_file=max_rows, run_tag="hot"
        ).collect()
    finally:
        spark.conf.set(key, before)
    assert len(acct) == math.ceil(n / max_rows)
    assert sum(r.rows for r in acct) == n
    assert sorted(r.rows for r in acct) == [n % max_rows] + [max_rows] * (n // max_rows)
    ranges = []
    for r in acct:
        ts = pq.read_table(r.path).column("Timestamp").to_pylist()
        assert len(ts) == r.rows and ts == sorted(ts)
        ranges.append((ts[0], ts[-1]))
    ranges.sort()
    assert all(prev[1] < nxt[0] for prev, nxt in zip(ranges, ranges[1:]))
    first = _digests(out)
    assert set(first) == {r.path for r in acct}

    again = writer.write_partitioned(
        df, "otel_logs", out, max_rows_per_file=max_rows, run_tag="hot"
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, acct))
    assert _digests(out) == first


def test_write_plan_is_one_exchange_one_sort_no_window(spark, tmp_path):
    """The parity write shuffles once, sorts once and streams each group
    through the iterator form of applyInArrow."""
    from pyspark.util import PythonEvalType

    acct = writer.write_partitioned(_decoded(spark), "otel_logs", str(tmp_path / "plan"))
    qe = acct._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert plan.count("Exchange ") == 1, plan
    assert plan.count("Sort [") == 1, plan
    assert "Window" not in plan, plan
    assert "FlatMapGroupsInArrow" in plan, plan
    assert qe.analyzed().functionExpr().evalType() == PythonEvalType.SQL_GROUPED_MAP_ARROW_ITER_UDF
