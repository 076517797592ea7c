"""Tests of the benchmark's own code. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import noise  # noqa: E402
import spans  # noqa: E402
from otlp2parquet_spark.otel import ingest  # noqa: E402


def _trees():
    fac = gen.RequestFactory(5)
    yield "logs", fac.logs(40)[1]
    yield "traces", fac.traces(30)[1]
    yield "metrics", fac.metrics(6)[1]


@pytest.mark.parametrize("signal,tree", list(_trees()), ids=["logs", "traces", "metrics"])
def test_pb_and_json_renderings_decode_to_identical_rows(signal, tree):
    if signal == "metrics":
        decode = ingest._flatten_metrics_payload
        rows = {fmt: decode(gen.render(tree, signal, fmt), fmt) for fmt in ("pb", "json", "jsonl")}
        per_type, skipped = rows["pb"][0]
        assert {t: len(r) for t, r in per_type.items()} == dict.fromkeys(
            ("gauge", "sum", "histogram", "exponential_histogram", "summary"), 6)
        assert skipped["summaries"] == 6
    else:
        rows = {fmt: ingest._flatten_payload(gen.render(tree, signal, fmt), fmt, signal)
                for fmt in ("pb", "json", "jsonl")}
        assert len(rows["pb"]) in (40, 30)
    assert rows["pb"] == rows["json"] == rows["jsonl"]


def test_landing_manifest_counts_every_file(tmp_path):
    man = gen.write_landing(str(tmp_path), 3, log_requests=7, log_records=5, trace_requests=5,
                            trace_spans=4, metric_requests=3, metric_points=2,
                            bulk_log_requests=2, hot_log_requests=3)
    assert man.rows["otel_logs"] == 60 and man.rows["otel_traces"] == 20
    assert man.hot_rows == 15
    assert man.skipped == {"summaries": 6}
    for signal, n in man.payloads.items():
        files = [f for _, _, fs in os.walk(tmp_path / signal) for f in fs]
        assert len(files) == n
    assert {f.split(".", 1)[1] for f in os.listdir(tmp_path / "logs" / "json")} == {"json.gz"}


def test_pooled_pb_logs_decode_with_their_own_times():
    fac = gen.RequestFactory(4)
    _, body = fac.logs_pb(50, service="cart", hour=2)
    rows = ingest._flatten_payload(body, "pb", "logs")
    hour_us = 3600 * 10**6
    start_us = gen.BASE_NS // 1000 + 2 * hour_us
    assert len(rows) == 50 and {r["ServiceName"] for r in rows} == {"cart"}
    assert all(start_us <= r["Timestamp"] < start_us + hour_us for r in rows)
    assert len({r["Timestamp"] for r in rows}) == 50
    assert all(r["Body"] and r["SeverityText"] for r in rows)


def test_short_proc_stat_line_is_not_a_steal_sample(monkeypatch, tmp_path):
    stat = tmp_path / "stat"
    stat.write_text("cpu 1 2 3 4 5\n")
    real_open = open
    monkeypatch.setattr("builtins.open", lambda p, *a, **k: real_open(stat if p == "/proc/stat" else p, *a, **k))
    assert noise.cpu_times() is None
    assert noise.steal_pct(None, [1] * 10) == 0.0
    assert noise.steal_pct([0] * 10, [10, 0, 10, 70, 0, 0, 0, 10, 0, 0]) == 10.0


def test_size_metric_strings():
    assert spans.parse_size_metric("12.0 KiB") == 12 * 1024
    assert spans.parse_size_metric(
        "total (min, med, max (stageId: taskId))\n1.5 MiB (1.0 KiB, 2.0 KiB, 3.0 KiB (stage 0.0: task 1))"
    ) == int(1.5 * 2**20)


def test_traced_spans_ingest_as_otel_traces(tmp_path):
    """The traced run's span file is an OTLP/JSON trace export: the engine
    ingests it into otel_traces with one row per span and parent links."""
    from otlp2parquet_spark.otel import writer
    from otlp2parquet_spark.session import get_spark

    tracer = spans.Tracer(seed=9)
    with tracer.span("otel.ingest.rep"):
        for signal in ("logs", "traces"):
            with tracer.span(f"otel.ingest.call.{signal}", rows=3):
                pass
    landing = tmp_path / "landing" / "traces"
    landing.mkdir(parents=True)
    (landing / "perfbench.json").write_text(json.dumps(tracer.to_otlp("ingest_batch")))

    spark = get_spark(master="local[2]", shuffle_partitions=2)
    frames = ingest.ingest_directory(spark, str(landing), "traces")
    acct = writer.write_partitioned(frames["otel_traces"], "otel_traces", str(tmp_path / "out")).collect()
    assert sum(r["rows"] for r in acct) == 3
    back = writer.read_table(spark, str(tmp_path / "out"), "otel_traces").collect()
    assert sorted(r["SpanName"] for r in back) == [
        "otel.ingest.call.logs", "otel.ingest.call.traces", "otel.ingest.rep"]
    root = next(r for r in back if r["SpanName"] == "otel.ingest.rep")
    assert {r["ParentSpanId"] for r in back if r is not root} == {root["SpanId"]}
    assert all(r["ServiceName"] == "perfbench" for r in back)
