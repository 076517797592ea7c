"""`cli ingest` with the native layout: the written count is this run's rows,
taken on the write action itself, so the subcommand runs no job beyond the
write's own."""

from __future__ import annotations

import json

from otlp2parquet_spark import cli
from otlp2parquet_spark.otel import ingest, writer
from tests.test_writer_idempotence import logs_payload


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_native_ingest_counts_this_run_without_extra_job(spark, tmp_path, monkeypatch, capsys):
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.pb").write_bytes(logs_payload({"checkout": 30, "payments": 12}))
    out = tmp_path / "out"
    monkeypatch.setenv("OTLP2PARQUET_LAYOUT", "native")
    argv = ["--output", str(out), "ingest", str(landing), "logs"]

    summaries = []
    for run in range(2):  # the second run appends under the same root
        jobs = _jobs(spark, f"cli-native-{run}", lambda: cli.main(argv))
        summaries.append(json.loads(capsys.readouterr().out.strip().splitlines()[-1]))
    assert [s["written"] for s in summaries] == [{"otel_logs": 42}] * 2
    assert writer.read_table(spark, str(out), "otel_logs", layout="native").count() == 84

    # the same decode and write, called directly: the subcommand adds no job
    def direct():
        df = ingest.ingest_directory(spark, str(landing), "logs")["otel_logs"]
        writer.write_native(df, "otel_logs", str(tmp_path / "direct"))

    assert jobs == _jobs(spark, "direct-native", direct)
