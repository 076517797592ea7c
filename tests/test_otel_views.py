"""Table discovery of queries/otel.py: a table with no data files is "not
present"; a corrupt table raises instead of silently disappearing."""

from __future__ import annotations

import os

import pytest

from otlp2parquet_spark.otel import ingest, writer
from otlp2parquet_spark.queries import otel as oq
from tests.test_writer_idempotence import logs_payload


def test_table_counts_on_empty_root_is_an_empty_frame(spark, tmp_path):
    df = oq.table_counts(spark, str(tmp_path / "nothing-here"))
    assert df.columns == ["table_name", "n"]
    assert df.collect() == []


def test_absent_tables_skip_but_corrupt_table_raises(spark, tmp_path):
    root = str(tmp_path / "lake")
    payloads = spark.createDataFrame(
        [("a.pb", bytearray(logs_payload({"checkout": 9})), "pb")],
        "path string, content binary, fmt string",
    )
    writer.write_partitioned(ingest.decode_logs(payloads), "otel_logs", root).collect()
    # a native write of an empty frame leaves a table dir with only _SUCCESS
    empty = spark.createDataFrame([], "ServiceName string, Timestamp timestamp")
    writer.write_native(empty, "otel_metrics_sum", root)

    counts = {r.table_name: r.n for r in oq.table_counts(spark, root).collect()}
    assert counts == {"otel_logs": 9}
    oq.register_otel_views(spark, root, tables=["otel_logs", "otel_traces"])
    assert spark.table("otel_logs").count() == 9

    bad = os.path.join(root, "traces", "svc", "year=2024", "month=01", "day=15", "hour=10")
    os.makedirs(bad)
    with open(os.path.join(bad, "0-torn.parquet"), "wb") as f:
        f.write(b"PAR1 truncated")
    with pytest.raises(Exception, match="(?i)parquet"):
        oq.register_otel_views(spark, root, tables=["otel_traces"])
    with pytest.raises(Exception, match="(?i)parquet"):
        oq.table_counts(spark, root)
