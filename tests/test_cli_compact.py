"""`cli compact` end to end: the active-writer guard refuses a root whose
newest file is younger than --quiesced-sec (exit 3, message on stderr),
and --force merges each partition's fragments and prints the summary."""

from __future__ import annotations

import glob
import json

from otlp2parquet_spark import cli
from otlp2parquet_spark.otel import writer
from tests.test_writer_idempotence import logs_payload


def test_cli_compact_refuses_then_forces(spark, tmp_path, capsys):
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.pb").write_bytes(logs_payload({"checkout": 30, "payments": 12}))
    out = str(tmp_path / "out")
    for _ in range(2):  # two ingests: two fragments per (service, hour)
        assert cli.main(["--output", out, "ingest", str(landing), "logs"]) == 0
    capsys.readouterr()
    frags = sorted(glob.glob(f"{out}/logs/**/*.parquet", recursive=True))
    assert len(frags) == 4

    assert cli.main(["--output", out, "compact", "otel_logs"]) == 3
    refused = capsys.readouterr()
    assert refused.out == ""
    assert "error: refusing to compact otel_logs" in refused.err
    assert sorted(glob.glob(f"{out}/logs/**/*.parquet", recursive=True)) == frags

    assert cli.main(["--output", out, "compact", "otel_logs", "--force"]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary == {"compacted_files": 2, "rows": 84, "output": out}
    merged = glob.glob(f"{out}/logs/**/*.parquet", recursive=True)
    assert len(merged) == 2 and not set(merged) & set(frags)
    assert writer.read_table(spark, out, "otel_logs").count() == 84
