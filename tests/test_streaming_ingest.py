"""Structured-Streaming ingest tests (SURVEY.md M5, T7 + D16-D20 twins)."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest

from otlp2parquet_spark.otel import writer
from otlp2parquet_spark.streaming import ingest as sing
from otlp_fixtures import testdata_dir
from tests.test_writer_idempotence import logs_payload

TD = testdata_dir()


@pytest.fixture()
def dirs(tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    return landing, str(tmp_path / "out"), str(tmp_path / "ckpt")


def _wait(q, seconds=120):
    q.awaitTermination(seconds)
    q.stop()


def test_stream_logs_parity_end_to_end(spark, dirs):
    landing, out, ckpt = dirs
    shutil.copy(f"{TD}/logs.pb", landing / "logs.pb")
    q = sing.stream_ingest(
        spark, str(landing), "logs", out, ckpt, layout="parity", available_now=True
    )
    _wait(q)
    back = writer.read_table(spark, out, "otel_logs")
    assert back.count() == 81
    # minute-bucket clustering: every file holds exactly one (service, minute)
    files = glob.glob(f"{out}/logs/**/*.parquet", recursive=True)
    assert files
    for f in files:
        t = pq.ParquetFile(f).read(columns=["Timestamp", "ServiceName"]).to_pandas()
        assert t.ServiceName.nunique() == 1
        assert t.Timestamp.dt.floor("min").nunique() == 1
        # parity footer survives streaming mode
        assert (
            pq.ParquetFile(f).schema_arrow.metadata[b"otlp2parquet.schema_version"] == b"1.1.0"
        )


def test_stream_incremental_checkpoint(spark, dirs):
    """Second trigger processes only NEW landing files (checkpoint = the
    reference's restart-without-replay guarantee, D19/D20)."""
    landing, out, ckpt = dirs
    shutil.copy(f"{TD}/logs.pb", landing / "a.pb")
    q = sing.stream_ingest(
        spark, str(landing), "logs", out, ckpt, layout="parity", available_now=True
    )
    _wait(q)
    assert writer.read_table(spark, out, "otel_logs").count() == 81
    # drop one more payload; restart from the same checkpoint
    shutil.copy(f"{TD}/logs.jsonl", landing / "b.jsonl")
    q2 = sing.stream_ingest(
        spark, str(landing), "logs", out, ckpt, layout="parity", available_now=True
    )
    _wait(q2)
    # 81 (a.pb) + 81 (b.jsonl) — a.pb NOT reprocessed
    assert writer.read_table(spark, out, "otel_logs").count() == 162


def test_stream_batch_tasks_capped_at_cores(spark, dirs):
    """A micro-batch over many landed files runs no stage wider than the
    session's cores: the file source's re-listing of the batch's own files
    (one task per file past 32 paths at Spark's default listing
    parallelism) is capped at the cores, and every record lands once."""
    landing, out, ckpt = dirs
    n_files, per_file = 40, 3
    for i in range(n_files):
        (landing / f"req{i:02d}.pb").write_bytes(logs_payload({f"svc{i:02d}": per_file}))
    q = sing.stream_ingest(
        spark, str(landing), "logs", out, ckpt, layout="parity", available_now=True
    )
    _wait(q)
    tracker = spark.sparkContext.statusTracker()
    stages = [
        tracker.getStageInfo(sid)
        for jid in tracker.getJobIdsForGroup(str(q.runId))
        for sid in tracker.getJobInfo(jid).stageIds
    ]
    tasks = [(s.name, s.numTasks) for s in stages if s is not None]
    cap = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    assert tasks and max(n for _, n in tasks) <= cap, (cap, tasks)
    per_service = {
        r.ServiceName: r["count"]
        for r in writer.read_table(spark, out, "otel_logs").groupBy("ServiceName").count().collect()
    }
    assert per_service == {f"svc{i:02d}": per_file for i in range(n_files)}


def test_stream_metrics_type_split(spark, dirs):
    landing, out, ckpt = dirs
    for stem in ["metrics_mixed", "metrics_summary"]:
        shutil.copy(f"{TD}/{stem}.pb", landing / f"{stem}.pb")
    q = sing.stream_ingest(
        spark, str(landing), "metrics", out, ckpt, layout="native", available_now=True
    )
    _wait(q)
    counts = {
        t: writer.read_table(spark, out, t, layout="native").count()
        for t in ["otel_metrics_gauge", "otel_metrics_sum", "otel_metrics_histogram"]
    }
    assert counts == {
        "otel_metrics_gauge": 1,
        "otel_metrics_sum": 1,
        "otel_metrics_histogram": 1,
    }
    # summary rows were counted-and-dropped: no summary table written
    assert not os.path.exists(f"{out}/metrics/summary")


def test_stream_replay_is_idempotent(spark, dirs):
    """A replayed micro-batch overwrites its own files (deterministic
    epoch-derived names) instead of duplicating them — write, wipe the
    checkpoint so the same input replays as epoch 0 again, re-run, and the
    file set + row count must be unchanged."""
    landing, out, ckpt = dirs
    shutil.copy(f"{TD}/logs.pb", landing / "logs.pb")
    q = sing.stream_ingest(
        spark, str(landing), "logs", out, ckpt, layout="parity", available_now=True
    )
    _wait(q)
    files1 = sorted(glob.glob(f"{out}/logs/**/*.parquet", recursive=True))
    assert writer.read_table(spark, out, "otel_logs").count() == 81
    shutil.rmtree(ckpt)  # simulate lost commit -> full replay of epoch 0
    q2 = sing.stream_ingest(
        spark, str(landing), "logs", out, ckpt, layout="parity", available_now=True
    )
    _wait(q2)
    files2 = sorted(glob.glob(f"{out}/logs/**/*.parquet", recursive=True))
    assert files2 == files1  # same deterministic names, overwritten in place
    assert writer.read_table(spark, out, "otel_logs").count() == 81


def test_stream_landing_format_tag_matches_python_twin(spark, dirs):
    """The STREAMING landing scan must tag formats with the same codegen
    payload_format_col as the batch lane (r9 replaced the batch tagger;
    the streaming lane kept a Python F.udf until r10) — drive real landing
    files through read_landing_stream and compare every surviving (path,
    fmt) row against the Python reference, including the drop rule for
    unknown extensions."""
    from otlp2parquet_spark.otel.ingest import payload_format

    landing, out, ckpt = dirs
    names = [
        "a.pb", "b.json", "c.jsonl", "D.JSONL", "e.pb.gz", "F.PB.GZ",
        "g.tar.gz", "h.txt", "i", "j.pbx", "k.json5", "l..pb", "m.pb.",
    ]
    for n in names:
        (landing / n).write_bytes(b"\x00")
    df = sing.read_landing_stream(spark, str(landing))
    q = (
        df.writeStream.format("memory")
        .queryName("fmt_tags")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    _wait(q)
    got = {
        os.path.basename(r.path): r.fmt
        for r in spark.sql("SELECT path, fmt FROM fmt_tags").collect()
    }
    want = {n: payload_format(n) for n in names if payload_format(n) is not None}
    assert got == want, (got, want)


def test_stream_rejects_payloads_over_the_configured_limit(spark, dirs):
    """`stream_ingest` applies the configured payload limit, not the 8 MiB
    default: a landing file over it is counted in `landing.rejected` and
    none of its rows land, while a file under it is written."""
    landing, out, ckpt = dirs
    small = logs_payload({"small": 3})
    big = logs_payload({"big": 40})
    (landing / "small.pb").write_bytes(small)
    (landing / "big.pb").write_bytes(big)
    limit = (len(small) + len(big)) // 2
    q = sing.stream_ingest(
        spark, str(landing), "logs", out, ckpt, available_now=True, max_payload_bytes=limit
    )
    _wait(q)
    observed = [p["observedMetrics"] for p in q.recentProgress]
    assert sum(m["landing"]["rejected"] for m in observed if "landing" in m) == 1
    per_service = {
        r.ServiceName: r["count"]
        for r in writer.read_table(spark, out, "otel_logs").groupBy("ServiceName").count().collect()
    }
    assert per_service == {"small": 3}


def test_cli_stream_forwards_max_payload_bytes(spark, tmp_path, monkeypatch):
    """`cli stream` passes request.max_payload_bytes to `stream_ingest`, as
    `cli ingest` and `serve` do."""
    from otlp2parquet_spark import cli

    seen = {}

    class _Done:
        def awaitTermination(self):
            pass

    def fake_stream_ingest(*args, **kwargs):
        seen.update(kwargs)
        return _Done()

    monkeypatch.setattr(sing, "stream_ingest", fake_stream_ingest)
    monkeypatch.setenv("OTLP2PARQUET_MAX_PAYLOAD_BYTES", "12345678")
    argv = ["--output", str(tmp_path / "out"), "stream", str(tmp_path), "logs",
            "--checkpoint", str(tmp_path / "ckpt"), "--available-now"]
    assert cli.main(argv) == 0
    assert seen["max_payload_bytes"] == 12345678
