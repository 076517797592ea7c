"""Config layering / validation (D28), connect templates (D29), CLI (main)."""

from __future__ import annotations

import json
import subprocess
import sys

import pytest

from otlp2parquet_spark.otel import connect
from otlp2parquet_spark.otel.config import ConfigError, load_config
from otlp_fixtures import testdata_dir

# The Spark tests below are full tier (run with SPARK_GRAFT_FULL_TESTS=1);
# the config and connect tests start no session and run in the default tier.


def test_defaults():
    cfg = load_config(env={})
    assert cfg.batch["max_rows"] == 200_000
    assert cfg.request["max_payload_bytes"] == 8 * 1024 * 1024
    assert cfg.storage["backend"] == "fs"
    assert cfg.output_root() == "./data"


def test_toml_layer(tmp_path):
    f = tmp_path / "config.toml"
    f.write_text('[batch]\nmax_rows = 1000\n[storage]\noutput = "/tmp/out"\nprefix = "team"\n')
    cfg = load_config(str(f), env={})
    assert cfg.batch["max_rows"] == 1000
    assert cfg.output_root() == "/tmp/out/team"


def test_env_beats_toml(tmp_path):
    f = tmp_path / "config.toml"
    f.write_text("[batch]\nmax_rows = 1000\n")
    cfg = load_config(str(f), env={"OTLP2PARQUET_BATCH_MAX_ROWS": "77"})
    assert cfg.batch["max_rows"] == 77


def test_config_content_env():
    cfg = load_config(env={"OTLP2PARQUET_CONFIG_CONTENT": "[server]\nport = 9999\n"})
    assert cfg.server["port"] == 9999


def test_s3_backend_output_root():
    cfg = load_config(
        env={
            "OTLP2PARQUET_STORAGE_BACKEND": "s3",
            "OTLP2PARQUET_BUCKET": "otel-data",
            "OTLP2PARQUET_PREFIX": "prod/",
        }
    )
    assert cfg.output_root() == "s3a://otel-data/prod"


@pytest.mark.parametrize(
    "env,msg",
    [
        ({"OTLP2PARQUET_BATCH_MAX_ROWS": "0"}, "max_rows"),
        ({"OTLP2PARQUET_BATCH_MAX_ROWS": "abc"}, "integer"),
        ({"OTLP2PARQUET_STORAGE_BACKEND": "gcs"}, "fs|s3|r2"),
        ({"OTLP2PARQUET_STORAGE_BACKEND": "s3"}, "bucket"),
        ({"OTLP2PARQUET_LAYOUT": "exotic"}, "layout"),
    ],
)
def test_validation_errors(env, msg):
    with pytest.raises(ConfigError, match=msg):
        load_config(env=env)


def test_missing_config_file():
    with pytest.raises(ConfigError, match="not found"):
        load_config("/nonexistent/config.toml", env={})


@pytest.mark.parametrize("service", sorted(connect.GENERATORS))
def test_connect_templates(service):
    out = connect.generate(service, "http://example:4318")
    assert "http://example:4318" in out
    if service == "otel-collector":
        assert "send_batch_size: 1000" in out and "compression: gzip" in out
    if service == "claude-code":
        assert "CLAUDE_CODE_ENABLE_TELEMETRY=1" in out
    if service == "claude-code-json":
        json.loads("\n".join(out.splitlines()[1:]))  # valid JSON after comment
    if service == "codex":
        assert "/v1/logs" in out


def test_connect_unknown_service():
    with pytest.raises(ValueError, match="unknown connect target"):
        connect.generate("nope")


def test_cli_connect_and_validate(tmp_path):
    r = subprocess.run(
        [sys.executable, "-m", "otlp2parquet_spark.cli", "connect", "otel-collector"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert r.returncode == 0 and "otlphttp" in r.stdout
    r = subprocess.run(
        [sys.executable, "-m", "otlp2parquet_spark.cli", "connect", "bogus"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert r.returncode == 2
    r = subprocess.run(
        [sys.executable, "-m", "otlp2parquet_spark.cli", "--output", str(tmp_path), "validate-config"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        env={"PATH": "/usr/bin:/bin", "HOME": "/root"},
    )
    assert r.returncode == 0
    assert json.loads(r.stdout)["storage"]["output"] == str(tmp_path)


@pytest.mark.full
def test_cli_batch_ingest_end_to_end(spark, tmp_path):
    """`ingest` subcommand: landing dir -> parity layout + D27 summary JSON
    (in-process; get_spark getOrCreate reuses the test session)."""
    import shutil

    from otlp2parquet_spark import cli

    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(f"{testdata_dir()}/logs.pb", landing / "logs.pb")
    out = tmp_path / "out"
    rc = cli.main(["--output", str(out), "ingest", str(landing), "logs"])
    assert rc == 0
    from otlp2parquet_spark.otel import writer

    assert writer.read_table(spark, str(out), "otel_logs").count() == 81


@pytest.mark.full
def test_cli_stream_available_now(spark, tmp_path, capsys):
    """`stream` subcommand with --available-now drains the landing dir once
    and prints the drain's records and rejected landing files."""
    import shutil

    from otlp2parquet_spark import cli
    from otlp2parquet_spark.otel import writer

    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(f"{testdata_dir()}/traces.pb", landing / "traces.pb")
    (landing / "notes.txt").write_text("not a payload")
    out = tmp_path / "out"
    rc = cli.main(
        [
            "--output", str(out),
            "stream", str(landing), "traces",
            "--checkpoint", str(tmp_path / "ckpt"),
            "--available-now",
        ]
    )
    assert rc == 0
    assert writer.read_table(spark, str(out), "otel_traces").count() == 19
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary == {"records": 19, "rejected": 1}


@pytest.mark.full
def test_cli_neardup_end_to_end(spark, tmp_path):
    """`neardup` subcommand: documents landing dir -> per-epoch flags +
    compacted band index + summary JSON; verdicts equal the batch op."""
    from otlp2parquet_spark import cli
    from otlp2parquet_spark.queries.registry import all_specs
    from tests.conftest import SF_SMOKE
    from tests.test_streaming_neardup import _doc_slices, _write_slice_files

    landing = str(tmp_path / "landing")
    _write_slice_files(landing, _doc_slices(spark, 3))
    state = str(tmp_path / "state")
    rc = cli.main(
        [
            "neardup",
            landing,
            "--state",
            state,
            "--checkpoint",
            str(tmp_path / "ckpt"),
            "--compact-index",
        ]
    )
    assert rc == 0
    live = {
        r.doc_id: r.is_neardup
        for r in spark.read.parquet(f"{state}/flags").collect()
    }
    batch = {
        r.doc_id: r.is_neardup
        for r in all_specs()["x2_minhash_firstseen"].build(spark, SF_SMOKE).collect()
    }
    assert live == batch


@pytest.mark.full
def test_cli_neardup_empty_landing_dir(spark, tmp_path, capsys):
    """r8 (round-7 review): an empty landing dir must produce a zero-count
    summary, not an AnalysisException on the never-created flags dir — and
    --compact-index must be a no-op instead of crashing on the missing
    bands dir."""
    import json as _json

    from otlp2parquet_spark import cli

    landing = tmp_path / "landing"
    landing.mkdir()
    rc = cli.main(
        [
            "neardup",
            str(landing),
            "--state",
            str(tmp_path / "state"),
            "--checkpoint",
            str(tmp_path / "ckpt"),
            "--compact-index",
        ]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["docs_flagged_total"] == 0
    assert out["near_dups"] == 0
    assert out["index_epochs_compacted"] == 0


@pytest.mark.full
def test_cli_annindex_end_to_end(spark, tmp_path, capsys):
    """`annindex` subcommand (r8): embeddings landing dir -> frozen-quantizer
    artifacts + per-epoch codes + compaction + summary JSON; streamed codes
    equal the batch encode over the same artifacts."""
    import json as _json

    from otlp2parquet_spark import cli
    from otlp2parquet_spark.extensions.similarity import ivfpq_encode
    from tests.conftest import SF_SMOKE
    from tests.test_streaming_annindex import _vec_slices, _write_slices

    landing = str(tmp_path / "landing")
    _write_slices(landing, _vec_slices(spark, 3))
    idx = str(tmp_path / "idx")
    rc = cli.main(
        [
            "annindex",
            landing,
            "--index",
            idx,
            "--checkpoint",
            str(tmp_path / "ckpt"),
            "--compact-codes",
        ]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["codes_epochs_compacted"] == 1
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    assert out["vectors_encoded"] == e.count()
    cents = spark.read.parquet(f"{idx}/centroids")
    cb = spark.read.parquet(f"{idx}/codebook")
    got = {
        (r.vec_id, r.cluster_id, r.m, r.code)
        for r in spark.read.parquet(f"{idx}/codes").select(
            "vec_id", "cluster_id", "m", "code"
        ).collect()
    }
    expected = {
        (r.vec_id, r.cluster_id, r.m, r.code)
        for r in ivfpq_encode(e, cents, cb).collect()
    }
    assert got == expected


@pytest.mark.full
def test_cli_annindex_empty_landing_dir(spark, tmp_path, capsys):
    """annindex on an empty landing dir: zero-count summary, no crash."""
    import json as _json

    from otlp2parquet_spark import cli

    landing = tmp_path / "landing"
    landing.mkdir()
    rc = cli.main(
        [
            "annindex",
            str(landing),
            "--index",
            str(tmp_path / "idx"),
            "--checkpoint",
            str(tmp_path / "ckpt"),
            "--compact-codes",
        ]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["vectors_encoded"] == 0
    assert out["codes_epochs_compacted"] == 0


@pytest.mark.full
def test_cli_wp95_end_to_end(spark, tmp_path, capsys):
    """The wp95 CLI drains an events landing dir into a sealed bucket table
    and its walked summary matches the batch twin restricted to the sealed
    windows; an empty landing dir summarizes zero instead of raising."""
    import json as _json

    from pyspark.sql import functions as F

    from otlp2parquet_spark import cli
    from otlp2parquet_spark.queries.registry import all_specs
    from otlp2parquet_spark.session import load_table
    from otlp2parquet_spark.streaming import pipeline as P

    sf = "/root/testdata/sf0.001"
    landing = tmp_path / "landing"
    load_table(spark, sf, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    ).coalesce(2).write.mode("overwrite").parquet(str(landing))

    out = tmp_path / "buckets"
    rc = cli.main(
        ["wp95", str(landing), "--out", str(out), "--checkpoint", str(tmp_path / "ck")]
    )
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["sealed_rows"] > 0 and summary["windows_sealed"] > 0

    sealed = {
        (r.window_start, r.event_type): (r.zero_count, r.total, r.p95_upper_bound)
        for r in P.exp_p95_from_buckets(spark.read.parquet(str(out))).collect()
    }
    batch = {
        (r.window_start, r.event_type): (r.zero_count, r.total, r.p95_upper_bound)
        for r in all_specs()["t16_windowed_exp_p95"].build(spark, sf).collect()
    }
    assert set(sealed) <= set(batch)
    for k, v in sealed.items():
        assert batch[k] == v, k
    assert len(sealed) == summary["sealed_rows"]

    # empty landing dir: zero summary, rc 0
    empty = tmp_path / "empty"
    empty.mkdir()
    rc = cli.main(
        ["wp95", str(empty), "--out", str(tmp_path / "b2"),
         "--checkpoint", str(tmp_path / "ck2")]
    )
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["sealed_rows"] == 0 and summary["windows_sealed"] == 0


@pytest.mark.full
def test_cli_whll_end_to_end(spark, tmp_path, capsys):
    """The whll CLI drains an events landing dir into a sealed register
    table and its estimates match the batch twin restricted to the sealed
    windows; an empty landing dir summarizes zero instead of raising."""
    import json as _json

    from pyspark.sql import functions as F

    from otlp2parquet_spark import cli
    from otlp2parquet_spark.queries.registry import all_specs
    from otlp2parquet_spark.session import load_table
    from otlp2parquet_spark.streaming import pipeline as P

    sf = "/root/testdata/sf0.001"
    landing = tmp_path / "landing"
    load_table(spark, sf, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    ).coalesce(2).write.mode("overwrite").parquet(str(landing))

    out = tmp_path / "regs"
    rc = cli.main(
        ["whll", str(landing), "--out", str(out), "--checkpoint", str(tmp_path / "ck")]
    )
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["sealed_estimates"] > 0 and summary["windows_sealed"] > 0

    sealed = {
        (r.window_start, r.event_type): r.n_approx
        for r in P.hll_estimate_from_registers(
            spark.read.parquet(str(out))
        ).collect()
    }
    batch = {
        (r.window_start, r.event_type): r.n_approx
        for r in all_specs()["t19_windowed_hll_distinct"].build(spark, sf).collect()
    }
    assert set(sealed) <= set(batch)
    for k, v in sealed.items():
        assert batch[k] == v, k
    assert len(sealed) == summary["sealed_estimates"]

    # empty landing dir: zero summary, rc 0
    empty = tmp_path / "empty"
    empty.mkdir()
    rc = cli.main(
        ["whll", str(empty), "--out", str(tmp_path / "r2"),
         "--checkpoint", str(tmp_path / "ck2")]
    )
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["sealed_estimates"] == 0 and summary["windows_sealed"] == 0
