"""Object-store e2e for the partitioned writer (D24): the real s3:// branch
of writer._resolve_fs, exercised against an in-process S3 REST stub
(tests/s3stub.py) — the twin of the reference's MinIO harness e2e
(tests/harness/mod.rs:150-249). Every byte flows through pyarrow's actual
S3FileSystem (AWS SDK wire protocol: multipart upload, ListObjectsV2,
ranged GETs), inside real executor tasks — not a mocked filesystem object.
"""

from __future__ import annotations

import json
import os
import posixpath

import pyarrow.parquet as pq
import pytest

from otlp2parquet_spark.otel import ingest, schemas, writer
from otlp_fixtures import testdata_dir

TD = testdata_dir()


def _logs_df(spark, tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    (d / "logs.jsonl").write_bytes(open(f"{TD}/logs.jsonl", "rb").read())
    payloads, _ = ingest.read_landing_auto(spark, str(d))
    return ingest.decode_logs(payloads)


def _stub_fs(s3stub):
    from pyarrow import fs as pafs

    return pafs.S3FileSystem(
        access_key="stub-access-key",
        secret_key="stub-secret-key",
        endpoint_override=s3stub.endpoint,
        scheme="http",
        region="us-east-1",
    )


def test_parity_write_to_s3_and_read_back(spark, s3stub, tmp_path):
    """write_partitioned to an s3:// root: accounting, object layout, and a
    full pyarrow read-back (rows + golden schema) must all hold against the
    S3 API endpoint."""
    df = _logs_df(spark, tmp_path)
    n_src = df.count()
    assert n_src > 0
    acct = writer.write_partitioned(df, "otel_logs", "s3://test-bucket/parity").collect()

    # accounting (Q10 twin): written-row sum == decoded source rows
    assert sum(r.rows for r in acct) == n_src
    assert all(r.path.startswith("s3://test-bucket/parity/logs/") for r in acct)

    # the objects really landed on the S3 endpoint, under the reference's
    # {table}/{service}/year=/month=/day=/hour=/ layout
    objs = s3stub.objects("test-bucket")
    parquet_keys = [k for k in objs if k.endswith(".parquet")]
    assert len(parquet_keys) == len(acct)
    assert all("/year=" in k and "/hour=" in k for k in parquet_keys)

    # read back THROUGH the S3 API (ranged footer reads included) and check
    # rows + golden schema (field ids, uint32 TraceFlags) survived the trip
    fs = _stub_fs(s3stub)
    total = 0
    for key in parquet_keys:
        t = pq.read_table(f"test-bucket/{key}", filesystem=fs)
        total += t.num_rows
        assert t.schema.equals(schemas.arrow_schema("otel_logs"), check_metadata=False)
    assert total == n_src


def test_parity_write_s3_retry_overwrites(spark, s3stub, tmp_path):
    """Task-retry safety on an object store: re-running the same plan with
    the same run_tag must overwrite the same keys, never duplicate files —
    the writer's no-rename-commit-protocol design (D20/D21)."""
    df = _logs_df(spark, tmp_path)
    writer.write_partitioned(
        df, "otel_logs", "s3://test-bucket/retry", run_tag="fixed-tag"
    ).collect()
    first = set(k for k in s3stub.objects("test-bucket") if k.endswith(".parquet"))
    assert first  # guard: an empty set would make every assert below vacuous
    writer.write_partitioned(
        df, "otel_logs", "s3://test-bucket/retry", run_tag="fixed-tag"
    ).collect()
    second = set(k for k in s3stub.objects("test-bucket") if k.endswith(".parquet"))
    assert first == second  # same keys, overwritten in place

    # a distinct run (fresh tag) appends instead
    writer.write_partitioned(df, "otel_logs", "s3://test-bucket/retry").collect()
    third = set(k for k in s3stub.objects("test-bucket") if k.endswith(".parquet"))
    assert len(third) == 2 * len(first)


def test_s3a_scheme_normalized(spark, s3stub, tmp_path):
    """RuntimeConfig.output_root uses Hadoop-style s3a:// — the writer must
    normalize it to pyarrow's s3:// and land the same objects (D24,
    storage.rs:12-44 scheme parsing)."""
    df = _logs_df(spark, tmp_path).limit(10)
    acct = writer.write_partitioned(df, "otel_logs", "s3a://test-bucket/viaa").collect()
    assert sum(r.rows for r in acct) == 10
    assert any(k.startswith("viaa/logs/") for k in s3stub.objects("test-bucket"))


def test_q10_rowcount_verify_against_s3(spark, s3stub, tmp_path):
    """Q10 over the object store: per-service accounting vs per-service rows
    read back through the S3 API must agree exactly."""
    df = _logs_df(spark, tmp_path)
    acct = writer.write_partitioned(df, "otel_logs", "s3://test-bucket/q10").collect()
    per_service_acct: dict[str, int] = {}
    for r in acct:
        per_service_acct[r.service] = per_service_acct.get(r.service, 0) + r.rows

    fs = _stub_fs(s3stub)
    per_service_read: dict[str, int] = {}
    for key in (k for k in s3stub.objects("test-bucket") if k.endswith(".parquet")):
        service = posixpath.normpath(key).split("/")[2]  # q10/logs/{service}/...
        t = pq.read_table(f"test-bucket/{key}", filesystem=fs, columns=["Timestamp"])
        per_service_read[service] = per_service_read.get(service, 0) + t.num_rows
    assert per_service_acct == per_service_read


_AWS_VARS = ("AWS_ENDPOINT_URL", "AWS_REGION", "AWS_ACCESS_KEY_ID", "AWS_SECRET_ACCESS_KEY")


@pytest.fixture
def storage_section(spark, s3stub, monkeypatch):
    """A `storage` section given only through OTLP2PARQUET_*: the stub's
    endpoint, prefix `cfg`, access key `cfg-access-key`. Restores what
    apply_storage_conf overwrites: the executors' environment and this
    process's AWS_* variables."""
    for var, value in {
        "OTLP2PARQUET_STORAGE_BACKEND": "s3",
        "OTLP2PARQUET_BUCKET": "test-bucket",
        "OTLP2PARQUET_PREFIX": "cfg",
        "OTLP2PARQUET_ENDPOINT": s3stub.endpoint,
        "OTLP2PARQUET_REGION": "us-east-1",
        "OTLP2PARQUET_ACCESS_KEY_ID": "cfg-access-key",
        "OTLP2PARQUET_SECRET_ACCESS_KEY": "cfg-secret-key",
    }.items():
        monkeypatch.setenv(var, value)
    env = spark.sparkContext.environment
    saved, saved_os = dict(env), {v: os.environ.get(v) for v in _AWS_VARS}
    yield
    env.clear()
    env.update(saved)
    for var, value in saved_os.items():
        if value is None:
            os.environ.pop(var, None)
        else:
            os.environ[var] = value


def _parquet_keys(s3stub, prefix: str) -> list[str]:
    return sorted(
        k for k in s3stub.objects("test-bucket") if k.startswith(prefix) and k.endswith(".parquet")
    )


def test_cli_ingest_storage_section_reaches_parity_writer(
    spark, s3stub, tmp_path, storage_section, capsys
):
    """A parity `cli ingest` to s3 configured only through OTLP2PARQUET_*
    writes with the configured key, not the AWS_* environment the session
    started with: apply_storage_conf hands the storage section to pyarrow
    on the executors."""
    from otlp2parquet_spark import cli

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "logs.jsonl").write_bytes(open(f"{TD}/logs.jsonl", "rb").read())
    assert cli.main(["ingest", str(landing), "logs"]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["output"] == "s3a://test-bucket/cfg"
    keys = [k for k in s3stub.objects("test-bucket") if k.endswith(".parquet")]
    assert keys and all(k.startswith("cfg/logs/") for k in keys)
    assert s3stub.access_keys == {"cfg-access-key"}


def test_cli_compact_storage_section_reaches_every_request(
    spark, s3stub, tmp_path, storage_section, capsys
):
    """`cli compact` on s3 configured only through OTLP2PARQUET_* lists,
    reads, rewrites and deletes with the configured key: the driver-side
    listing, quiesce probe and delete as well as the executors' read and
    write."""
    from otlp2parquet_spark import cli

    df = _logs_df(spark, tmp_path)
    n = df.count()
    for _ in range(2):  # two runs: two fragments per (service, hour)
        writer.write_partitioned(df, "otel_logs", "s3a://test-bucket/cfg").collect()
    frags = _parquet_keys(s3stub, "cfg/logs/")
    assert frags
    s3stub.access_keys.clear()
    assert cli.main(["compact", "otel_logs", "--force"]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows"] == 2 * n and summary["output"] == "s3a://test-bucket/cfg"
    merged = _parquet_keys(s3stub, "cfg/logs/")
    assert merged and not set(merged) & set(frags)
    assert s3stub.access_keys == {"cfg-access-key"}


def test_quarantine_dir_on_object_store(spark, s3stub, tmp_path):
    """A quarantine dir given as an s3a:// URI receives the payload copy and
    its `.error.json` sidecar on the object store, and read_quarantine
    reads the sidecar back from there."""
    d = tmp_path / "landing"
    d.mkdir()
    (d / "good.pb").write_bytes(open(f"{TD}/logs.pb", "rb").read())
    bad = b"\x0a\x03xx"  # truncated message
    (d / "bad.pb").write_bytes(bad)
    payloads, _ = ingest.read_landing_auto(spark, str(d))
    qdir = "s3a://test-bucket/q"
    assert ingest.decode_logs(payloads, quarantine_dir=qdir).count() == 81
    objs = s3stub.objects("test-bucket")
    copy, sidecar = sorted(k for k in objs if k.startswith("q/") and k != "q/")
    assert copy.startswith("q/bad.pb.") and sidecar == copy + ".error.json"
    assert objs[copy] == bad
    codes = {
        posixpath.basename(r.path): r.code for r in ingest.read_quarantine(spark, qdir).collect()
    }
    assert codes == {"bad.pb": "E-PB"}


def _spark_has_s3a(spark) -> bool:
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.hadoop.fs.s3a.S3AFileSystem")
        return True
    except Exception:
        return False


def test_native_write_via_spark_s3a(spark, s3stub, tmp_path):
    """Native-layout write through Spark's own parquet sink to s3a://.
    Requires the hadoop-aws + aws-sdk jars, which pip pyspark does not
    bundle — skip (documented env limitation) when absent; the parity
    writer above covers the object-store wire path either way."""
    if not _spark_has_s3a(spark):
        pytest.skip("hadoop-aws jar not bundled with pip pyspark (no s3a scheme)")
    spark.conf.set("spark.hadoop.fs.s3a.endpoint", s3stub.endpoint)
    spark.conf.set("spark.hadoop.fs.s3a.path.style.access", "true")
    df = _logs_df(spark, tmp_path)
    writer.write_native(df, "otel_logs", "s3a://test-bucket/native")
    assert any(
        k.startswith("native/logs/") for k in s3stub.objects("test-bucket")
    )
