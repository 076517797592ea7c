"""Partitioned Parquet sink (reference D21-D23, src/writer/write.rs).

Two modes, per SURVEY.md §7 hard-part 4:

- **parity mode** — byte-parity with the reference layout
  ``{root}/{signal}/{service}/year=YYYY/month=MM/day=DD/hour=HH/{ts_us}-{uuid32}.parquet``
  including Snappy compression, schema-version footer metadata, field_ids and
  the uint32 TraceFlags column. Spark's `partitionBy` can produce neither the
  bare `{service}` dir level nor custom file names, so the rows are shuffled
  once by (service, hour), sorted by time within each task, and each group
  streams through the iterator form of `applyInArrow` into pyarrow — the
  write runs ON THE EXECUTORS (no driver collect) and a task holds at most
  one file's rows, however hot its group. A file is cut every
  `max_rows_per_file` rows (reference batch.max_rows default 200k, D17).

- **native mode** — idiomatic Spark layout
  ``{root}/{signal}/ServiceName=/year=/month=/day=/hour=/part-*.parquet``
  via `df.write.partitionBy(...)`: strictly better partition pruning (service
  becomes a real Hive partition column, SURVEY §4 row 2) and object-store
  safe (Hadoop committers). This is the 100 TB path; parity mode exists for
  drop-in compatibility with readers of the reference's layout.
"""

from __future__ import annotations

import hashlib
import os
import uuid
from collections.abc import Iterator
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from otlp2parquet_spark.otel import schemas

DEFAULT_MAX_ROWS_PER_FILE = 200_000  # reference src/config/platform.rs:16


def sanitize_service_name(name: str | None) -> str:
    """Filesystem-hostile chars -> '_', empty -> 'unknown-service'
    (reference src/writer/write.rs:132-148)."""
    if not name:
        return "unknown-service"
    out = "".join("_" if c in '/\\:*?"<>| ' else c for c in name)
    return out or "unknown-service"


SANITIZE_REGEX = r'[/\\:*?"<>| ]'


def sanitize_service_col(col) -> F.Column:
    """Column twin of sanitize_service_name (D22) for the native writer."""
    return F.when(
        F.coalesce(col, F.lit("")) == "", F.lit("unknown-service")
    ).otherwise(F.regexp_replace(col, SANITIZE_REGEX, "_"))


def generate_parquet_path(
    root: str, table: str, service: str | None, min_ts_us: int, file_id: str | None = None
) -> str:
    """Reference path builder (src/writer/write.rs:93-130): partition time =
    batch min timestamp, now() fallback when ts <= 0, `{ts}-{uuid32}` name.

    `file_id` overrides the random uuid with a deterministic name — the
    streaming sink derives it from (epoch, group) so a retried micro-batch
    overwrites its own files instead of duplicating them (exactly-once at
    the file level; the reference's HTTP flush is only at-least-once).

    When `file_id` is given the whole path must be deterministic, so the
    reference's now() fallback for ts <= 0 is replaced by the 1970-01-01
    sentinel partition — a replayed task re-derives the SAME path and
    overwrites instead of duplicating."""
    if min_ts_us <= 0:
        if file_id is not None:
            min_ts_us = 0  # deterministic sentinel -> year=1970 partition
        else:
            min_ts_us = int(datetime.now(tz=timezone.utc).timestamp() * 1_000_000)
    dt = datetime.fromtimestamp(min_ts_us / 1_000_000, tz=timezone.utc)
    return os.path.join(
        root,
        schemas.TABLE_PATH_SEGMENT[table],
        sanitize_service_name(service),
        f"year={dt.year:04d}",
        f"month={dt.month:02d}",
        f"day={dt.day:02d}",
        f"hour={dt.hour:02d}",
        f"{min_ts_us}-{file_id or uuid.uuid4().hex}.parquet",
    )


def _resolve_fs(path: str):
    """(pyarrow FileSystem, fs-relative path) for an object-store URI, or
    (None, path) for a plain local path (D24 twin of storage.rs:12-104).

    The Hadoop-style ``s3a://`` scheme used by `RuntimeConfig.output_root`
    is normalized to pyarrow's ``s3://``; ``file://`` resolves to the local
    filesystem (useful to exercise this branch in tests without S3). S3
    credentials/region/endpoint come from the standard AWS env vars, which
    pyarrow reads on each executor."""
    if "://" not in path:
        return None, path
    from pyarrow import fs as pafs

    uri = path.replace("s3a://", "s3://", 1)
    return pafs.FileSystem.from_uri(uri)


# the accounting frame write_partitioned returns (D27 partitions[] twin)
_ACCT_SCHEMA = pa.schema(
    [("path", pa.string(), False), ("rows", pa.int64(), False), ("service", pa.string())]
)


def _arrow_to_golden(tbl: pa.Table, table: str) -> pa.Table:
    """Spark-Arrow group -> golden schema via column casts only — no pandas
    round-trip, no Python-list materialization."""
    target = schemas.arrow_schema(table)
    arrays = []
    for f in target:
        col = tbl.column(f.name)
        if col.type != f.type:
            col = col.cast(f.type)
        arrays.append(col.combine_chunks())
    return pa.Table.from_arrays(arrays, schema=target)


def write_partitioned(
    df: DataFrame,
    table: str,
    root: str,
    *,
    bucket: str = "hour",
    max_rows_per_file: int = DEFAULT_MAX_ROWS_PER_FILE,
    run_tag: str | None = None,
) -> DataFrame:
    """Parity-mode write: each (service, time-bucket) group as one
    time-sorted stream, cut into files of at most `max_rows_per_file` rows.

    `bucket` is "hour" for batch mode, "minute" for the streaming twin of the
    reference's (service, minute) BatchKey (D16, src/batch/mod.rs:24-44).
    Returns an accounting frame (path, rows, service) — the D27 partitions[]
    response twin. Plan: one Exchange on (service, bucket), one Sort on
    (service, bucket, Timestamp nulls last), then the iterator form of
    `applyInArrow`, which hands each group over as Arrow batches in that
    order. A task buffers at most one file's rows, so a hot group costs
    more files, not more memory.

    File names are always the deterministic `{run_tag}-{group-hash}-{chunk}`:
    the streaming sink passes `run_tag` = the epoch id so a replayed
    micro-batch overwrites rather than duplicates its output, and batch mode
    draws ONE random tag on the driver at plan-build time so a retried or
    speculative task (or a re-evaluated accounting frame) re-derives the same
    paths and overwrites its own first attempt — task-retry-safe without an
    object-store rename commit protocol. Chunk boundaries fall at fixed row
    offsets of the time-sorted group, so a re-run cuts the same files.
    Distinct batch runs still get distinct tags, so append semantics across
    runs are preserved.
    """
    trunc = {"hour": "hour", "minute": "minute"}[bucket]
    if run_tag is None:
        run_tag = uuid.uuid4().hex[:16]  # driver-side, once per plan

    def write_group(keys: tuple, batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        """Arrow-native group writer: batches arrive sorted by Timestamp
        (nulls last) and go straight to golden parquet via column casts, one
        file per `max_rows_per_file` rows."""
        # applyInArrow hands keys as pyarrow scalars — normalize to Python
        # values so path building and the group hash are stable
        kp = tuple(k.as_py() for k in keys)
        service = kp[0]
        gh = hashlib.sha256(repr(kp).encode()).hexdigest()[:16]

        def write_chunk(ci: int, chunk: pa.Table) -> pa.RecordBatch:
            min_ts = pc.min(chunk.column("Timestamp"))
            min_ts_us = min_ts.value if min_ts.is_valid else 0
            path = generate_parquet_path(root, table, service, min_ts_us, f"{run_tag}-{gh}-{ci}")
            fs, where = _resolve_fs(path)
            if fs is None:
                os.makedirs(os.path.dirname(path), exist_ok=True)
            else:
                fs.create_dir(os.path.dirname(where), recursive=True)
            pq.write_table(
                _arrow_to_golden(chunk, table),
                where,
                filesystem=fs,
                compression="snappy",  # reference golden footers, D23
            )
            return pa.RecordBatch.from_pydict(
                {"path": [path], "rows": [chunk.num_rows], "service": [service]},
                schema=_ACCT_SCHEMA,
            )

        pending: list[pa.RecordBatch] = []
        held = ci = 0
        for batch in batches:
            pending.append(batch.drop_columns(["__bucket"]))
            held += batch.num_rows
            while held >= max_rows_per_file:
                buf = pa.Table.from_batches(pending)
                yield write_chunk(ci, buf.slice(0, max_rows_per_file))
                rest = buf.slice(max_rows_per_file)
                pending, held, ci = rest.to_batches(), rest.num_rows, ci + 1
        if held:
            yield write_chunk(ci, pa.Table.from_batches(pending))

    return (
        df.withColumn("__bucket", F.date_trunc(trunc, F.col("Timestamp")))
        .repartition("ServiceName", "__bucket")
        .sortWithinPartitions("ServiceName", "__bucket", F.col("Timestamp").asc_nulls_last())
        .groupBy("ServiceName", "__bucket")
        .applyInArrow(write_group, from_arrow_schema(_ACCT_SCHEMA))
    )


def write_native(
    df: DataFrame,
    table: str,
    root: str,
    *,
    max_rows_per_file: int = DEFAULT_MAX_ROWS_PER_FILE,
    mode: str = "append",
) -> str:
    """Native-mode write: Hive partitioning on (service, year, month, day,
    hour) — Catalyst partition pruning covers both the time predicates (Q11)
    and service narrowing (SURVEY §4 rows 1-2). `maxRecordsPerFile` enforces
    the reference's 200k-row file-size policy (D17) without a custom batcher.
    """
    path = os.path.join(root, schemas.TABLE_PATH_SEGMENT[table])
    (
        df.withColumn("service", sanitize_service_col(F.col("ServiceName")))
        .withColumn("year", F.year("Timestamp"))
        .withColumn("month", F.month("Timestamp"))
        .withColumn("day", F.dayofmonth("Timestamp"))
        .withColumn("hour", F.hour("Timestamp"))
        # cluster rows so each output file covers one contiguous time range
        # per service (reference batch clustering, SURVEY §4 row 6)
        .repartition("service", "year", "month", "day", "hour")
        .sortWithinPartitions("Timestamp")
        .write.mode(mode)
        .option("compression", "snappy")
        .option("maxRecordsPerFile", max_rows_per_file)
        .partitionBy("service", "year", "month", "day", "hour")
        .parquet(path)
    )
    return path


def write_table(
    df: DataFrame,
    table: str,
    root: str,
    *,
    layout: str = "parity",
    bucket: str = "hour",
    max_rows_per_file: int = DEFAULT_MAX_ROWS_PER_FILE,
    run_tag: str | None = None,
) -> int:
    """Write one decoded table in `layout` ('parity' or 'native') and return
    the rows written — the one write call of batch, streaming and CLI ingest.

    The count rides the write action itself: no extra job, and only this
    write's rows, never earlier runs' under `root`. Parity sums its
    accounting frame (one row per file); native counts through an
    Observation on the written frame (the D26 `otlp.ingest.records` twin,
    reference src/handlers.rs:102). `bucket` and `run_tag` apply to parity
    only (see write_partitioned)."""
    if layout == "parity":
        acct = write_partitioned(
            df, table, root, bucket=bucket, max_rows_per_file=max_rows_per_file,
            run_tag=run_tag,
        )
        return sum(r["rows"] for r in acct.collect())
    obs = Observation(f"ingest-{table}")
    df = df.observe(obs, F.count(F.lit(1)).alias("records"))
    write_native(df, table, root, max_rows_per_file=max_rows_per_file)
    return int(observation_row(obs).get("records", 0))


def observation_row(obs: Observation) -> dict:
    """An Observation's metrics once an action over its frame completed.
    A frame the planner proves empty runs no probe: its observation
    completes with an empty row, which `Observation.get` cannot convert.
    Any frame with rows runs the probe, so the empty row reads as {}."""
    if obs._jo.getRow().length() == 0:
        return {}
    return obs.get


def read_table(spark, root: str, table: str, *, layout: str = "parity") -> DataFrame:
    """Read-back of a written table (Q10).

    parity layout: recursive lookup (the year=/... dirs under the non-Hive
    `{service}` level are data-path only; the golden schema carries no
    partition columns). native layout: Hive partition discovery, so
    service/year/month/day/hour become prunable partition columns (Q11).
    """
    path = os.path.join(root, schemas.TABLE_PATH_SEGMENT[table])
    if layout == "parity":
        return spark.read.option("recursiveFileLookup", "true").parquet(path)
    return spark.read.parquet(path)
