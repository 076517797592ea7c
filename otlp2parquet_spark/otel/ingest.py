"""Spark ingest pipeline: landing files -> decoded signal DataFrames.

Reference dataflow D1-D15 re-expressed Spark-first (SURVEY.md §3.1):

- the HTTP receiver is out-of-engine (reference src/lib.rs:221 is an axum
  server); its semantic twin here is a *landing directory* of raw OTLP
  payloads that Spark lists with `format("binaryFile")` (D1/S4). The scan
  ships (path, length, fmt) only; each decode task reads its payloads'
  bytes through `writer._resolve_fs`, the one pyarrow FileSystem lane that
  also writes the parity layout and the quarantine dir;
- gzip bodies are decompressed in the codec (D2, tower layer in reference);
- format dispatch is by file extension — .pb / .json / .jsonl (+ .gz) —
  mirroring content-type dispatch (D3, reference src/handlers.rs:68);
- payload-size guard (D4, default 8 MiB) filters oversized payloads into a
  rejected side-output instead of HTTP 413;
- decode (D5-D14) runs in `mapInArrow`: Arrow-batched, one Python worker
  per input partition — each payload file decodes independently, so the
  stage scales horizontally with the number of landing files. The kernels
  build Arrow batches directly from the walker rows (no pandas detour —
  measured 2.2x at the boundary). At 100 TB the landing scan parallelism
  is `spark.sql.files.maxPartitionBytes`-driven and the codec stays
  embarrassingly parallel (no shuffle before the write).

Decoded frames carry the golden schemas (`schemas.spark_schema`): the
walkers emit exact epoch-µs ints (ns div 1000, never double math) and the
kernel's Arrow batches take them as `timestamp[us, UTC]` unchanged.
"""

from __future__ import annotations

import functools
import gzip
import json
import posixpath
from collections.abc import Iterator
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from otlp2parquet_spark.otel import fast_flatten, fast_wire, otlp_json, schemas, wire, writer
from otlp2parquet_spark.otel.wire import OtlpDecodeError

DEFAULT_MAX_PAYLOAD_BYTES = 8 * 1024 * 1024  # reference src/config/platform.rs:19

_FORMATS = ("pb", "json", "jsonl")
_REJECT_REASONS = ("payload too large", "unknown format")


def payload_format(path: str) -> str | None:
    """File-extension twin of InputFormat::from_content_type (D3)."""
    name = path.lower()
    if name.endswith(".gz"):
        name = name[:-3]
    ext = name.rsplit(".", 1)[-1] if "." in name else ""
    return ext if ext in _FORMATS else None


def payload_format_col(path_col) -> "F.Column":
    """JVM-side column twin of payload_format: one regexp_extract inside
    whole-stage codegen instead of a row-at-a-time Python UDF (the scan
    runs once per landing FILE, so this was never hot — but it was the
    package's last remaining F.udf, and the two forms are property-tested
    equal over adversarial paths in tests/test_otel_ingest.py)."""
    # \z, not $: Java's $ also matches before a trailing line terminator,
    # which would route a 'x.pb\n' path to the decode lane while the
    # Python twin quarantines it (r9 review finding)
    ext = F.regexp_extract(
        F.lower(path_col), r"\.(" + "|".join(_FORMATS) + r")(\.gz)?\z", 1
    )
    return F.when(ext == "", F.lit(None)).otherwise(ext)


def _admission(files: DataFrame, max_payload_bytes: int):
    """The landing admission rule, shared by the batch and streaming scans
    so they cannot drift: tag each binaryFile status row's format (D3) and
    check the size guard (D4) on `length`, the pre-decompression byte size.

    Returns ((path, length, fmt) frame, admitted predicate, reject reason)."""
    df = files.select("path", "length", payload_format_col(F.col("path")).alias("fmt"))
    ok = (F.col("length") <= F.lit(max_payload_bytes)) & F.col("fmt").isNotNull()
    reason = (
        F.when(F.col("fmt").isNull(), F.lit("unknown format"))
        .when(F.col("length") > F.lit(max_payload_bytes), F.lit("payload too large"))
    )
    return df, ok, reason


def _landing_scan(
    spark: SparkSession, path: str, max_payload_bytes: int
) -> tuple[DataFrame, DataFrame, Observation]:
    """Batch landing scan -> (accepted, rejected, landing).

    `landing` observes the pre-filter frame: rejected files by reason
    (_REJECT_REASONS), filled by the first action over either side — the
    decode — so a summary of the rejections costs no job of its own (the
    batch twin of the streaming scan's `landing` observation)."""
    df, ok, reason = _admission(
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*")
        .option("recursiveFileLookup", "true")
        .load(path),
        max_payload_bytes,
    )
    landing = Observation()
    df = df.observe(landing, *[F.count_if(reason == r).alias(r) for r in _REJECT_REASONS])
    # binaryFile yields >= 1 scan partition per payload file, so the
    # CPU-bound decode already parallelizes across files; no repartition
    return df.filter(ok), df.filter(~ok).select("path", reason.alias("reason")), landing


def read_landing_auto(
    spark: SparkSession,
    path: str,
    *,
    max_payload_bytes: int = DEFAULT_MAX_PAYLOAD_BYTES,
) -> tuple[DataFrame, DataFrame]:
    """Scan a landing dir of OTLP payload files -> (accepted, rejected).

    `accepted` carries (path, length, fmt) rows: binaryFile prunes the
    never-selected `content` column, so the scan reads file statuses only
    and each decode task reads its payloads' bytes from their paths
    (`_read_payload_bytes`), on a local dir and an object store alike.
    `rejected` carries (path, reason) for oversized payloads (D4: HTTP 413
    twin) and unknown-extension files."""
    return _landing_scan(spark, path, max_payload_bytes)[:2]


def _read_payload_bytes(path: str) -> bytes:
    """Executor-side payload read, through the writer's pyarrow FileSystem
    resolution for every scheme binaryFile emits. Read failures (file
    rotated away between the listing scan and the decode task, transient
    object-store errors) surface as OtlpDecodeError so quarantine keeps its
    one-payload blast radius."""
    try:
        fsys, rel = writer._resolve_fs(path)
        # compression=None: a .gz body is inflated by _gunzip, not pyarrow
        with fsys.open_input_stream(rel, compression=None) as f:
            return f.read()
    except OSError as e:
        raise OtlpDecodeError(f"payload read failed: {e}") from e


def _gunzip(content: bytes) -> bytes:
    """Decompress a gzip body (sniffed by its magic, D2) with the quarantine
    contract: corrupted/truncated gzip (crashed uploader) raises
    OtlpDecodeError, never a bare zlib.error/EOFError that would fail the
    whole Spark task (round-6 review finding — the float({}) guard's
    sibling). Other bodies pass through."""
    if content[:2] != b"\x1f\x8b":
        return content
    try:
        return gzip.decompress(content)
    except Exception as e:
        raise OtlpDecodeError(f"corrupted gzip payload: {e}") from e


def _parse_payload(content: bytes, fmt: str, signal: str) -> list[dict[str, Any]]:
    """payload bytes -> list of canonical request dicts (D2/D5/D6/D7)."""
    content = _gunzip(content)
    if fmt == "pb":
        return [wire.parse_request_pb(content, signal)]
    if fmt == "json":
        return [otlp_json.parse_request_json(content, signal)]
    return otlp_json.parse_request_jsonl(content, signal)


# ---------------------------------------------------------------------------
# Quarantine sink (D25): invalid payloads land in a bad-input dir with a
# typed reason, and the pipeline continues — the batch twin of the
# reference's HTTP-400-per-request error model (src/lib.rs:75-117,
# testdata/invalid/README.md: "invalid data is properly rejected, no silent
# failures").


def _write_quarantine(
    qdir: str, path: str, content: bytes | None, err: OtlpDecodeError
) -> None:
    """Executor-side quarantine write: payload copy + error sidecar, through
    `writer._resolve_fs`, so a local dir and an object-store URI both work.

    File names derive deterministically from the source path (content hash
    when the path is empty, e.g. line-split scans), so a retried or
    speculative task overwrites its first attempt instead of duplicating.
    The name is basename + a short hash of the FULL path: two bad payloads
    named `a/x.pb` and `b/x.pb` must not clobber each other (ADVICE r2).

    content=None means the payload bytes were never obtained (read
    failure): no payload copy is written — an empty file would make
    replay-from-quarantine silently lose the bytes (ADVICE r6) — and the
    sidecar records `payload_at` so replay knows where the original still
    lives."""
    import hashlib

    if path:
        suffix = hashlib.sha256(path.encode()).hexdigest()[:8]
        base = f"{posixpath.basename(path)}.{suffix}"
    else:
        base = hashlib.sha256(content or b"").hexdigest()[:16]
    fs, where = writer._resolve_fs(qdir)
    fs.create_dir(where, recursive=True)
    sidecar = {"path": path, "code": err.code, "error": str(err)}
    if content is None:
        sidecar["payload_at"] = path  # read failed; bytes never left the source
    else:
        with fs.open_output_stream(posixpath.join(where, base), compression=None) as f:
            f.write(content)
    with fs.open_output_stream(posixpath.join(where, base + ".error.json")) as f:
        f.write(json.dumps(sidecar).encode())


def read_quarantine(spark: SparkSession, qdir: str) -> DataFrame:
    """Quarantined payload accounting: (path, code, error) rows from the
    sidecar files (D25/D27), read on the driver — they are a few hundred
    bytes each."""
    from pyarrow import fs as pafs

    fs, where = writer._resolve_fs(qdir)
    rows = []
    for info in fs.get_file_info(pafs.FileSelector(where, allow_not_found=True)):
        if info.path.endswith(".error.json"):
            with fs.open_input_stream(info.path) as f:
                side = json.loads(f.read())
            rows.append((side["path"], side["code"], side["error"]))
    return spark.createDataFrame(rows, "path STRING, code STRING, error STRING")


def _handle_decode_error(
    err: OtlpDecodeError,
    quarantine_dir: str | None,
    path: str,
    content: bytes | None,
) -> None:
    """Quarantine the payload when a quarantine dir is set; raise otherwise."""
    if not quarantine_dir:
        raise err
    _write_quarantine(quarantine_dir, path, content, err)


def read_landing_lines(spark: SparkSession, path: str) -> DataFrame:
    """Line-splitting scan for large JSONL landing files (S3, `spark.read.text`).

    `read_landing_auto` treats one FILE as one payload — right for HTTP-captured
    bodies, wrong for bulk JSONL drops: a 10 GB JSONL file would decode as a
    single task (and trip the payload guard). The text source splits files at
    line boundaries across `maxPartitionBytes` ranges, so one big file
    decodes on the whole cluster. Each line is an independent OTLP export
    request (reference JSONL semantics, tests/e2e.rs:44-52).
    """
    return (
        spark.read.text(path)
        .filter(F.length(F.trim("value")) > 0)
        .select(
            F.lit("").alias("path"),
            F.encode("value", "UTF-8").alias("content"),
            F.lit("json").alias("fmt"),  # one request per row
        )
    )


def ingest_jsonl_fast(spark: SparkSession, path: str, signal: str = "logs") -> DataFrame:
    """Bulk JSONL logs/traces -> otel table through the line-split scan
    (`read_landing_lines`): every line decodes as its own payload with the
    fused Python codec, so one big file spreads over `maxPartitionBytes`
    ranges instead of decoding as one task. Rows equal the file-payload
    path's (tests/test_ingest_paths.py)."""
    if signal not in ("logs", "traces"):
        raise ValueError(f"fast path supports logs|traces, got {signal!r}")
    return _decode_table(read_landing_lines(spark, path), signal)


# ---------------------------------------------------------------------------
# Decode: one mapInArrow kernel, one walker per (signal, format)


def _walker(signal: str, fmt: str):
    """The fused single-pass walker of one (signal, format) cell: pb takes
    the wire walker (otel/fast_wire.py, ~2.4x the two-step lane), JSON and
    JSONL the JSON walker (otel/fast_flatten.py, ~3x). Each is
    differentially verified against its two-step authority
    (test_fast_wire.py / test_fast_flatten.py). Logs and traces walkers
    return flat rows; metrics walkers return one (per_type rows, skipped
    counters) pair per request."""
    if signal == "metrics":
        if fmt == "jsonl":
            return fast_flatten.flatten_metrics_request_jsonl
        one = fast_wire.flatten_metrics_pb if fmt == "pb" else fast_flatten.flatten_metrics_request_json
        return lambda body: [one(body)]
    if fmt == "pb":
        return fast_wire.flatten_logs_pb if signal == "logs" else fast_wire.flatten_traces_pb
    if fmt == "json":
        return functools.partial(fast_flatten.flatten_request_json, signal=signal)
    return functools.partial(fast_flatten.flatten_request_jsonl, signal=signal)


def _flatten_payload(content: bytes, fmt: str, signal: str) -> list:
    """payload bytes -> its (signal, fmt) walker's output; gzip bodies are
    sniffed and inflated first (D2)."""
    return _walker(signal, fmt)(_gunzip(content))


# the metrics cell of _flatten_payload, [(per_type rows, skipped counters)];
# perfbench's pb/JSON decode-parity test calls it by this name
_flatten_metrics_payload = functools.partial(_flatten_payload, signal="metrics")


def _decode_kernel(rows_of, schema: StructType, quarantine_dir: str | None = None):
    """mapInArrow kernel: payload batches -> Arrow batches of `schema`, with
    `rows_of(content, fmt)` turning one payload into its rows.

    Arrow end-to-end at the Python boundary: the row dicts go straight to
    `pa.Table.from_pylist` against the exact Arrow schema Spark expects —
    measured 2.2x the pandas detour (rows -> pd.DataFrame ->
    RecordBatch.from_pandas), which was ~20% of worker time once the fused
    walkers got fast (round-6; BASELINE.md fused-lane table). Columns a row
    dict lacks are null; epoch-µs ints fill timestamp columns as they are."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            rows: list[dict[str, Any]] = []
            paths = batch.column("path")
            # only read_landing_lines ships the bytes; landing scans ship
            # paths and each payload is read here, storage -> this worker
            contents = (
                batch.column("content") if "content" in batch.schema.names else None
            )
            fmts = batch.column("fmt")
            for i in range(batch.num_rows):
                # None until the bytes are in hand: a read failure must
                # quarantine WITHOUT a (misleading, empty) payload copy
                # (ADVICE r6)
                content: bytes | None = None
                try:
                    content = (
                        contents[i].as_py()
                        if contents is not None
                        else _read_payload_bytes(paths[i].as_py())
                    )
                    rows.extend(rows_of(content, fmts[i].as_py()))
                except OtlpDecodeError as e:
                    _handle_decode_error(e, quarantine_dir, paths[i].as_py(), content)
            # no yield when every payload in the batch was quarantined —
            # mapInArrow's declared schema covers the empty-partition case
            if rows:
                yield from pa.Table.from_pylist(rows, schema=target).to_batches()

    return fn


def _decode_table(
    payloads: DataFrame, signal: str, quarantine_dir: str | None = None
) -> DataFrame:
    """logs/traces payloads -> golden-typed `otel_{signal}` frame."""
    schema = schemas.spark_schema(f"otel_{signal}")
    rows_of = functools.partial(_flatten_payload, signal=signal)
    return payloads.mapInArrow(_decode_kernel(rows_of, schema, quarantine_dir), schema)


def decode_logs(payloads: DataFrame, quarantine_dir: str | None = None) -> DataFrame:
    return _decode_table(payloads, "logs", quarantine_dir)


# ---------------------------------------------------------------------------
# Metrics decode: single pass -> union frame tagged by metric_type (D10)

_SKIP_TAG = "skipped"


def _metrics_union_schema() -> StructType:
    """Common prefix + union of all type-specific columns + tag column.

    One decode pass serves all 5 metric tables: each row carries its
    `MetricType`; per-table frames are a filter+select away (never a second
    decode). Skip accounting (D10/§1.3.12) rides the same frame as
    `MetricType='skipped'` rows with the counter name in `SkipReason`.
    """
    seen: dict[str, StructField] = {}
    for table in schemas.METRIC_TABLES.values():
        for f in schemas.spark_schema(table).fields:
            seen.setdefault(f.name, StructField(f.name, f.dataType, True))
    fields = list(seen.values())
    fields.append(StructField("MetricType", StringType(), False))
    fields.append(StructField("SkipReason", StringType(), True))
    fields.append(StructField("SkipCount", LongType(), True))
    return StructType(fields)


METRICS_UNION_SCHEMA = _metrics_union_schema()


def _metrics_union_rows(content: bytes, fmt: str) -> list[dict[str, Any]]:
    """payload bytes -> union-frame rows: one per data point tagged with its
    MetricType, plus one 'skipped' row per non-zero skip counter."""
    rows: list[dict[str, Any]] = []
    for per_type, skipped in _flatten_payload(content, fmt, "metrics"):
        for mtype, trows in per_type.items():
            rows.extend(r | {"MetricType": mtype} for r in trows)
        rows.extend(
            {"MetricType": _SKIP_TAG, "SkipReason": reason, "SkipCount": cnt}
            for reason, cnt in skipped.items()
            if cnt
        )
    return rows


def decode_metrics_union(
    payloads: DataFrame, quarantine_dir: str | None = None
) -> DataFrame:
    """One decode pass over metrics payloads -> tagged union DataFrame."""
    return payloads.mapInArrow(
        _decode_kernel(_metrics_union_rows, METRICS_UNION_SCHEMA, quarantine_dir),
        METRICS_UNION_SCHEMA,
    )


def metrics_table(union_df: DataFrame, metric_type: str) -> DataFrame:
    """Project one persisted metric table out of the union frame."""
    table = schemas.METRIC_TABLES[metric_type]
    return union_df.filter(F.col("MetricType") == metric_type).select(
        *schemas.spark_schema(table).fieldNames()
    )


def skipped_metrics(union_df: DataFrame) -> DataFrame:
    """SkippedMetrics accounting twin (reference src/codec.rs:15-26):
    summary rows also count as skipped.summaries (they are decoded but not
    persisted by default, matching the 4-batcher server pipeline)."""
    return (
        union_df.filter(F.col("MetricType") == _SKIP_TAG)
        .groupBy(F.col("SkipReason").alias("reason"))
        .agg(F.sum("SkipCount").alias("count"))
    )


def split_metrics(union_df: DataFrame) -> dict[str, DataFrame]:
    """The union frame's 4 persisted metric tables, by table name."""
    return {
        schemas.METRIC_TABLES[t]: metrics_table(union_df, t)
        for t in schemas.PERSISTED_METRIC_TYPES
    }


# ---------------------------------------------------------------------------
# Signal dispatch: the one place batch, streaming and CLI ingest map a
# signal to its decoded frames


def decode_signal(
    payloads: DataFrame,
    signal: str,
    quarantine_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Landing payloads -> {table_name: decoded frame} for one signal.

    Logs and traces give their one table. Metrics give the union frame as
    '_union', its `split_metrics` tables and the '_skipped' accounting
    frame; on a batch source the union is persisted, so the 4 table writes
    + skip accounting run ONE decode job. A streaming union cannot be
    persisted: the stream writes '_union' and splits each micro-batch with
    `split_metrics` instead.

    Without `quarantine_dir` an invalid payload fails the job. With it,
    invalid payloads + typed-reason sidecars land in the bad-input dir while
    the pipeline continues (D25)."""
    if signal in ("logs", "traces"):
        return {f"otel_{signal}": _decode_table(payloads, signal, quarantine_dir)}
    if signal == "metrics":
        union_df = decode_metrics_union(payloads, quarantine_dir)
        if not payloads.isStreaming:
            union_df = union_df.persist(StorageLevel.MEMORY_AND_DISK)
        skipped = skipped_metrics(union_df)
        return {**split_metrics(union_df), "_skipped": skipped, "_union": union_df}
    raise ValueError(f"unknown signal: {signal}")


def ingest_directory(
    spark: SparkSession,
    landing_dir: str,
    signal: str,
    *,
    max_payload_bytes: int = DEFAULT_MAX_PAYLOAD_BYTES,
    quarantine_dir: str | None = None,
) -> dict[str, DataFrame]:
    """End-to-end decode of a landing dir for one signal.

    Returns `decode_signal`'s frames — {table_name: DataFrame}; metrics add
    '_skipped' and the persisted '_union', which callers unpersist after
    their actions complete — plus the '_rejected' admission side-output and
    '_landing', the Observation of its counts by reason that the first
    action over the tables fills. The reader is `read_landing_auto`'s
    path-only scan."""
    payloads, rejected, landing = _landing_scan(spark, landing_dir, max_payload_bytes)
    out = decode_signal(payloads, signal, quarantine_dir)
    out["_rejected"] = rejected
    out["_landing"] = landing
    return out
