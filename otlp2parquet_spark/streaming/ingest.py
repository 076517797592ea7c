"""Structured-Streaming ingest: the reference server's time axis, natively.

Maps the reference's buffering/flush machinery (D16-D20, src/batch/,
src/lib.rs:244-305) onto Spark Structured Streaming (SURVEY.md §7 M5):

| reference                                   | here                           |
|---------------------------------------------|--------------------------------|
| BatchKey{service, minute} accumulation D16  | foreachBatch groups rows per   |
|                                             | (service, minute) at the sink  |
| flush thresholds rows/bytes/age D17         | trigger interval +             |
|                                             | maxFilesPerTrigger +           |
|                                             | max_rows_per_file at the sink  |
| backpressure 8x max_bytes D18               | maxFilesPerTrigger source cap  |
| periodic expiry flush task D19              | trigger(processingTime=...)    |
| shutdown drain + graceful exit D20          | checkpoint + query.stop():     |
|                                             | restart replays the open epoch:|
|                                             | exactly-once in the parity     |
|                                             | layout, at-least-once in the   |
|                                             | native one (see stream_ingest) |
| per-request accounting D27                  | df.observe() + progress events |

The source is the batch landing scan's twin: binaryFile file statuses only
(path, length), with each decode task reading its payloads' bytes through
the writer's pyarrow FileSystem lane. The micro-batch sink is the SAME
parity/native writer the batch path uses (T7 foreachBatch), so layout and
footer metadata are identical in both modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from otlp2parquet_spark.otel import ingest, writer

BINARYFILE_SCHEMA = StructType(
    [
        StructField("path", StringType(), True),
        StructField("modificationTime", TimestampType(), True),
        StructField("length", LongType(), True),
        StructField("content", BinaryType(), True),
    ]
)


def read_landing_stream(
    spark: SparkSession,
    landing_dir: str,
    *,
    max_files_per_trigger: int | None = None,
    max_payload_bytes: int = ingest.DEFAULT_MAX_PAYLOAD_BYTES,
) -> DataFrame:
    """Streaming twin of ingest.read_landing_auto (S6): the same admission
    rule (size guard D4, format dispatch D3) over the same path-only rows,
    (path, length, fmt) — the JVM never reads a payload's bytes; the
    decode tasks read them from their paths.

    Rejected payloads are counted, not silently dropped: the pre-filter
    frame carries a `landing` observation whose `rejected` field rides each
    micro-batch's own progress event (no extra job).

    `maxFilesPerTrigger` is the source-side rate limit standing in for the
    reference's backpressure bound (D18): a burst of landing files drains at
    a bounded per-batch rate instead of rejecting ingest.
    """
    reader = (
        spark.readStream.format("binaryFile")
        .schema(BINARYFILE_SCHEMA)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df, ok, _ = ingest._admission(reader.load(landing_dir), max_payload_bytes)
    return df.observe("landing", F.count_if(~ok).alias("rejected")).filter(ok)


def stream_ingest(
    spark: SparkSession,
    landing_dir: str,
    signal: str,
    output_root: str,
    checkpoint_dir: str,
    *,
    layout: str = "parity",
    trigger_seconds: float | None = None,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
    max_rows_per_file: int = writer.DEFAULT_MAX_ROWS_PER_FILE,
    quarantine_dir: str | None = None,
    max_payload_bytes: int = ingest.DEFAULT_MAX_PAYLOAD_BYTES,
):
    """Landing dir -> decoded -> partitioned Parquet, continuously.

    Returns the started StreamingQuery. The foreachBatch sink flushes each
    micro-batch through the parity writer with minute buckets — the exact
    (service, minute) clustering of the reference's BatchKey (D16) — or the
    native Hive writer. Checkpointing makes restart/shutdown drain-free
    (replaces D19/D20): an interrupted batch replays. What the replay
    guarantees depends on the layout:

    - parity: exactly-once. File names derive from the epoch
      (`run_tag=f"epoch{epoch_id}"`), so a replayed epoch overwrites its own
      files.
    - native: at-least-once. `write_native` appends under fresh file names,
      so an epoch replayed after a crash between its write and its
      checkpoint commit lands its rows twice.

    A landing file over `max_payload_bytes` (request.max_payload_bytes, the
    limit the receiver acknowledged it under) is rejected and counted in
    the `landing` observation, as in the batch scan.
    """
    payloads = read_landing_stream(
        spark,
        landing_dir,
        max_files_per_trigger=max_files_per_trigger,
        max_payload_bytes=max_payload_bytes,
    )
    # a poison payload must not kill the long-running query: with a
    # quarantine dir the bad input lands there (D25), otherwise fail loudly
    frames = ingest.decode_signal(payloads, signal, quarantine_dir=quarantine_dir)
    metrics = "_union" in frames
    if metrics:
        decoded = frames["_union"]  # one decode pass; split per micro-batch
    else:
        ((table, decoded),) = frames.items()

    def flush(batch_df: DataFrame, epoch_id: int) -> None:  # T7
        if metrics:
            # persist the 4 server tables; summary rows counted-and-dropped
            batch_df = batch_df.persist()
        tables = ingest.split_metrics(batch_df) if metrics else {table: batch_df}
        try:
            for name, df in tables.items():
                # bucket="minute": one file per (service, minute) — D16
                # BatchKey. run_tag=epoch makes file names deterministic, so
                # a replayed micro-batch (crash between write and checkpoint
                # commit) overwrites its own files: exactly-once at the
                # file level. The native layout ignores run_tag and appends.
                writer.write_table(
                    df, name, output_root, layout=layout, bucket="minute",
                    max_rows_per_file=max_rows_per_file, run_tag=f"epoch{epoch_id}",
                )
        finally:
            if metrics:
                batch_df.unpersist()

    ws = (
        decoded.observe("ingest", F.count(F.lit(1)).alias("records"))  # D26/D27
        .writeStream.foreachBatch(flush)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        ws = ws.trigger(availableNow=True)
    elif trigger_seconds:
        # periodic flush interval — the D19 background task twin
        ws = ws.trigger(processingTime=f"{trigger_seconds} seconds")
    return ws.start()
