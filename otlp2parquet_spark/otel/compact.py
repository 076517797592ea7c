"""Small-file compaction for the parity-layout parquet sink.

The reference's (service, minute) flush policy (D16/D17) — and this repo's
streaming sink twin — trades latency for file count: steady low-volume
ingest produces one small parquet file per flush, and small files are THE
operational tax of any streaming lake (open/footer overhead per scan task,
object-store request amplification). `compact_table` rewrites each
(service, hour) partition's fragments into max_rows_per_file-sized files
and removes the fragments.

Spark-first: the rewrite IS `writer.write_partitioned` over the fragment
read — one distributed pass, same golden schema/footers, same
executor-side pyarrow writes — so compaction scales exactly like the
original write. Old-file deletion is a driver-side metadata pass over the
pre-compaction listing (file ops, not data).

Every file operation — listing, stat, the fragment read (an executor-side
`mapInArrow` over the file list) and deletion — goes through the
writer's one pyarrow FileSystem lane, `writer._resolve_fs`, so local,
file://, s3:// and s3a:// roots run the same code, with no hadoop-aws
jar. The driver-side calls read the process's AWS_* variables, which
`config.apply_storage_conf` sets from the `storage` section.

Crash-safety contract (documented, not transactional): new files land
first (fresh deterministic run-tag names), originals are deleted after.
A crash in between leaves BOTH generations visible — re-running
compaction converges (the duplicated rows compact again and the stale
generation is removed). Readers racing a compaction can observe
duplicates for its duration — do NOT run it while a streaming sink or
reader is active on the same root (the CLI prints this warning); at
production scale a table format with commit atomicity (Delta/Iceberg) is
the right tool — this operator is the layout-preserving variant for the
reference's plain-parquet layout.
Reference context: src/writer/write.rs flush-per-batch file naming.
"""

from __future__ import annotations

import posixpath
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession

from otlp2parquet_spark.otel import schemas, writer


def _list_parquet(root: str, table: str) -> list[str]:
    """All parquet data files under the table root, as fs-relative paths
    (the form pyarrow's FileSystem APIs consume)."""
    from pyarrow import fs as pafs

    fs, rel = writer._resolve_fs(root)
    base = posixpath.join(rel, schemas.TABLE_PATH_SEGMENT[table])
    sel = pafs.FileSelector(base, recursive=True, allow_not_found=True)
    return sorted(
        info.path
        for info in fs.get_file_info(sel)
        if info.type == pafs.FileType.File and info.path.endswith(".parquet")
    )


def _read_fragments(
    spark: SparkSession, root: str, rel_paths: list[str], table: str
) -> DataFrame:
    """Distributed pyarrow read of fragment files, on a local root and an
    object store alike.

    Each executor task resolves the filesystem from the root URI (+ AWS env
    vars, like the writer does) and streams its files' record batches, cast
    to the arrow schema Spark expects for the table's Spark schema (the
    golden files carry uint32 TraceFlags etc. that Spark's type system
    widens). One task per ~file: the file list is the parallelism unit,
    exactly like a native scan over small files."""
    from pyspark.sql.pandas.types import to_arrow_schema

    sschema = schemas.spark_schema(table)
    target = to_arrow_schema(sschema)
    paths_df = spark.createDataFrame(
        [(p,) for p in rel_paths], "path string"
    ).repartition(min(len(rel_paths), 64))

    def read_files(batches) -> Iterator:
        from pyarrow import parquet as pq

        fs, _ = writer._resolve_fs(root)
        for batch in batches:
            for p in batch.column(0).to_pylist():
                tbl = pq.read_table(p, filesystem=fs).cast(target)
                yield from tbl.to_batches()

    return paths_df.mapInArrow(read_files, sschema)


class CompactionActiveError(RuntimeError):
    """The quiesce guard refused to compact: a writer looks active on the
    root. Its own type so callers (the CLI's exit-3 branch) can distinguish
    the refusal from arbitrary RuntimeErrors raised inside the rewrite —
    and from NotImplementedError, which is a RuntimeError subclass."""


def newest_data_file_age_sec(
    root: str, table: str, files: list[str] | None = None
) -> float | None:
    """Seconds since the most recent data-file modification under the table
    root (None when the table has no files). Activity probe for the
    non-atomic swap guard: a young newest-file age means a writer (almost
    certainly the streaming sink, which flushes every trigger) is active on
    this root and compaction would expose duplicated rows to its readers.

    `files` skips the recursive listing when the caller already has one
    (compact_table lists once and probes from it — listing is THE
    object-store tax, module docstring). Files that vanish between listing
    and stat (a concurrent compaction's deletions) have no mtime and are
    skipped: not evidence of activity."""
    import time

    if files is None:
        files = _list_parquet(root, table)
    if not files:
        return None
    fs, _rel = writer._resolve_fs(root)
    stamps = [
        info.mtime.timestamp()
        for info in fs.get_file_info(files)
        if info.mtime is not None
    ]
    if not stamps:
        return None  # nothing statable: caller decides (CLI warns)
    return max(0.0, time.time() - max(stamps))


def compact_table(
    spark: SparkSession,
    root: str,
    table: str,
    *,
    bucket: str = "hour",
    max_rows_per_file: int = writer.DEFAULT_MAX_ROWS_PER_FILE,
    min_files_per_partition: int = 2,
    require_quiesced_sec: float = 0.0,
) -> DataFrame:
    """Rewrite the table's fragment files into full-size files in place.

    Returns the new accounting frame (path, rows, service). Only
    partitions holding at least `min_files_per_partition` fragments are
    rewritten — already-compact partitions are never read, rewritten or
    deleted, so the I/O (and the crash-exposure window) is bounded by the
    fragmented subset, not the table.

    require_quiesced_sec > 0 REFUSES to run (CompactionActiveError) when any
    data file under the root was modified more recently than that — the swap
    is non-atomic (module docstring), so compacting under an active
    streaming sink exposes duplicated rows to concurrent readers. The CLI
    sets 120 s by default; --force drops the guard."""
    fs, _rel = writer._resolve_fs(root)
    old_files = _list_parquet(root, table)
    if require_quiesced_sec > 0:
        # probe from the listing just taken: one recursive listing total
        age = newest_data_file_age_sec(root, table, files=old_files)
        if age is not None and age < require_quiesced_sec:
            raise CompactionActiveError(
                f"refusing to compact {table} at {root}: newest data file is "
                f"{age:.0f}s old (< {require_quiesced_sec:.0f}s) — a writer "
                "looks active on this root and the compaction swap is "
                "non-atomic. Stop the streaming sink or pass --force."
            )
    by_dir: dict[str, list[str]] = {}
    for f in old_files:
        by_dir.setdefault(posixpath.dirname(f), []).append(f)
    frag_files = [
        f
        for files in by_dir.values()
        if len(files) >= min_files_per_partition
        for f in files
    ]
    if not frag_files:
        return spark.createDataFrame(
            [], "path string, rows long, service string"
        )
    # read ONLY the fragmented partitions' files; the (service, bucket)
    # regrouping inside write_partitioned re-derives the same partition
    # paths, so the rewrite lands exactly where the fragments were
    df = _read_fragments(spark, root, frag_files, table)
    acct = writer.write_partitioned(
        df, table, root, bucket=bucket, max_rows_per_file=max_rows_per_file
    ).collect()
    _delete(fs, frag_files)
    return spark.createDataFrame(acct, "path string, rows long, service string")


def _delete(fs, paths: Iterable[str]) -> None:
    for p in paths:
        try:
            fs.delete_file(p)
        except FileNotFoundError:
            pass
