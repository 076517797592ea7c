"""otlp2parquet_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of smithclay/otlp2parquet (reference snapshot at
/root/reference, v0.12.0).

The reference is an OTLP -> Parquet ingestion engine (Rust); its query surface
is delegated to external Parquet readers (reference docs/querying.md). This
package re-expresses the whole system Spark-first:

- ``otlp``      : OTLP payload decode (protobuf / JSON / JSONL) -> the seven
                  fixed ClickHouse-compatible schemas (reference src/codec.rs,
                  external crate otlp2records), as Arrow-vectorized transforms.
- ``writer``    : partitioned Snappy-Parquet sink with the reference's path
                  layout (reference src/writer/write.rs:71-165).
- ``queries``   : the full declared relational query surface (SURVEY.md §2.2 /
                  §2.3) as DataFrame builders with DuckDB oracle twins.
- ``extensions``: LLM-data-pipeline operators — dedup (exact / near-dup /
                  MinHash-LSH / SimHash), similarity search over embeddings,
                  text analysis, multimodal binary columns.
- ``streaming`` : Structured Streaming re-expression of the reference's
                  batching/flush dataflow (reference src/batch/mod.rs).
"""

__version__ = "0.1.0"

import os as _os
import zipimport as _zipimport

# A reused PySpark worker calls importlib.invalidate_caches() at the start of
# every task (pyspark.worker_util.setup_spark_files). On Python 3.11 that makes
# every cached zipimporter re-read its whole archive directory: one per
# pyspark sub-package the worker has imported, each re-reading the 3.5 MB
# pyspark.zip, ~0.2 s of a ~0.3 s task on a 4-vCPU host. Workers import this
# package when they unpickle any of its kernels, so it installs the guard: an
# archive is re-read only when its (mtime_ns, size, inode) stamp changed, and
# importers of the same archive share one re-read.
_zip_reread = _zipimport.zipimporter.invalidate_caches
_zip_stamps: dict[str, tuple] = {}  # archive -> (stamp, directory)


def _invalidate_zip_caches(self) -> None:
    try:
        st = _os.stat(self.archive)
    except OSError:
        return _zip_reread(self)
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    seen = _zip_stamps.get(self.archive)
    if seen is not None and seen[0] == stamp:
        self._files = seen[1]
    else:
        _zip_reread(self)
        _zip_stamps[self.archive] = (stamp, self._files)


if _zip_reread.__name__ == "invalidate_caches":  # not yet guarded
    _zipimport.zipimporter.invalidate_caches = _invalidate_zip_caches
