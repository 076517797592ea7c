"""The package's zipimporter guard: `importlib.invalidate_caches()` re-reads
a zip archive on sys.path only when the archive changed on disk.

A reused PySpark worker calls `importlib.invalidate_caches()` before every
task; without the guard each cached zipimporter re-reads pyspark.zip's whole
directory every time.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import otlp2parquet_spark  # noqa: F401 (installs the guard)


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    tmp.replace(path)  # new inode, like a redeployed archive


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "guarded.zip"
    _write_zip(archive, {"zg_first": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("zg_first").VALUE == 1
    importlib.invalidate_caches()  # first sight of each archive stamps it

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    # a rewritten archive is re-read once, and its new module imports
    _write_zip(archive, {"zg_first": "VALUE = 1\n", "zg_second": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("zg_second").VALUE == 2
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    for name in ("zg_first", "zg_second"):
        sys.modules.pop(name, None)


def test_reused_worker_invalidate_caches_is_cheap(spark):
    """Inside a reused Python worker, with pyspark's sub-packages imported
    from pyspark.zip, `invalidate_caches()` costs well under a task's time."""

    def time_invalidate(batches):
        import importlib as il
        import sys as s
        import time as t
        import zipimport as z

        import pyarrow as pa

        import otlp2parquet_spark  # noqa: F401 (what unpickling a kernel imports)

        zips = sum(isinstance(f, z.zipimporter) for f in s.path_importer_cache.values())
        for b in batches:
            t0 = t.perf_counter()
            il.invalidate_caches()
            took = t.perf_counter() - t0
            yield pa.RecordBatch.from_pydict({"s": [took] * b.num_rows, "zips": [zips] * b.num_rows})

    df = spark.range(1, numPartitions=1).selectExpr("id AS s", "id AS zips")
    for _ in range(2):  # the first task stamps the archives
        (r,) = df.mapInArrow(time_invalidate, "s double, zips long").collect()
    assert r.zips > 0  # the worker does import from a zip archive
    assert r.s < 0.005, r.s
