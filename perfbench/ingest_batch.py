"""Workload `ingest`, batch part: a seeded landing dir of all three signals
is ingested the way `cli ingest <dir> <signal>` does it, then the live part
(`ingest_stream.py`) runs on the same session.

One rep calls `ingest.ingest_directory` for each signal and
`writer.write_partitioned` (the parity layout) for each table it returns.
The first rep after session start is the cold one. It reads a small landing
dir of every signal and format, the three signals at once, so it pays the
one-time cost of the code paths without the long run over the data. The
warm rep then reads the main landing dir, one signal after the other:
118,880 rows, 94% of them logs, mostly protobuf. In the traced
run one more rep runs layer by layer: the landing scan, each decode
materialised on its own, then each write from the persisted decode.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import gen
import ingest_stream
from spans import latency_stats, sum_counters

SIGNALS = ("logs", "traces", "metrics")
WARM_REPS = 1
# the cold rep's landing dir: every signal and format, 3,680 rows
COLD_LANDING = dict(
    log_requests=12, log_records=200,
    trace_requests=16, trace_spans=50,
    metric_requests=8, metric_points=15,
)
LANDING = dict(
    log_requests=60, log_records=200,
    bulk_log_requests=200, hot_log_requests=300,
    trace_requests=80, trace_spans=50,
    metric_requests=48, metric_points=15,
)
# A quarter of the CLI default. Only the hot (service, hour) group, 60,000
# rows, outgrows it, so the writer's salt path runs for that group alone.
MAX_ROWS_PER_FILE = 50_000
TABLES = (
    "otel_logs", "otel_traces", "otel_metrics_gauge", "otel_metrics_sum",
    "otel_metrics_histogram", "otel_metrics_exponential_histogram",
)
_PATH = re.compile(
    r"^(logs|traces|metrics/[a-z_]+)/[^/]+/year=\d{4}/month=\d{2}/day=\d{2}/hour=\d{2}/"
    r"\d+-[0-9a-f]{16}-[0-9a-f]{16}-\d+\.parquet$"
)
# the (service, hour) group gen.write_landing makes hot: path prefix, hour
_HOT_GROUP = (f"logs/{gen.SERVICES[0]}/", f"/hour={gen.HOURS // 2:02d}/")
_FOOTER_KEYS = {
    "otel_logs": b"otlp2parquet.schema_version",
    "otel_traces": b"otlp2parquet.traces_schema_version",
}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def ingest_signal(spark, landing: str, signal: str, out: str, max_rows: int):
    """One `cli ingest` call: decode one signal's landing dir, write every
    table. Returns (accounting rows, skip counts)."""
    from otlp2parquet_spark.otel import ingest, writer

    frames = ingest.ingest_directory(spark, os.path.join(landing, signal), signal)
    acct, skipped = [], {}
    try:
        for table, df in frames.items():
            if not table.startswith("_"):
                acct += writer.write_partitioned(df, table, out, max_rows_per_file=max_rows).collect()
        if "_skipped" in frames:
            skipped = {r["reason"]: r["count"] for r in frames["_skipped"].collect()}
    finally:
        if "_union" in frames:
            frames["_union"].unpersist()
    return acct, skipped


def check_output(ctx, name: str, out: str, acct, manifest: gen.Manifest, skipped) -> tuple[int, int]:
    """Rows per table and skip counts against the manifest, the path layout
    and the footer key of every file. Returns (files, bytes)."""
    import pyarrow.parquet as pq

    rows: dict[str, int] = {}
    nbytes = 0
    bad_paths = bad_footers = hot_files = 0
    for r in acct:
        rel = os.path.relpath(r["path"], out)
        hot_files += rel.startswith(_HOT_GROUP[0]) and _HOT_GROUP[1] in rel
        seg = rel.split("/")[0] if not rel.startswith("metrics/") else "/".join(rel.split("/")[:2])
        table = "otel_" + seg.replace("metrics/", "metrics_")
        rows[table] = rows.get(table, 0) + r["rows"]
        bad_paths += not _PATH.match(rel)
        nbytes += os.path.getsize(r["path"])
        meta = pq.read_metadata(r["path"]).metadata or {}
        key = _FOOTER_KEYS.get(table, b"otlp2parquet.metrics_schema_version")
        bad_footers += key not in meta
    want = {t: manifest.rows.get(t, 0) for t in rows.keys() | manifest.rows.keys()}
    ctx.check(rows == want, f"{name}.rows_per_table {rows} != {want}")
    ctx.check(bad_paths == 0, f"{name}.path_layout ({bad_paths} bad)")
    ctx.check(bad_footers == 0, f"{name}.footer_key ({bad_footers} missing)")
    ctx.check(skipped == manifest.skipped, f"{name}.skipped {skipped} != {manifest.skipped}")
    if manifest.hot_rows > MAX_ROWS_PER_FILE:
        ctx.check(hot_files >= 2, f"{name}.salted_hot_group ({hot_files} files)")
    return len(acct), nbytes


def ingest_rep(ctx, landing: str, out: str, max_rows: int, label: str, threads: bool = False):
    """All three signals once, one after the other, or at once from three
    threads; returns (wall, per-signal walls, accounting, skips). The
    per-signal walls are taken one after the other only: the tracer's span
    stack is not shared between threads."""
    walls, results = {}, []
    t0 = time.perf_counter()
    with ctx.tracer.span("otel.ingest.rep", rep=label):
        if threads:
            with ThreadPoolExecutor(len(SIGNALS)) as pool:
                results = list(pool.map(
                    lambda signal: ingest_signal(ctx.spark, landing, signal, out, max_rows), SIGNALS))
        else:
            for signal in SIGNALS:
                with ctx.tracer.span(f"otel.ingest.call.{signal}") as sp:
                    results.append(ingest_signal(ctx.spark, landing, signal, out, max_rows))
                walls[signal] = sp.seconds
    acct, skipped = [], {}
    for a, s in results:
        acct += a
        skipped.update(s)
    return time.perf_counter() - t0, walls, acct, skipped


def layered_rep(ctx, landing: str, out: str) -> dict[str, float]:
    """The same work split into layers: scan, decode (materialised into a
    persisted frame) and write from that frame; plus the decode split by
    payload format and the Catalyst JSONL lane."""
    from pyspark import StorageLevel

    from otlp2parquet_spark.otel import ingest, writer

    spark, tr = ctx.spark, ctx.tracer
    layers: dict[str, float] = {"otel.ingest.rejected": 0}
    for signal in SIGNALS:
        src = os.path.join(landing, signal)
        with tr.span("otel.ingest.scan", signal=signal) as sp:
            accepted, rejected = ingest.read_landing_auto(spark, src)
            noop(accepted)
        layers["otel.ingest.scan_s"] = layers.get("otel.ingest.scan_s", 0.0) + sp.seconds
        layers["otel.ingest.rejected"] += rejected.count()
        # the rep's work for this signal: decode, then write every table
        reads_before = tr.counter_s
        with tr.span(f"otel.ingest.layered.{signal}") as lsp:
            with tr.span(f"otel.ingest.decode.{signal}") as sp:
                frames = ingest.ingest_directory(spark, src, signal)
                if signal == "metrics":
                    noop(frames["_union"])  # persisted by ingest_directory
                    skipped = frames["_skipped"].collect()
                else:
                    table = f"otel_{signal}"
                    frames[table] = frames[table].persist(StorageLevel.MEMORY_AND_DISK)
                    noop(frames[table])
            layers[f"otel.ingest.decode_s.{signal}"] = sp.seconds
            if signal == "metrics":
                layers["otel.ingest.skipped"] = sum(r["count"] for r in skipped)
            for table, df in frames.items():
                if table.startswith("_"):
                    continue
                with tr.span(f"otel.writer.write.{table}") as sp:
                    writer.write_partitioned(df, table, out, max_rows_per_file=MAX_ROWS_PER_FILE).collect()
                layers[f"otel.writer.write_s.{table}"] = sp.seconds
                if signal != "metrics":
                    df.unpersist()
            if "_union" in frames:
                frames["_union"].unpersist()
            reads = tr.counter_s - reads_before  # the inner spans' counter reads
        layers["otel.ingest.layered_rep_s"] = (
            layers.get("otel.ingest.layered_rep_s", 0.0) + lsp.seconds - reads)
    logs = os.path.join(landing, "logs")
    for fmt in ("pb", "json", "jsonl"):
        with tr.span(f"otel.ingest.decode_fmt.{fmt}") as sp:
            noop(ingest.decode_logs(ingest.read_landing_auto(spark, os.path.join(logs, fmt))[0]))
        layers[f"otel.ingest.decode_s.{fmt}"] = sp.seconds
    with tr.span("otel.native_json.decode.logs") as sp:
        noop(ingest.ingest_jsonl_fast(spark, os.path.join(logs, "jsonl"), "logs"))
    layers["otel.native_json.decode_s.logs"] = sp.seconds
    return layers


INGEST_COUNTER_LAYERS = {
    "otel.ingest.scan": "otel.ingest.scan",
    "otel.ingest.decode": "otel.ingest.decode.",
    "otel.writer": "otel.writer.write.",
}


def run(ctx, session_s: float):
    """The `ingest` workload: the cold rep on a small landing dir, the warm
    reps on the main one, then the live phase (`ingest_stream.stream_phase`)
    on the same, now warm, session."""
    landing, out = ctx.path("landing"), ctx.path("out")
    with ctx.tracer.span("bench.generate") as gsp:
        cold = (ctx.path("landing-cold"), gen.write_landing(ctx.path("landing-cold"), ctx.seed, **COLD_LANDING))
        manifest = gen.write_landing(landing, ctx.seed, **LANDING)
    reps, calls = [], {s: [] for s in SIGNALS}
    files = nbytes = rows = 0
    for i, (src, man) in enumerate([cold] + [(landing, manifest)] * WARM_REPS):
        rep_out = os.path.join(out, f"rep{i}")
        # the cold rep runs the signals at once: its cost is mostly the fixed
        # first-call cost of each signal's code path, which then overlaps
        wall, walls, acct, skipped = ingest_rep(ctx, src, rep_out, MAX_ROWS_PER_FILE, str(i), threads=i == 0)
        f, b = check_output(ctx, f"ingest.rep{i}", rep_out, acct, man, skipped)
        shutil.rmtree(rep_out, ignore_errors=True)
        reps.append(wall)
        if i > 0:  # the warm reps
            files, nbytes, rows = files + f, nbytes + b, rows + sum(r["rows"] for r in acct)
            for signal, w in walls.items():
                calls[signal].append(w)
    fresh, layers = ingest_stream.stream_phase(ctx)
    p50, tail = latency_stats(fresh)
    e2e = {
        # the cold rep happens once per JVM: one sample per run, set-up work
        "setup_s": session_s + reps[0],
        "work_s": statistics.median(reps[1:]),
        "rows_per_s": manifest.total_rows / statistics.median(reps[1:]),
        "latency_s_p50": p50,
        "latency_s_tail": tail,
        "stored_bytes_per_row": nbytes / rows,
    }
    layers["bench.generate_s"] += gsp.seconds
    layers["otel.ingest.cold_rep_s"] = reps[0]
    for signal, walls in calls.items():
        layers[f"otel.ingest.call_s.{signal}"] = statistics.median(walls)
    if ctx.trace:
        layers.update(layered_rep(ctx, landing, os.path.join(out, "layered")))
        decode = sum(layers[f"otel.ingest.decode_s.{s}"] for s in SIGNALS)
        write = sum(layers[f"otel.writer.write_s.{t}"] for t in TABLES)
        # Accounting against the layered rep's own wall, less the tracer's
        # counter reads: what decode and write leave out is the glue between
        # the calls (frame set-up, unpersist).
        layers["otel.ingest.unattributed_s"] = layers["otel.ingest.layered_rep_s"] - decode - write
        layers["otel.ingest.layer_coverage_pct"] = 100 * (decode + write) / layers["otel.ingest.layered_rep_s"]
        layers["otel.writer.files"] = files / WARM_REPS
        layers["otel.writer.bytes"] = nbytes / WARM_REPS
        layers.update(sum_counters(ctx.tracer, INGEST_COUNTER_LAYERS))
    return e2e, layers
