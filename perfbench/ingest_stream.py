"""The live phase of the `ingest` workload: receiver-to-table freshness.

An open-loop generator POSTs protobuf log exports to `receiver.make_server`
at a fixed rate, from up to four sender threads with kept-alive
connections. `streaming.ingest.stream_ingest` drains the landing dir on the
CLI's default 5 s trigger into minute-bucketed parity files. Each request is
timed from the moment it was due, so a stall that delays later sends counts.

Freshness is due time -> commit of the micro-batch that read the payload:
the checkpoint's `sources/0/` log (and its `.compact` files) names the batch
of each landed file, and `commits/<batch>` is written when that batch
commits.
"""

from __future__ import annotations

import http.client
import json
import math
import os
import statistics
import threading
import time
from datetime import datetime

import gen
from spans import latency_stats

RATE = 20.0  # requests per second, below saturation on 4 vCPUs
RECORDS = 100  # log records per request
TRIGGER_S = 5.0  # `cli stream --trigger-seconds` default
SENDERS = min(4, os.cpu_count() or 1)
WINDOW_LEAD_S = 1.0  # the window ends this long before a trigger
DRAIN_TIMEOUT_S = 40.0


def send_all(port: int, bodies: list[bytes], t_start: float) -> list[dict]:
    """POST bodies[i] at t_start + i / RATE (wall clock), open loop."""
    results: list[dict] = [{} for _ in bodies]

    def sender(k: int) -> None:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        try:
            for i in range(k, len(bodies), SENDERS):
                due = t_start + i / RATE
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                sent = time.time()
                try:
                    conn.request("POST", "/v1/logs", body=bodies[i],
                                 headers={"Content-Type": "application/x-protobuf"})
                    resp = conn.getresponse()
                    payload = json.loads(resp.read())
                    status = resp.status
                except (OSError, http.client.HTTPException, ValueError):
                    conn.close()
                    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
                    payload, status = {}, 0
                results[i] = {"due": due, "sent": sent, "ack": time.time(),
                              "status": status, "landed": payload.get("landed")}
        finally:
            conn.close()

    threads = [threading.Thread(target=sender, args=(k,)) for k in range(SENDERS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


def batch_of_files(ckpt: str) -> dict[str, int]:
    """landed file name -> micro-batch id, from the file-source log."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f.read().splitlines()[1:]:  # first line is the log version
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    d = os.path.join(ckpt, "commits")
    return {
        int(n): os.stat(os.path.join(d, n)).st_mtime_ns / 1e9
        for n in os.listdir(d) if n.isdigit()
    } if os.path.isdir(d) else {}


def wait_committed(ckpt: str, sent: list[dict]):
    """Wait until every acknowledged payload's micro-batch has committed;
    returns (file -> batch, batch -> commit time)."""
    files = [os.path.basename(r["landed"]) for r in sent if r.get("status") == 200]
    deadline = time.time() + DRAIN_TIMEOUT_S
    while True:
        batches, commits = batch_of_files(ckpt), commit_times(ckpt)
        if all(batches.get(f) in commits for f in files) or time.time() > deadline:
            return batches, commits
        time.sleep(0.1)


def _iso(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def stream_phase(ctx) -> tuple[list[float], dict[str, float]]:
    """Serve `ctx.seconds` of live traffic; returns (freshness per request,
    per-layer metrics). Every request is checked to land exactly once."""
    import duckdb

    from otlp2parquet_spark.otel import receiver
    from otlp2parquet_spark.streaming.ingest import stream_ingest

    tr = ctx.tracer
    landing, out, ckpt = ctx.path("live"), ctx.path("live-out"), ctx.path("checkpoint")
    os.makedirs(os.path.join(landing, "logs"))

    n = math.ceil(RATE * ctx.seconds)
    with tr.span("bench.generate.live") as gsp:
        fac = gen.RequestFactory(ctx.seed, tag="s")
        rids, trees = zip(*(fac.logs(RECORDS, ts_ns=time.time_ns()) for _ in range(n)))
        bodies = [gen.render(t, "logs", "pb") for t in trees]

    srv = receiver.make_server(landing)
    receiver.serve_background(srv)
    query = None
    try:
        query = stream_ingest(ctx.spark, os.path.join(landing, "logs"), "logs", out, ckpt,
                              trigger_seconds=TRIGGER_S)
        while query.lastProgress is None:  # the first, empty, trigger
            time.sleep(0.05)
        # Spark fires processing-time triggers on multiples of the interval
        # since the epoch. Ending the window just before one of them fixes
        # the window's phase (freshness is the same from run to run) and
        # lets that trigger drain the last payloads.
        earliest_end = time.time() + 0.5 + n / RATE + WINDOW_LEAD_S
        t_start = math.ceil(earliest_end / TRIGGER_S) * TRIGGER_S - WINDOW_LEAD_S - n / RATE
        with tr.span("otel.receiver.send", requests=n):
            results = send_all(srv.server_address[1], bodies, t_start)
        backlog = sum(1 for r in results if r.get("landed")) - len(batch_of_files(ckpt))
        batches, commits = wait_committed(ckpt, results)
        # a batch's progress event follows its commit
        deadline = time.time() + 10
        while query.lastProgress["batchId"] < max(commits, default=0) and time.time() < deadline:
            time.sleep(0.05)
        progress = {p["batchId"]: p for p in query.recentProgress}
    finally:
        if query is not None:
            query.stop()
        srv.shutdown()
        srv.server_close()

    fresh, waits, data = [], [], set()
    for r in results:
        b = batches.get(os.path.basename(r["landed"] or ""))
        if r.get("status") == 200 and b in commits:
            data.add(b)
            fresh.append(commits[b] - r["due"])
            waits.append(_iso(progress[b]["timestamp"]) - r["ack"])

    con = duckdb.connect()
    got = dict(con.execute(
        f"SELECT json_extract_string(ResourceAttributes, '$.\"{gen.REQUEST_ID_KEY}\"'), count(*) "
        f"FROM read_parquet('{out}/logs/**/*.parquet', hive_partitioning = false) GROUP BY 1"
    ).fetchall())
    con.close()
    for r, rid in zip(results, rids):
        ok = r.get("status") == 200 and got.pop(rid, 0) == RECORDS
        ctx.check(ok, f"ingest.live.request.{rid}")
    ctx.check(not got, f"ingest.live.unexpected_requests {sorted(got)[:5]}")

    files = [os.path.join(dp, f) for dp, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")]
    data = [progress[b] for b in sorted(data)]
    batch_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in data]
    ack_p50, ack_tail = latency_stats([r["ack"] - r["due"] for r in results])
    bt_p50, bt_tail = latency_stats(batch_s)
    layers = {
        "bench.generate_s": gsp.seconds,
        "bench.generator_late_s": max(r["sent"] - r["due"] for r in results),
        "otel.receiver.requests": len(results),
        "otel.receiver.rejected": sum(1 for r in results if r.get("status") != 200),
        "otel.receiver.bytes": sum(len(b) for b in bodies),
        "otel.receiver.ack_s_p50": ack_p50,
        "otel.receiver.ack_s_tail": ack_tail,
        "streaming.ingest.files": len(files),
        "streaming.ingest.bytes_per_row": sum(map(os.path.getsize, files)) / (RECORDS * n),
        "streaming.ingest.batch_s_p50": bt_p50,
        "streaming.ingest.batch_s_tail": bt_tail,
        "streaming.ingest.addbatch_s_p50": statistics.median(
            p["durationMs"]["addBatch"] / 1e3 for p in data),
        "streaming.ingest.wait_s_p50": statistics.median(waits),
        "streaming.ingest.batches": len(data),
        "streaming.ingest.rows_per_batch_p50": statistics.median(
            p["observedMetrics"]["ingest"]["records"] for p in data),
        "streaming.ingest.backlog_files_end": backlog,
    }
    return fresh, layers
