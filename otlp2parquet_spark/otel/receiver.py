"""Out-of-engine HTTP receiver: OTLP/HTTP -> landing directory (D1).

The reference is an HTTP server (src/lib.rs:221-228 axum router,
src/handlers.rs:26-60 POST /v1/{logs,traces,metrics} + GET /health /ready,
docs/sending-data.md). SURVEY.md §3.1 deliberately keeps the receiver
out-of-engine: this stdlib implementation closes the loop by accepting the
same POSTs and appending each body as one landing file that the Spark side
(batch `ingest_directory` or `streaming.stream_ingest`) decodes — the
receiver never parses payloads, so it stays I/O-bound and horizontally
scalable (run N instances behind a balancer, all writing to the same
landing root; file names are per-request uuids so writers never collide).

Parity notes:
- content-type dispatch mirrors InputFormat::from_content_type
  (src/handlers.rs:69): application/x-protobuf -> .pb, application/json ->
  .json, application/jsonl / x-ndjson -> .jsonl; OTLP's wire default
  (protobuf) when absent/unknown.
- gzip request bodies are decompressed at the edge (reference
  RequestDecompressionLayer, src/lib.rs:227) and the 413 limit applies to
  the decompressed payload exactly like the reference. Decompression is
  *incremental* (zlib.decompressobj with max_length) and aborts with 413 as
  soon as expanded output crosses the limit, so a small gzip bomb cannot
  exhaust receiver memory; similarly a huge declared Content-Length is
  rejected before any body bytes are read.
- oversize -> 413 {"error": ...}; bad gzip -> 400; missing
  Content-Length -> 411 (chunked bodies are not supported — a 0-length
  read would silently land an empty payload), but an explicit
  `Content-Length: 0` is a valid empty OTLP export and lands a 200 like
  the reference; negative/invalid lengths -> 400; unknown route -> 404
  (reference AppError::into_response shape, src/lib.rs:80-91).
- multi-member (concatenated) gzip bodies decode all members like the
  reference's tower-http decoder; trailing non-gzip garbage -> 400.
- a per-connection socket timeout bounds how long a stalled client can
  pin a ThreadingHTTPServer thread.
- landing writes are atomic: body lands under a dot-prefixed temp name
  (ignored by Spark file sources) and is renamed into place, so a
  concurrent binaryFile scan never reads a partial payload.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
import zlib
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from otlp2parquet_spark.otel.ingest import DEFAULT_MAX_PAYLOAD_BYTES

_SIGNALS = ("logs", "traces", "metrics")

_CONTENT_TYPES = {
    "application/x-protobuf": "pb",
    "application/protobuf": "pb",
    "application/json": "json",
    "application/jsonl": "jsonl",
    "application/x-ndjson": "jsonl",
}


def format_from_content_type(content_type: str | None) -> str:
    """Twin of InputFormat::from_content_type (src/handlers.rs:69): OTLP/HTTP
    defaults to protobuf when the header is absent or unrecognized."""
    if not content_type:
        return "pb"
    base = content_type.split(";", 1)[0].strip().lower()
    return _CONTENT_TYPES.get(base, "pb")


class _PayloadTooLarge(Exception):
    pass


class _TruncatedGzip(Exception):
    pass


def inflate_capped(body: bytes, limit: int) -> bytes:
    """Incremental gzip inflate, capped: never materializes more than
    limit+1 decompressed bytes no matter the compression ratio, and decodes
    every member of a multi-member (concatenated) stream — the reference's
    tower-http RequestDecompressionLayer (src/lib.rs:227) and plain
    gzip.decompress both do, so stopping at member 1 would silently land
    truncated data. Trailing non-gzip garbage raises zlib.error (-> 400).
    """
    out: list[bytes] = []
    produced = 0
    data = body
    while True:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)  # gzip wrapper
        while True:
            chunk = d.decompress(data, limit + 1 - produced)
            out.append(chunk)
            produced += len(chunk)
            if produced > limit:
                raise _PayloadTooLarge
            if not d.unconsumed_tail:
                break
            data = d.unconsumed_tail
        if not d.eof:
            raise _TruncatedGzip
        data = d.unused_data
        if not data:
            return b"".join(out)


class _Handler(BaseHTTPRequestHandler):
    # set by make_server(): landing_root, max_payload_bytes, quiet
    server_version = "otlp2parquet-spark-receiver/1.0"
    # HTTP/1.1 so exporters reuse connections between POSTs (the reference's
    # axum server is keep-alive; stdlib defaults to 1.0 = close-per-request,
    # which triples the TCP cost for the steady OTLP export cadence). Every
    # response sets Content-Length, which 1.1 keep-alive requires.
    protocol_version = "HTTP/1.1"
    # Per-connection socket timeout: a client that declares a body but stalls
    # without sending it would otherwise pin a ThreadingHTTPServer thread
    # forever (every rfile.read blocks with no deadline). StreamRequestHandler
    # applies this in setup(); a timed-out read raises and drops the
    # connection (handle_one_request logs "Request timed out").
    timeout = 30.0

    def setup(self) -> None:
        override = getattr(self.server, "request_timeout", None)
        if override is not None:
            self.timeout = override
        super().setup()

    def log_message(self, fmt, *args):  # stdlib logs to stderr per request
        if not getattr(self.server, "quiet", True):
            super().log_message(fmt, *args)

    def _json(self, status: int, obj: dict) -> None:
        body = json.dumps(obj).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _drain(self, n: int) -> None:
        """Read and discard n body bytes in fixed-size chunks (bounded memory)."""
        while n > 0:
            chunk = self.rfile.read(min(n, 65536))
            if not chunk:
                break
            n -= len(chunk)

    def do_GET(self) -> None:  # noqa: N802 (stdlib naming)
        if self.path == "/health":
            self._json(200, {"status": "healthy"})
        elif self.path == "/ready":
            self._json(200, {"status": "ready"})
        else:
            self._json(404, {"error": f"not found: {self.path}"})

    def do_POST(self) -> None:  # noqa: N802
        parts = self.path.strip("/").split("/")
        if len(parts) != 2 or parts[0] != "v1" or parts[1] not in _SIGNALS:
            # the request body is never read on this path — under HTTP/1.1
            # keep-alive the unread bytes would be parsed as the next
            # request line (protocol desync), so drop the connection
            self.close_connection = True
            self._json(404, {"error": f"not found: {self.path}"})
            return
        signal = parts[1]
        limit = self.server.max_payload_bytes
        raw_length = self.headers.get("Content-Length")
        if raw_length is None:
            # Chunked / length-less bodies would read as 0 bytes and land an
            # empty payload with a 200 — silent data loss. Refuse instead.
            # (Body unread and unreadable without a length: close, as above.)
            self.close_connection = True
            self._json(411, {"error": "Content-Length required"})
            return
        try:
            length = int(raw_length)
        except ValueError:
            self.close_connection = True  # body length unknown: desync risk
            self._json(400, {"error": "bad Content-Length"})
            return
        if length < 0:
            self.close_connection = True  # body length unknown: desync risk
            self._json(400, {"error": "bad Content-Length"})
            return
        # length == 0 is a valid empty OTLP export (reference lands it 200).
        gzipped = self.headers.get("Content-Encoding", "").lower() == "gzip"
        # Pre-read wire-size gate: a hostile declared length must never size
        # an allocation. For gzip bodies the limit governs the DECOMPRESSED
        # payload (reference semantics), so allow the wire bytes a small
        # incompressibility slack (gzip worst case ~0.03% + constant header);
        # the capped inflate below makes the real 413 decision.
        wire_limit = limit + limit // 200 + 1024 if gzipped else limit
        if length > wire_limit:
            # Discard a bounded amount so a well-behaved client blocked in
            # send() can finish and read the 413 (beyond the cap the
            # connection just closes).
            self._drain(min(length, max(limit, 8 * 1024 * 1024)))
            self.close_connection = True
            self._json(413, {"error": f"payload {length} exceeds limit {limit}"})
            return
        body = self.rfile.read(length)
        if gzipped:
            try:
                body = inflate_capped(body, limit)
            except _PayloadTooLarge:
                self._json(413, {"error": f"payload exceeds limit {limit} after decompression"})
                return
            except _TruncatedGzip:
                self._json(400, {"error": "bad gzip body: truncated stream"})
                return
            except zlib.error as e:
                self._json(400, {"error": f"bad gzip body: {e}"})
                return
        if len(body) > limit:
            self._json(413, {"error": f"payload {len(body)} exceeds limit {limit}"})
            return
        fmt = format_from_content_type(self.headers.get("Content-Type"))
        d = os.path.join(self.server.landing_root, signal)
        os.makedirs(d, exist_ok=True)
        name = f"{uuid.uuid4().hex}.{fmt}"
        tmp = os.path.join(d, "." + name + ".tmp")
        with open(tmp, "wb") as f:
            f.write(body)
        os.rename(tmp, os.path.join(d, name))
        self._json(200, {"status": "ok", "landed": f"{signal}/{name}", "bytes": len(body)})


class _ReceiverServer(ThreadingHTTPServer):
    # stdlib default listen backlog is 5: a burst of concurrent exporters
    # overflows the SYN queue and gets connection resets under load. 128
    # matches common server defaults.
    request_queue_size = 128


def make_server(
    landing_root: str,
    host: str = "127.0.0.1",
    port: int = 0,
    *,
    max_payload_bytes: int = DEFAULT_MAX_PAYLOAD_BYTES,
    quiet: bool = True,
    request_timeout: float | None = None,
) -> ThreadingHTTPServer:
    """Build (not start) the receiver; port=0 binds an ephemeral port.
    `server.server_address[1]` is the bound port. `request_timeout`
    overrides the per-connection socket deadline (default 30 s)."""
    srv = _ReceiverServer((host, port), _Handler)
    srv.landing_root = landing_root
    srv.max_payload_bytes = max_payload_bytes
    srv.quiet = quiet
    srv.request_timeout = request_timeout
    return srv


def serve_background(server: ThreadingHTTPServer) -> threading.Thread:
    """Run the receiver on a daemon thread (tests / embedded use)."""
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return t
