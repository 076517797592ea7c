"""Minimal in-process S3 REST stub for exercising the real object-store
write path (otel/writer._resolve_fs -> pyarrow S3FileSystem) without a
network or MinIO — the twin of the reference's MinIO e2e harness
(tests/harness/mod.rs:150-249, docker-compose.yml).

Implements exactly the API surface the AWS C++ SDK (pyarrow's S3 backend)
touches for our writer + read-back flow:

- HEAD  /bucket            bucket existence (GetFileInfo)
- PUT   /bucket            CreateBucket (allow_bucket_creation)
- GET   /bucket?list-type=2&prefix=&delimiter=   ListObjectsV2
- HEAD  /bucket/key        object stat (size, ETag, Last-Modified)
- GET   /bucket/key        read, with Range support (parquet footer reads)
- PUT   /bucket/key        PutObject (incl. aws-chunked signed streaming)
- POST  /bucket/key?uploads          CreateMultipartUpload
- PUT   /bucket/key?partNumber&uploadId   UploadPart
- POST  /bucket/key?uploadId         CompleteMultipartUpload
- DELETE /bucket/key[?uploadId]      DeleteObject / AbortMultipartUpload
- POST  /bucket?delete               DeleteObjects (batch; DeleteDir uses it)

Auth headers are accepted without checking the signature (the SDK signs;
the stub trusts); the access-key id of each SigV4 `Credential=` is recorded
in `access_keys`, so a test can tell which credentials reached the store.
State is a plain dict — one stub per test, no persistence.
"""

from __future__ import annotations

import hashlib
import re
import threading
import urllib.parse
import uuid
from email.utils import formatdate
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def _etag(body: bytes) -> str:
    return '"' + hashlib.md5(body).hexdigest() + '"'


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def decode_aws_chunked(body: bytes) -> bytes:
    """Decode the SigV4 streaming payload framing the SDK uses over plain
    http: `hex-size;chunk-signature=...\r\n<data>\r\n` repeated, ending in a
    zero-size chunk (optionally followed by trailers)."""
    out = []
    pos = 0
    while pos < len(body):
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            break
        header = body[pos:nl]
        size_hex = header.split(b";", 1)[0]
        try:
            size = int(size_hex, 16)
        except ValueError:
            # not actually chunked after all — caller passes raw bodies here
            # only when the x-amz-content-sha256 header says STREAMING
            return body
        if size == 0:
            break
        start = nl + 2
        out.append(body[start : start + size])
        pos = start + size + 2  # skip trailing \r\n
    return b"".join(out)


class _S3Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    server_version = "s3stub/1.0"

    def log_message(self, fmt, *args):
        pass

    def parse_request(self) -> bool:
        ok = super().parse_request()
        if ok:
            m = re.search(r"Credential=([^/,\s]+)/", self.headers.get("Authorization", ""))
            if m:
                self.server.access_keys.add(m.group(1))
        return ok

    # -- plumbing ----------------------------------------------------------
    @property
    def store(self):
        return self.server.store

    @property
    def uploads(self):
        return self.server.uploads

    def _split(self):
        parsed = urllib.parse.urlsplit(self.path)
        q = urllib.parse.parse_qs(parsed.query, keep_blank_values=True)
        parts = parsed.path.lstrip("/").split("/", 1)
        bucket = urllib.parse.unquote(parts[0]) if parts[0] else ""
        key = urllib.parse.unquote(parts[1]) if len(parts) > 1 else ""
        return bucket, key, q

    def _body(self) -> bytes:
        n = int(self.headers.get("Content-Length", "0") or 0)
        body = self.rfile.read(n) if n else b""
        sha = self.headers.get("x-amz-content-sha256", "")
        if sha.startswith("STREAMING"):
            body = decode_aws_chunked(body)
        return body

    def _reply(self, status: int, body: bytes = b"", headers: dict | None = None):
        headers = dict(headers or {})
        # HEAD passes the object's true size; everything else reports the body
        headers.setdefault("Content-Length", str(len(body)))
        self.send_response(status)
        for k, v in headers.items():
            self.send_header(k, v)
        self.end_headers()
        if self.command != "HEAD":
            self.wfile.write(body)

    def _xml(self, status: int, xml: str):
        self._reply(status, xml.encode(), {"Content-Type": "application/xml"})

    def _not_found(self, what: str = "NoSuchKey"):
        self._xml(404, f"<Error><Code>{what}</Code></Error>")

    # -- verbs -------------------------------------------------------------
    def do_HEAD(self):  # noqa: N802
        bucket, key, _ = self._split()
        if bucket not in self.store:
            self._not_found("NoSuchBucket")
            return
        if not key:
            self._reply(200)
            return
        objs = self.store[bucket]
        if key in objs:
            self._reply(
                200,
                b"",
                {
                    "Content-Length": str(len(objs[key])),
                    "ETag": _etag(objs[key]),
                    "Last-Modified": formatdate(usegmt=True),
                    "Content-Type": "application/octet-stream",
                },
            )
        else:
            self._not_found()

    def do_GET(self):  # noqa: N802
        bucket, key, q = self._split()
        if bucket not in self.store:
            self._not_found("NoSuchBucket")
            return
        objs = self.store[bucket]
        if not key:
            self._list_objects(bucket, q)
            return
        if key not in objs:
            self._not_found()
            return
        body = objs[key]
        rng = self.headers.get("Range")
        if rng:
            m = re.fullmatch(r"bytes=(\d*)-(\d*)", rng.strip())
            if m:
                start = int(m.group(1)) if m.group(1) else None
                end = int(m.group(2)) if m.group(2) else None
                if start is None:  # suffix range: last N bytes
                    start = max(0, len(body) - (end or 0))
                    end = len(body) - 1
                elif end is None or end >= len(body):
                    end = len(body) - 1
                part = body[start : end + 1]
                self._reply(
                    206,
                    part,
                    {
                        "Content-Range": f"bytes {start}-{end}/{len(body)}",
                        "ETag": _etag(body),
                        "Last-Modified": formatdate(usegmt=True),
                    },
                )
                return
        self._reply(
            200,
            body,
            {"ETag": _etag(body), "Last-Modified": formatdate(usegmt=True)},
        )

    def _list_objects(self, bucket: str, q: dict):
        prefix = q.get("prefix", [""])[0]
        delimiter = q.get("delimiter", [""])[0]
        objs = self.store[bucket]
        keys, prefixes = [], set()
        for k in sorted(objs):
            if not k.startswith(prefix):
                continue
            if delimiter:
                rest = k[len(prefix):]
                if delimiter in rest:
                    prefixes.add(prefix + rest.split(delimiter, 1)[0] + delimiter)
                    continue
            keys.append(k)
        items = "".join(
            f"<Contents><Key>{_xml_escape(k)}</Key><Size>{len(objs[k])}</Size>"
            f"<ETag>{_etag(objs[k])}</ETag>"
            f"<LastModified>2026-01-01T00:00:00.000Z</LastModified>"
            f"<StorageClass>STANDARD</StorageClass></Contents>"
            for k in keys
        )
        cps = "".join(
            f"<CommonPrefixes><Prefix>{_xml_escape(p)}</Prefix></CommonPrefixes>"
            for p in sorted(prefixes)
        )
        self._xml(
            200,
            '<?xml version="1.0" encoding="UTF-8"?>'
            "<ListBucketResult>"
            f"<Name>{_xml_escape(bucket)}</Name><Prefix>{_xml_escape(prefix)}</Prefix>"
            f"<KeyCount>{len(keys) + len(prefixes)}</KeyCount><MaxKeys>1000</MaxKeys>"
            f"<IsTruncated>false</IsTruncated>{items}{cps}"
            "</ListBucketResult>",
        )

    def do_PUT(self):  # noqa: N802
        bucket, key, q = self._split()
        body = self._body()
        if not key:  # CreateBucket
            self.store.setdefault(bucket, {})
            self._reply(200)
            return
        if bucket not in self.store:
            self._not_found("NoSuchBucket")
            return
        if "partNumber" in q and "uploadId" in q:
            up = self.uploads.get(q["uploadId"][0])
            if up is None:
                self._not_found("NoSuchUpload")
                return
            up["parts"][int(q["partNumber"][0])] = body
            self._reply(200, b"", {"ETag": _etag(body)})
            return
        self.store[bucket][key] = body
        self._reply(200, b"", {"ETag": _etag(body)})

    def do_POST(self):  # noqa: N802
        bucket, key, q = self._split()
        body = self._body()
        if bucket not in self.store:
            self._not_found("NoSuchBucket")
            return
        if "uploads" in q:  # CreateMultipartUpload
            uid = uuid.uuid4().hex
            self.uploads[uid] = {"bucket": bucket, "key": key, "parts": {}}
            self._xml(
                200,
                '<?xml version="1.0" encoding="UTF-8"?>'
                "<InitiateMultipartUploadResult>"
                f"<Bucket>{_xml_escape(bucket)}</Bucket><Key>{_xml_escape(key)}</Key>"
                f"<UploadId>{uid}</UploadId>"
                "</InitiateMultipartUploadResult>",
            )
            return
        if "uploadId" in q:  # CompleteMultipartUpload
            up = self.uploads.pop(q["uploadId"][0], None)
            if up is None:
                self._not_found("NoSuchUpload")
                return
            data = b"".join(up["parts"][n] for n in sorted(up["parts"]))
            self.store[bucket][up["key"]] = data
            self._xml(
                200,
                '<?xml version="1.0" encoding="UTF-8"?>'
                "<CompleteMultipartUploadResult>"
                f"<Bucket>{_xml_escape(bucket)}</Bucket>"
                f"<Key>{_xml_escape(up['key'])}</Key>"
                f"<ETag>{_etag(data)}</ETag>"
                "</CompleteMultipartUploadResult>",
            )
            return
        if "delete" in q:  # DeleteObjects (batch)
            keys = re.findall(r"<Key>(.*?)</Key>", body.decode(), re.S)
            deleted = []
            for k in keys:
                k = urllib.parse.unquote(k)
                self.store[bucket].pop(k, None)
                deleted.append(f"<Deleted><Key>{_xml_escape(k)}</Key></Deleted>")
            self._xml(
                200,
                '<?xml version="1.0" encoding="UTF-8"?>'
                f"<DeleteResult>{''.join(deleted)}</DeleteResult>",
            )
            return
        self._not_found("NotImplemented")

    def do_DELETE(self):  # noqa: N802
        bucket, key, q = self._split()
        if bucket not in self.store:
            self._not_found("NoSuchBucket")
            return
        if "uploadId" in q:  # AbortMultipartUpload
            self.uploads.pop(q["uploadId"][0], None)
            self._reply(204)
            return
        if not key:
            self.store.pop(bucket, None)
            self._reply(204)
            return
        self.store[bucket].pop(key, None)
        self._reply(204)


class S3Stub:
    """Context manager: in-process S3 endpoint on an ephemeral port.

    >>> with S3Stub() as stub:
    ...     # stub.endpoint -> http://127.0.0.1:PORT
    ...     # stub.env      -> AWS_* env vars that point pyarrow at it
    """

    def __init__(self, buckets: tuple[str, ...] = ("test-bucket",)):
        self.server = ThreadingHTTPServer(("127.0.0.1", 0), _S3Handler)
        self.server.store = {b: {} for b in buckets}
        self.server.uploads = {}
        self.server.access_keys = set()
        self.thread: threading.Thread | None = None

    @property
    def endpoint(self) -> str:
        return f"http://127.0.0.1:{self.server.server_address[1]}"

    @property
    def env(self) -> dict[str, str]:
        return {
            "AWS_ACCESS_KEY_ID": "stub-access-key",
            "AWS_SECRET_ACCESS_KEY": "stub-secret-key",
            "AWS_DEFAULT_REGION": "us-east-1",
            "AWS_ENDPOINT_URL": self.endpoint,
            # the SDK must not wait on EC2 metadata when creds resolve
            "AWS_EC2_METADATA_DISABLED": "true",
        }

    def objects(self, bucket: str) -> dict[str, bytes]:
        return self.server.store[bucket]

    @property
    def access_keys(self) -> set[str]:
        """Access-key ids of the signed requests received so far."""
        return self.server.access_keys

    def __enter__(self) -> "S3Stub":
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.server.shutdown()
        self.server.server_close()


_GLOBAL: S3Stub | None = None


def global_stub() -> S3Stub:
    """Process-wide singleton for the test session.

    MUST be used instead of a conftest module global: pytest imports
    tests/conftest.py as `conftest`, while test modules that do
    `from tests.conftest import ...` import it a SECOND time as
    `tests.conftest` — module-level state there exists twice. A stub
    created per conftest instance yields two servers on two ports, the
    fixture reading one while os.environ (and therefore the JVM and every
    executor worker) points at the other — executor writes then land on a
    stub no assertion ever looks at. This module is imported exactly once
    (plain `s3stub` both times), so the singleton lives here.
    """
    global _GLOBAL
    if _GLOBAL is None:
        _GLOBAL = S3Stub().__enter__()
    return _GLOBAL
