"""Seeded input generators for the benchmark.

Two families of inputs, both built only from the seed:

- OTLP export requests for all three signals. Each request is built once as a
  canonical tree (snake_case field names, the shape of the OTLP protobuf
  messages) and then rendered as protobuf bytes, OTLP/JSON, JSONL or gzip.
  `write_landing` lays a mix of those renderings out as a landing directory
  and returns a manifest of the rows each output table must end up with.
- The star-schema tables (`lineitem`, `events`, `documents`, ...) that the
  registry's operator queries read, at a small scale factor.

The protobuf encoder is driven by the field table in `otel/wire.py`, so it is
the exact inverse of the wire decoder's view of the messages. Unlike the
encoder of `tests/test_wire_property.py`, it packs repeated scalars and the
JSON rendering writes trace and span ids as hex, as OTLP exporters do: the
decoders are timed on the input they get in production.
"""

from __future__ import annotations

import base64
import gzip
import json
import os
import random
import struct
from dataclasses import dataclass, field

from otlp2parquet_spark.otel import wire
from otlp2parquet_spark.otel.otlp_json import _camel

REQUEST_ID_KEY = "bench.request_id"

# Services in decreasing share: the first one carries about a third of all
# rows, so its (service, hour) groups are the ones that outgrow a file.
SERVICES = (
    "checkout", "frontend", "cart", "payments", "search",
    "auth", "email", "shipping",
)
_SERVICE_WEIGHTS = [1.0 / (i + 1) ** 1.2 for i in range(len(SERVICES))]
HOURS = 6
BASE_NS = 1_709_251_200 * 10**9  # 2024-03-01T00:00:00Z
_SEVERITIES = ((5, "DEBUG"), (9, "INFO"), (9, "INFO"), (9, "INFO"), (13, "WARN"), (17, "ERROR"))
_WORDS = (
    "request", "served", "cache", "miss", "retry", "timeout", "user", "order",
    "payment", "accepted", "declined", "queue", "flush", "slow", "db", "query",
)


# ---------------------------------------------------------------------------
# Rendering: canonical tree -> protobuf bytes / OTLP JSON


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


_BY_NAME = {
    msg: {name: (no, kind, rep) for no, (name, kind, rep) in desc.items()}
    for msg, desc in wire.DESCRIPTORS.items()
}
_PACKED = {"fixed64": "<Q", "double": "<d"}


def encode_pb(obj: dict, msg: str) -> bytes:
    """Protobuf wire bytes for a canonical tree; repeated scalars are packed,
    as OTLP exporters emit them."""
    fields = _BY_NAME[msg]
    out = bytearray()
    for name, val in obj.items():
        no, kind, rep = fields[name]
        if rep and kind in _PACKED:
            body = struct.pack("<%d%s" % (len(val), _PACKED[kind][1]), *val)
            out += _varint(no << 3 | 2) + _varint(len(body)) + body
            continue
        if rep and kind == "uint64":
            body = b"".join(_varint(v) for v in val)
            out += _varint(no << 3 | 2) + _varint(len(body)) + body
            continue
        for v in val if rep else (val,):
            if kind.startswith("msg:"):
                # bytes stand for a message that is already encoded
                body = v if isinstance(v, bytes) else encode_pb(v, kind[4:])
                out += _varint(no << 3 | 2) + _varint(len(body)) + body
            elif kind in ("string", "bytes"):
                b = v.encode() if kind == "string" else v
                out += _varint(no << 3 | 2) + _varint(len(b)) + b
            elif kind in ("double", "fixed64", "sfixed64"):
                fmt = {"double": "<d", "fixed64": "<Q", "sfixed64": "<q"}[kind]
                out += _varint(no << 3 | 1) + struct.pack(fmt, v)
            elif kind == "fixed32":
                out += _varint(no << 3 | 5) + struct.pack("<I", v)
            elif kind == "sint32":
                out += _varint(no << 3) + _varint((v << 1) ^ (v >> 63) if v < 0 else v << 1)
            elif kind == "bool":
                out += _varint(no << 3) + _varint(1 if v else 0)
            else:  # int64 / uint64 / int32 / uint32 / enum
                out += _varint(no << 3) + _varint(v & 0xFFFFFFFFFFFFFFFF)
    return bytes(out)


_ID_FIELDS = {"trace_id", "span_id", "parent_span_id"}
_INT64 = {"fixed64", "sfixed64", "int64", "uint64"}


def render_json(obj: dict, msg: str) -> dict:
    """OTLP/JSON object for a canonical tree: camelCase keys, 64-bit integers
    as strings, trace and span ids as lowercase hex."""
    fields = _BY_NAME[msg]
    out = {}
    for name, val in obj.items():
        _, kind, rep = fields[name]

        def one(v, name=name, kind=kind):
            if kind.startswith("msg:"):
                return render_json(v, kind[4:])
            if kind == "bytes":
                return v.hex() if name in _ID_FIELDS else base64.b64encode(v).decode()
            if kind in _INT64:
                return str(v)
            return v

        out[_camel(name)] = [one(v) for v in val] if rep else one(val)
    return out


REQUEST_MSG = {
    "logs": "ExportLogsServiceRequest",
    "traces": "ExportTraceServiceRequest",
    "metrics": "ExportMetricsServiceRequest",
}


def render(tree: dict, signal: str, fmt: str) -> bytes:
    """One landing payload: fmt is 'pb', 'json' or 'jsonl' (one line)."""
    msg = REQUEST_MSG[signal]
    if fmt == "pb":
        return encode_pb(tree, msg)
    body = json.dumps(render_json(tree, msg), separators=(",", ":"))
    return (body + "\n").encode() if fmt == "jsonl" else body.encode()


# ---------------------------------------------------------------------------
# Request trees


def _kv(key: str, value) -> dict:
    if isinstance(value, bool):
        return {"key": key, "value": {"bool_value": value}}
    if isinstance(value, int):
        return {"key": key, "value": {"int_value": value}}
    if isinstance(value, float):
        return {"key": key, "value": {"double_value": value}}
    return {"key": key, "value": {"string_value": value}}


def _resource(service: str, request_id: str) -> dict:
    return {
        "attributes": [
            _kv("service.name", service),
            _kv("service.namespace", "shop"),
            _kv("deployment.environment", "bench"),
            _kv(REQUEST_ID_KEY, request_id),
        ]
    }


_SCOPE = {"name": "perfbench", "version": "1.0.0"}
_POOL = 4096  # distinct log record bodies behind `RequestFactory.logs_pb`
# a log record's two fixed64 times, each behind its one-byte tag
_LOG_TIMES = struct.Struct("<BQBQ")
_T_TAG = _BY_NAME["LogRecord"]["time_unix_nano"][0] << 3 | 1
_OBS_TAG = _BY_NAME["LogRecord"]["observed_time_unix_nano"][0] << 3 | 1


class RequestFactory:
    """Builds export-request trees from one seeded RNG. Each request carries
    one service and a unique `bench.request_id` resource attribute."""

    def __init__(self, seed: int, tag: str = "r", every_service: bool = False) -> None:
        self.rng = random.Random(seed)
        # services in turn instead of drawn by share: every service then
        # gets the same number of requests of each signal
        self.every_service = every_service
        self._turn = 0
        self.tag = f"{tag}{seed}"
        self.n = 0
        # logs and spans draw trace ids from one pool, so logs join traces
        self.trace_ids = [self.rng.randbytes(16) for _ in range(256)]
        self._pool: list[bytes] = []  # pre-encoded log record bodies

    def _next_id(self) -> str:
        self.n += 1
        return f"{self.tag}-{self.n}"

    def service(self) -> str:
        if self.every_service:
            self._turn += 1
            return SERVICES[(self._turn - 1) % len(SERVICES)]
        return self.rng.choices(SERVICES, _SERVICE_WEIGHTS)[0]

    def _ts(self, hour: int | None = None) -> int:
        """A record time: anywhere in the HOURS hours, or in the given hour."""
        if hour is None:
            return BASE_NS + self.rng.randrange(HOURS * 3600 * 10**9)
        return BASE_NS + (hour * 3600 + self.rng.randrange(3600)) * 10**9 + self.rng.randrange(10**9)

    def _times(self, t: int) -> dict:
        return {"time_unix_nano": t, "observed_time_unix_nano": t + self.rng.randrange(10**9)}

    def _log_fields(self) -> dict:
        """Every field of a log record except its two times."""
        rng = self.rng
        sev_no, sev = rng.choice(_SEVERITIES)
        return {
            "severity_number": sev_no,
            "severity_text": sev,
            "body": {"string_value": " ".join(rng.choices(_WORDS, k=rng.randint(3, 9)))},
            "attributes": [
                _kv("http.status_code", rng.choice((200, 200, 200, 404, 500))),
                _kv("user.id", f"u{rng.randrange(5000)}"),
            ],
            "flags": 1,
            "trace_id": rng.choice(self.trace_ids),
            "span_id": rng.randbytes(8),
        }

    def _logs_tree(self, svc: str, rid: str, records: list) -> dict:
        return {"resource_logs": [{
            "resource": _resource(svc, rid),
            "scope_logs": [{"scope": _SCOPE, "log_records": records}],
        }]}

    def logs(self, n_records: int, service: str | None = None, ts_ns: int | None = None):
        """(request id, tree) with n_records log records. `ts_ns` pins every
        record's time (streaming), else times spread over HOURS hours."""
        rid = self._next_id()
        svc = service or self.service()
        records = []
        for _ in range(n_records):
            t = ts_ns if ts_ns is not None else self._ts()
            records.append({**self._times(t), **self._log_fields()})
        return rid, self._logs_tree(svc, rid, records)

    def logs_pb(self, n_records: int, service: str | None = None, hour: int | None = None):
        """(request id, protobuf bytes) of a log export like `logs` makes,
        built about twenty times faster: each record is its freshly drawn
        times followed by a record body drawn from a pool of pre-encoded
        ones. `hour` pins every record to that hour."""
        if not self._pool:
            self._pool = [encode_pb(self._log_fields(), "LogRecord") for _ in range(_POOL)]
        rid = self._next_id()
        svc = service or self.service()
        records = []
        for _ in range(n_records):
            t = self._ts(hour)
            records.append(_LOG_TIMES.pack(_T_TAG, t, _OBS_TAG, t + self.rng.randrange(10**9))
                           + self.rng.choice(self._pool))
        return rid, encode_pb(self._logs_tree(svc, rid, records), REQUEST_MSG["logs"])

    def traces(self, n_spans: int):
        rng = self.rng
        rid = self._next_id()
        spans = []
        trace_id = parent = b""
        for i in range(n_spans):
            if i % 8 == 0:
                trace_id, parent = rng.choice(self.trace_ids), b""
            start = self._ts()
            span_id = rng.randbytes(8)
            dur = int(rng.expovariate(1 / 40e6)) + 1000
            if rng.random() < 0.02:
                dur += 6 * 10**9  # a slow span for the slow-trace query
            span = {
                "trace_id": trace_id,
                "span_id": span_id,
                "name": rng.choice(("GET /cart", "POST /pay", "db.query", "cache.get")),
                "kind": rng.randint(1, 5),
                "start_time_unix_nano": start,
                "end_time_unix_nano": start + dur,
                "attributes": [_kv("http.method", rng.choice(("GET", "POST")))],
                "status": {"code": 2, "message": "boom"} if rng.random() < 0.05 else {"code": 1},
            }
            if parent:
                span["parent_span_id"] = parent
            if rng.random() < 0.2:
                span["events"] = [{"time_unix_nano": start + 1000, "name": "retry",
                                   "attributes": [_kv("attempt", 1)]}]
            spans.append(span)
            parent = span_id
        tree = {"resource_spans": [{
            "resource": _resource(self.service(), rid),
            "scope_spans": [{"scope": _SCOPE, "spans": spans}],
        }]}
        return rid, tree

    def metrics(self, n_points: int):
        """(request id, tree) with n_points data points of each of the five
        metric types."""
        rng = self.rng
        rid = self._next_id()

        def attrs():
            return [_kv("host", f"h{rng.randrange(4)}")]

        def number_points():
            # unrounded: averages of short decimals hit exact rounding ties
            return [{"time_unix_nano": self._ts(), "start_time_unix_nano": BASE_NS,
                     "as_double": rng.uniform(0, 100), "attributes": attrs()}
                    for _ in range(n_points)]

        hist, ehist, summ = [], [], []
        for _ in range(n_points):
            counts = [rng.randrange(20) for _ in range(5)]
            hist.append({"time_unix_nano": self._ts(), "start_time_unix_nano": BASE_NS,
                         "count": sum(counts), "sum": float(sum(counts)) * 3.5,
                         "bucket_counts": counts, "explicit_bounds": [1.0, 5.0, 10.0, 50.0],
                         "min": 0.5, "max": 80.0, "attributes": attrs()})
            pos = [rng.randrange(10) for _ in range(4)]
            neg = [rng.randrange(3) for _ in range(2)]
            zero = rng.randrange(3)
            ehist.append({"time_unix_nano": self._ts(), "start_time_unix_nano": BASE_NS,
                          "count": sum(pos) + sum(neg) + zero, "sum": 12.5, "scale": 2,
                          "zero_count": zero,
                          "positive": {"offset": 1, "bucket_counts": pos},
                          "negative": {"offset": 0, "bucket_counts": neg},
                          "attributes": attrs()})
            summ.append({"time_unix_nano": self._ts(), "start_time_unix_nano": BASE_NS,
                         "count": 10, "sum": 42.0, "attributes": attrs(),
                         "quantile_values": [{"quantile": 0.5, "value": 4.0},
                                             {"quantile": 0.99, "value": 9.5}]})
        metrics = [
            {"name": "cpu.utilization", "unit": "1", "gauge": {"data_points": number_points()}},
            {"name": "http.requests", "unit": "1", "sum": {
                "data_points": number_points(), "aggregation_temporality": 2,
                "is_monotonic": True}},
            {"name": "http.duration", "unit": "ms", "histogram": {
                "data_points": hist, "aggregation_temporality": 2}},
            {"name": "db.latency", "unit": "ms", "exponential_histogram": {
                "data_points": ehist, "aggregation_temporality": 2}},
            {"name": "rpc.latency", "unit": "ms", "summary": {"data_points": summ}},
        ]
        tree = {"resource_metrics": [{
            "resource": _resource(self.service(), rid),
            "scope_metrics": [{"scope": _SCOPE, "metrics": metrics}],
        }]}
        return rid, tree


# ---------------------------------------------------------------------------
# Landing directory


@dataclass
class Manifest:
    """What a correct ingest of a landing directory must produce."""

    rows: dict[str, int] = field(default_factory=dict)  # table -> rows
    skipped: dict[str, int] = field(default_factory=dict)  # skip reason -> points
    payloads: dict[str, int] = field(default_factory=dict)  # signal -> files
    hot_rows: int = 0  # log rows of the one hot (service, hour) group

    def add_rows(self, table: str, n: int) -> None:
        self.rows[table] = self.rows.get(table, 0) + n

    @property
    def total_rows(self) -> int:
        return sum(self.rows.values())


_EXT = {"pb": ".pb", "json": ".json", "jsonl": ".jsonl"}


def _write(path: str, data: bytes, gz: bool) -> None:
    with open(path + (".gz" if gz else ""), "wb") as f:
        f.write(gzip.compress(data, compresslevel=1, mtime=0) if gz else data)


def write_landing(
    root: str,
    seed: int,
    *,
    log_requests: int,
    log_records: int,
    trace_requests: int,
    trace_spans: int,
    metric_requests: int,
    metric_points: int,
    bulk_log_requests: int = 0,
    hot_log_requests: int = 0,
    jsonl_lines: int = 4,
    every_service: bool = False,
) -> Manifest:
    """Landing dir `root/{logs,traces,metrics}` of OTLP payload files.

    Files go to `root/{signal}/{format}/`. Logs rotate pb -> JSONL -> gzip
    JSON, traces pb -> JSONL and metrics pb -> JSON; a JSONL file holds
    `jsonl_lines` requests. On top of those, `bulk_log_requests` pb log
    files spread like the rest and `hot_log_requests` pb log files of the
    busiest service, all in hour HOURS // 2, each with `log_records`
    records (`RequestFactory.logs_pb`). Summary points are counted in
    `Manifest.skipped` under the decoder's reason name, the four other
    metric types in `Manifest.rows`. With `every_service`, the services take
    turns (`RequestFactory`).
    """
    fac = RequestFactory(seed, every_service=every_service)
    man = Manifest()
    os.makedirs(os.path.join(root, "logs", "pb"), exist_ok=True)
    for i in range(bulk_log_requests + hot_log_requests):
        hot = i >= bulk_log_requests
        _, body = fac.logs_pb(log_records, SERVICES[0] if hot else None, HOURS // 2 if hot else None)
        _write(os.path.join(root, "logs", "pb", f"bulk-{i:05d}.pb"), body, False)
        man.add_rows("otel_logs", log_records)
        man.hot_rows += log_records * hot
        man.payloads["logs"] = man.payloads.get("logs", 0) + 1
    lanes = {
        "logs": [("pb", False), ("jsonl", False), ("json", True)],
        "traces": [("pb", False), ("jsonl", False)],
        "metrics": [("pb", False), ("json", False)],
    }
    counts = {"logs": log_requests, "traces": trace_requests, "metrics": metric_requests}
    for signal, n_req in counts.items():
        for fmt, _ in lanes[signal]:
            os.makedirs(os.path.join(root, signal, fmt), exist_ok=True)
        i = 0
        while i < n_req:
            fmt, gz = lanes[signal][man.payloads.get(signal, 0) % len(lanes[signal])]
            batch = min(jsonl_lines, n_req - i) if fmt == "jsonl" else 1
            bodies = []
            for _ in range(batch):
                if signal == "logs":
                    _, tree = fac.logs(log_records)
                    man.add_rows("otel_logs", log_records)
                elif signal == "traces":
                    _, tree = fac.traces(trace_spans)
                    man.add_rows("otel_traces", trace_spans)
                else:
                    _, tree = fac.metrics(metric_points)
                    for mtype in ("gauge", "sum", "histogram", "exponential_histogram"):
                        man.add_rows(f"otel_metrics_{mtype}", metric_points)
                    man.skipped["summaries"] = man.skipped.get("summaries", 0) + metric_points
                bodies.append(render(tree, signal, fmt))
            name = os.path.join(root, signal, fmt, f"{signal}-{i:05d}{_EXT[fmt]}")
            _write(name, b"".join(bodies), gz)
            man.payloads[signal] = man.payloads.get(signal, 0) + 1
            i += batch
    return man


# ---------------------------------------------------------------------------
# Star-schema tables for the registry's operator queries


_VOCAB = (
    "a", "the", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "value", "vector", "window",
)


def write_tables(root: str, seed: int, sf: float) -> dict[str, int]:
    """The ten tables `session.load_table` reads, at scale factor `sf`
    (lineitem has about 6,000,000 x sf rows). Returns rows per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    day_us = 86_400 * 10**6
    t1995 = 788_918_400 * 10**6  # 1995-01-01

    def days(n, lo, hi):
        return pa.array(t1995 + rng.integers(lo, hi, n) * day_us, pa.timestamp("us"))

    def money(n, lo, hi):
        return pa.array(np.round(rng.uniform(lo, hi, n), 2))

    def choice(n, values):
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(n_cust, -999.99, 9999.99),
            "c_mktsegment": choice(n_cust, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                np.array(["red", "blue", "green", "small", "large"])[rng.integers(0, 5, n_part)],
                np.array(["bolt", "ring", "widget", "anvil", "gear"])[rng.integers(0, 5, n_part)])]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": choice(n_part, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": choice(n_ord, ["F", "O", "P"]),
            "o_totalprice": money(n_ord, 1000, 500_000),
            "o_orderdate": days(n_ord, 0, 2404),
            "o_orderpriority": choice(n_ord, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
            "l_extendedprice": money(n_li, 900, 105_000),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": choice(n_li, ["A", "N", "R"]),
            "l_linestatus": choice(n_li, ["F", "O"]),
            "l_shipdate": days(n_li, 1, 2499),
        }),
        "events": pa.table({
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(np.sort(1_704_067_200 * 10**6 + rng.integers(0, 30 * day_us, n_ev)),
                           pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 15), n_ev), pa.int64()),
            "event_type": choice(n_ev, ["click", "error", "purchase", "signup", "view"]),
            "value": pa.array(np.round(rng.exponential(50, n_ev), 2) + 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
    }
    texts = []
    for i in range(n_doc):
        if i % 97 == 13 and texts:  # exact and marked near duplicates
            base = texts[int(rng.integers(0, len(texts)))]
            texts.append(base if i % 2 else base + " dup")
            continue
        words = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), int(rng.integers(8, 101)))]
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": choice(n_doc, ["en", "en", "en", "de", "es", "fr", "zh"]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.3 + rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(root, f"{name}.parquet"), compression="snappy")
    return {name: tbl.num_rows for name, tbl in tables.items()}
