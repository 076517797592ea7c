"""Minimal pure-Python protobuf wire-format reader for OTLP payloads.

The container ships no protobuf runtime, so this implements the (publicly
documented) protobuf encoding — varint / zigzag / fixed32 / fixed64 /
length-delimited — plus hand-written descriptors for the OTLP v1 messages
(public schema: open-telemetry/opentelemetry-proto). Output is a plain nested
dict keyed by snake_case proto field names: the same canonical tree
`otlp_json.parse_request` produces, so one flattener serves both wire formats
(reference src/codec.rs:34-75 dispatches formats the same way).

Covers the decode surface of reference tests/e2e.rs: ExportLogs/Traces/
MetricsServiceRequest with all five metric data kinds.
"""

from __future__ import annotations

import struct
from typing import Any


# Scale note: protobuf payloads of every signal are decoded in Python only.
# The ingest paths run the fused walkers in fast_wire.py; this module and
# flatten.py are the two-step reference they are tested against. A
# JVM-side protobuf decode would need the spark-protobuf jar, which does
# not ship with pip pyspark. The decode is embarrassingly parallel (one
# task per landing file, no shuffle before the sink), so cluster throughput
# = per-core rate x cores.


class OtlpDecodeError(ValueError):
    """Invalid OTLP payload — the reference hard-errors with HTTP 400
    (reference src/lib.rs:75-117, testdata/invalid/README.md).

    `code` is a typed reason for programmatic handling (the quarantine
    sink records it; twin of the reference's E-coded WriterError,
    src/writer/error.rs:7-28). Derived from the message when not given."""

    def __init__(self, message: str, code: str | None = None):
        super().__init__(message)
        self.code = code or _classify_decode_error(message)


_DECODE_ERROR_CODES = (
    # (code, message-substring) — first match wins; substrings cover every
    # raise site in wire.py / otlp_json.py / flatten.py
    ("E-JSON", "malformed JSON"),
    ("E-PB", "malformed protobuf"),
    ("E-PB", "truncated"),
    ("E-PB", "varint"),
    ("E-PB", "wire type"),
    ("E-PB", "packed field"),
    ("E-PB", "invalid utf-8"),
    ("E-ID", "id encoding"),
    ("E-ID", "Id length"),
    ("E-ENUM-KIND", "span kind"),
    ("E-ENUM-STATUS", "status code"),
    ("E-ENUM-TEMPORALITY", "temporality"),
    ("E-ENUM", "enum variant"),
    ("E-VALUE", "bad "),
    ("E-SHAPE", "expected "),
)


def _classify_decode_error(message: str) -> str:
    for code, needle in _DECODE_ERROR_CODES:
        if needle in message:
            return code
    return "E-DECODE"


# ---------------------------------------------------------------------------
# OTLP descriptors: message -> {field_no: (name, kind, repeated)}
# kind: msg:<Name> | string | bytes | int64/uint64/int32/uint32/enum (varint)
#       | sint32 (zigzag) | bool | double | fixed64 | sfixed64 | fixed32
# Field numbers from the public opentelemetry-proto v1 .proto files.

_KV = {1: ("key", "string", False), 2: ("value", "msg:AnyValue", False)}

DESCRIPTORS: dict[str, dict[int, tuple[str, str, bool]]] = {
    "AnyValue": {
        1: ("string_value", "string", False),
        2: ("bool_value", "bool", False),
        3: ("int_value", "int64", False),
        4: ("double_value", "double", False),
        5: ("array_value", "msg:ArrayValue", False),
        6: ("kvlist_value", "msg:KeyValueList", False),
        7: ("bytes_value", "bytes", False),
    },
    "ArrayValue": {1: ("values", "msg:AnyValue", True)},
    "KeyValueList": {1: ("values", "msg:KeyValue", True)},
    "KeyValue": _KV,
    "Resource": {1: ("attributes", "msg:KeyValue", True), 2: ("dropped_attributes_count", "uint32", False)},
    "InstrumentationScope": {
        1: ("name", "string", False),
        2: ("version", "string", False),
        3: ("attributes", "msg:KeyValue", True),
        4: ("dropped_attributes_count", "uint32", False),
    },
    # --- logs ---
    "ExportLogsServiceRequest": {1: ("resource_logs", "msg:ResourceLogs", True)},
    "ResourceLogs": {
        1: ("resource", "msg:Resource", False),
        2: ("scope_logs", "msg:ScopeLogs", True),
        3: ("schema_url", "string", False),
    },
    "ScopeLogs": {
        1: ("scope", "msg:InstrumentationScope", False),
        2: ("log_records", "msg:LogRecord", True),
        3: ("schema_url", "string", False),
    },
    "LogRecord": {
        1: ("time_unix_nano", "fixed64", False),
        2: ("severity_number", "enum", False),
        3: ("severity_text", "string", False),
        5: ("body", "msg:AnyValue", False),
        6: ("attributes", "msg:KeyValue", True),
        7: ("dropped_attributes_count", "uint32", False),
        8: ("flags", "fixed32", False),
        9: ("trace_id", "bytes", False),
        10: ("span_id", "bytes", False),
        11: ("observed_time_unix_nano", "fixed64", False),
        12: ("event_name", "string", False),
    },
    # --- traces ---
    "ExportTraceServiceRequest": {1: ("resource_spans", "msg:ResourceSpans", True)},
    "ResourceSpans": {
        1: ("resource", "msg:Resource", False),
        2: ("scope_spans", "msg:ScopeSpans", True),
        3: ("schema_url", "string", False),
    },
    "ScopeSpans": {
        1: ("scope", "msg:InstrumentationScope", False),
        2: ("spans", "msg:Span", True),
        3: ("schema_url", "string", False),
    },
    "Span": {
        1: ("trace_id", "bytes", False),
        2: ("span_id", "bytes", False),
        3: ("trace_state", "string", False),
        4: ("parent_span_id", "bytes", False),
        5: ("name", "string", False),
        6: ("kind", "enum", False),
        7: ("start_time_unix_nano", "fixed64", False),
        8: ("end_time_unix_nano", "fixed64", False),
        9: ("attributes", "msg:KeyValue", True),
        10: ("dropped_attributes_count", "uint32", False),
        11: ("events", "msg:SpanEvent", True),
        12: ("dropped_events_count", "uint32", False),
        13: ("links", "msg:SpanLink", True),
        14: ("dropped_links_count", "uint32", False),
        15: ("status", "msg:Status", False),
        16: ("flags", "fixed32", False),
    },
    "SpanEvent": {
        1: ("time_unix_nano", "fixed64", False),
        2: ("name", "string", False),
        3: ("attributes", "msg:KeyValue", True),
        4: ("dropped_attributes_count", "uint32", False),
    },
    "SpanLink": {
        1: ("trace_id", "bytes", False),
        2: ("span_id", "bytes", False),
        3: ("trace_state", "string", False),
        4: ("attributes", "msg:KeyValue", True),
        5: ("dropped_attributes_count", "uint32", False),
        6: ("flags", "fixed32", False),
    },
    "Status": {2: ("message", "string", False), 3: ("code", "enum", False)},
    # --- metrics ---
    "ExportMetricsServiceRequest": {1: ("resource_metrics", "msg:ResourceMetrics", True)},
    "ResourceMetrics": {
        1: ("resource", "msg:Resource", False),
        2: ("scope_metrics", "msg:ScopeMetrics", True),
        3: ("schema_url", "string", False),
    },
    "ScopeMetrics": {
        1: ("scope", "msg:InstrumentationScope", False),
        2: ("metrics", "msg:Metric", True),
        3: ("schema_url", "string", False),
    },
    "Metric": {
        1: ("name", "string", False),
        2: ("description", "string", False),
        3: ("unit", "string", False),
        5: ("gauge", "msg:Gauge", False),
        7: ("sum", "msg:Sum", False),
        9: ("histogram", "msg:Histogram", False),
        10: ("exponential_histogram", "msg:ExponentialHistogram", False),
        11: ("summary", "msg:Summary", False),
        12: ("metadata", "msg:KeyValue", True),
    },
    "Gauge": {1: ("data_points", "msg:NumberDataPoint", True)},
    "Sum": {
        1: ("data_points", "msg:NumberDataPoint", True),
        2: ("aggregation_temporality", "enum", False),
        3: ("is_monotonic", "bool", False),
    },
    "Histogram": {
        1: ("data_points", "msg:HistogramDataPoint", True),
        2: ("aggregation_temporality", "enum", False),
    },
    "ExponentialHistogram": {
        1: ("data_points", "msg:ExponentialHistogramDataPoint", True),
        2: ("aggregation_temporality", "enum", False),
    },
    "Summary": {1: ("data_points", "msg:SummaryDataPoint", True)},
    "NumberDataPoint": {
        2: ("start_time_unix_nano", "fixed64", False),
        3: ("time_unix_nano", "fixed64", False),
        4: ("as_double", "double", False),
        6: ("as_int", "sfixed64", False),
        7: ("attributes", "msg:KeyValue", True),
        8: ("flags", "uint32", False),
    },
    "HistogramDataPoint": {
        2: ("start_time_unix_nano", "fixed64", False),
        3: ("time_unix_nano", "fixed64", False),
        4: ("count", "fixed64", False),
        5: ("sum", "double", False),
        6: ("bucket_counts", "fixed64", True),
        7: ("explicit_bounds", "double", True),
        9: ("attributes", "msg:KeyValue", True),
        10: ("flags", "uint32", False),
        11: ("min", "double", False),
        12: ("max", "double", False),
    },
    "ExponentialHistogramDataPoint": {
        1: ("attributes", "msg:KeyValue", True),
        2: ("start_time_unix_nano", "fixed64", False),
        3: ("time_unix_nano", "fixed64", False),
        4: ("count", "fixed64", False),
        5: ("sum", "double", False),
        6: ("scale", "sint32", False),
        7: ("zero_count", "fixed64", False),
        8: ("positive", "msg:EHBuckets", False),
        9: ("negative", "msg:EHBuckets", False),
        10: ("flags", "uint32", False),
        12: ("min", "double", False),
        13: ("max", "double", False),
        14: ("zero_threshold", "double", False),
    },
    "EHBuckets": {1: ("offset", "sint32", False), 2: ("bucket_counts", "uint64", True)},
    "SummaryDataPoint": {
        2: ("start_time_unix_nano", "fixed64", False),
        3: ("time_unix_nano", "fixed64", False),
        4: ("count", "fixed64", False),
        5: ("sum", "double", False),
        6: ("quantile_values", "msg:ValueAtQuantile", True),
        7: ("attributes", "msg:KeyValue", True),
        8: ("flags", "uint32", False),
    },
    "ValueAtQuantile": {1: ("quantile", "double", False), 2: ("value", "double", False)},
}

# integer opcodes: string-compare dispatch (`kind.startswith("msg:")` etc.)
# was ~25% of decode time at 7M fields/s
_OP_VARINT = 0  # uint32/uint64: raw varint value
_OP_BOOL = 1
_OP_SINT32 = 2
_OP_INT = 3  # int32/int64/enum: signed-64 normalize
_OP_MSG = 4
_OP_STRING = 5
_OP_BYTES = 6
_OP_FIXED = 7  # arg = (struct fmt, width)
_OP_PACKED_FIXED = 8  # arg = (fmt char, width)
_OP_PACKED_VARINT = 9  # arg = element opcode (_OP_VARINT/_OP_BOOL/...)

_VARINT_OPS = {
    "uint32": _OP_VARINT,
    "uint64": _OP_VARINT,
    "bool": _OP_BOOL,
    "sint32": _OP_SINT32,
    "int32": _OP_INT,
    "int64": _OP_INT,
    "enum": _OP_INT,
}
_FIXED_FMT = {
    "double": ("<d", 8, 1),  # (fmt, width, wire)
    "fixed64": ("<Q", 8, 1),
    "sfixed64": ("<q", 8, 1),
    "fixed32": ("<I", 4, 5),
    "float": ("<f", 4, 5),
}


def _compile_descriptors(descs: dict) -> dict:
    """DESCRIPTORS (readable source of truth) -> per-message dicts keyed by
    the full wire TAG (field_no << 3 | wire_type), with integer opcodes.

    One dict lookup resolves field + wire validity together; a known field
    encoded with a mismatched wire type falls out as unknown and is skipped
    by wire type, which is the spec-compliant treatment."""
    comp: dict[str, dict[int, tuple]] = {}
    for msg, fields in descs.items():
        d: dict[int, tuple] = {}
        for field_no, (name, kind, repeated) in fields.items():
            if kind in _VARINT_OPS:
                d[(field_no << 3) | 0] = (name, _VARINT_OPS[kind], repeated, None)
                if repeated:  # proto3 default-packs repeated scalars
                    d[(field_no << 3) | 2] = (
                        name,
                        _OP_PACKED_VARINT,
                        True,
                        _VARINT_OPS[kind],
                    )
            elif kind in _FIXED_FMT:
                fmt, width, wire = _FIXED_FMT[kind]
                d[(field_no << 3) | wire] = (name, _OP_FIXED, repeated, (fmt, width))
                if repeated:
                    d[(field_no << 3) | 2] = (
                        name,
                        _OP_PACKED_FIXED,
                        True,
                        (fmt[1], width),
                    )
            elif kind.startswith("msg:"):
                d[(field_no << 3) | 2] = (name, _OP_MSG, repeated, kind[4:])
            elif kind == "string":
                d[(field_no << 3) | 2] = (name, _OP_STRING, repeated, None)
            elif kind == "bytes":
                d[(field_no << 3) | 2] = (name, _OP_BYTES, repeated, None)
            else:  # pragma: no cover - descriptor typo guard
                raise ValueError(f"unknown kind {kind!r} in {msg}.{name}")
        comp[msg] = d
    return comp


_COMPILED = _compile_descriptors(DESCRIPTORS)


def _read_varint_bounded(buf: bytes, pos: int, end: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if pos >= end:
            raise OtlpDecodeError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            return result, pos
        shift += 7
        if shift > 70:
            raise OtlpDecodeError("varint too long")


def decode_message(buf: bytes, msg: str, pos: int = 0, end: int | None = None) -> dict[str, Any]:
    """Decode one protobuf message into a canonical dict.

    Unknown fields are skipped (protobuf forward-compat rule); oneof members
    (AnyValue, Metric.data, NumberDataPoint.value) simply land as whichever
    key was present, mirroring protobuf last-one-wins semantics.

    Hot path: operates on (pos, end) offsets into the ORIGINAL buffer
    (nested messages never copy their bytes), 1-byte varints (tags, enum
    values, short lengths — the overwhelmingly common case) decode inline
    without a function call, and field dispatch is ONE dict lookup on the
    full wire tag resolving to integer opcodes (no string comparisons).
    ~2x the naive slicing decoder; wire behavior is golden-parity +
    property-tested against the reference fixtures.
    """
    desc = _COMPILED[msg]
    out: dict[str, Any] = {}
    if end is None:
        end = len(buf)
    unpack_from = struct.unpack_from
    while pos < end:
        b = buf[pos]
        if b < 0x80:
            tag = b
            pos += 1
        else:
            tag, pos = _read_varint_bounded(buf, pos, end)
        spec = desc.get(tag)
        if spec is None:
            # unknown field (or known field on a mismatched wire): skip by wire
            wire = tag & 7
            if wire == 0:
                if pos >= end:
                    raise OtlpDecodeError("truncated varint")
                if buf[pos] < 0x80:
                    pos += 1
                else:
                    _, pos = _read_varint_bounded(buf, pos, end)
            elif wire == 2:
                if pos >= end:
                    raise OtlpDecodeError("truncated varint")
                b = buf[pos]
                if b < 0x80:
                    pos += 1 + b
                else:
                    length, pos = _read_varint_bounded(buf, pos, end)
                    pos += length
                if pos > end:
                    raise OtlpDecodeError("truncated length-delimited field")
            elif wire == 1 or wire == 5:
                pos += 8 if wire == 1 else 4
                if pos > end:
                    raise OtlpDecodeError("truncated fixed field")
            else:
                raise OtlpDecodeError(f"unsupported wire type {wire} in {msg}")
            continue
        name, op, repeated, arg = spec
        if op <= _OP_INT:  # varint family
            if pos >= end:
                raise OtlpDecodeError("truncated varint")
            b = buf[pos]
            if b < 0x80:
                val = b
                pos += 1
            else:
                val, pos = _read_varint_bounded(buf, pos, end)
            if op == _OP_BOOL:
                val = val != 0
            elif op == _OP_SINT32:
                val = (val >> 1) ^ -(val & 1)
            elif op == _OP_INT and val >= 0x8000000000000000:
                val -= 0x10000000000000000  # negative ints/enums are 64-bit-encoded
            if repeated:
                out.setdefault(name, []).append(val)
            else:
                out[name] = val
        elif op == _OP_FIXED:
            fmt, width = arg
            npos = pos + width
            if npos > end:
                raise OtlpDecodeError("truncated fixed field")
            val = unpack_from(fmt, buf, pos)[0]
            pos = npos
            if repeated:
                out.setdefault(name, []).append(val)
            else:
                out[name] = val
        else:  # LEN-prefixed: msg / string / bytes / packed
            if pos >= end:
                raise OtlpDecodeError("truncated varint")
            b = buf[pos]
            if b < 0x80:
                length = b
                pos += 1
            else:
                length, pos = _read_varint_bounded(buf, pos, end)
            npos = pos + length
            if npos > end:
                raise OtlpDecodeError("truncated length-delimited field")
            if op == _OP_MSG:
                val = decode_message(buf, arg, pos, npos)
                if repeated:
                    out.setdefault(name, []).append(val)
                else:
                    out[name] = val
            elif op == _OP_STRING:
                try:
                    val = buf[pos:npos].decode("utf-8")
                except UnicodeDecodeError as e:
                    raise OtlpDecodeError(f"invalid utf-8 in {msg}.{name}") from e
                if repeated:
                    out.setdefault(name, []).append(val)
                else:
                    out[name] = val
            elif op == _OP_BYTES:
                val = buf[pos:npos]
                if repeated:
                    out.setdefault(name, []).append(val)
                else:
                    out[name] = val
            elif op == _OP_PACKED_FIXED:
                fmt, width = arg
                count, rem = divmod(length, width)
                if rem:
                    raise OtlpDecodeError(f"bad packed field length in {msg}.{name}")
                out.setdefault(name, []).extend(unpack_from(f"<{count}{fmt}", buf, pos))
            else:  # _OP_PACKED_VARINT
                p = pos
                vals: list[Any] = []
                eop = arg
                while p < npos:
                    v, p = _read_varint_bounded(buf, p, npos)
                    if eop == _OP_BOOL:
                        v = v != 0
                    elif eop == _OP_SINT32:
                        v = (v >> 1) ^ -(v & 1)
                    elif eop == _OP_INT and v >= 0x8000000000000000:
                        v -= 0x10000000000000000
                    vals.append(v)
                out.setdefault(name, []).extend(vals)
            pos = npos
    return out


_REQUEST_MSG = {
    "logs": "ExportLogsServiceRequest",
    "traces": "ExportTraceServiceRequest",
    "metrics": "ExportMetricsServiceRequest",
}


def parse_request_pb(body: bytes, signal: str) -> dict[str, Any]:
    """Parse an OTLP export request protobuf for a signal (logs|traces|metrics)."""
    try:
        return decode_message(body, _REQUEST_MSG[signal])
    except OtlpDecodeError:
        raise
    except Exception as e:  # struct errors etc.
        raise OtlpDecodeError(f"malformed protobuf: {e}") from e
