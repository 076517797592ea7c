"""OTLP/JSON (protobuf-JSON mapping) -> the same canonical dict as wire.py.

Implements the behaviors the reference inherits from its JSON decoder
(reference tests/e2e.rs:238-318, testdata/invalid/README.md):

- camelCase and snake_case field names both accepted;
- (u)int64 values arrive as JSON strings or numbers;
- enum fields accept the full variant string (``"SEVERITY_NUMBER_INFO"``,
  ``"SPAN_KIND_SERVER"``, ...) or the numeric value; an unknown variant string
  is a hard error;
- trace/span id bytes accept protobuf-JSON base64 AND plain hex
  (reference testdata/log.json uses base64, docs use hex); a string that is
  neither is a hard error;
- malformed JSON is a hard error.
"""

from __future__ import annotations

import base64
import binascii
import json
import re
from typing import Any

from otlp2parquet_spark.otel.wire import DESCRIPTORS, OtlpDecodeError, _REQUEST_MSG

# Public OTLP v1 enum tables (open-telemetry/opentelemetry-proto).
SEVERITY_NUMBER = {"SEVERITY_NUMBER_UNSPECIFIED": 0}
for _i, _base in enumerate(["TRACE", "DEBUG", "INFO", "WARN", "ERROR", "FATAL"]):
    for _j in range(4):
        _name = f"SEVERITY_NUMBER_{_base}" + (str(_j + 1) if _j else "")
        SEVERITY_NUMBER[_name] = _i * 4 + _j + 1

SPAN_KIND = {
    "SPAN_KIND_UNSPECIFIED": 0,
    "SPAN_KIND_INTERNAL": 1,
    "SPAN_KIND_SERVER": 2,
    "SPAN_KIND_CLIENT": 3,
    "SPAN_KIND_PRODUCER": 4,
    "SPAN_KIND_CONSUMER": 5,
}

STATUS_CODE = {"STATUS_CODE_UNSET": 0, "STATUS_CODE_OK": 1, "STATUS_CODE_ERROR": 2}

AGGREGATION_TEMPORALITY = {
    "AGGREGATION_TEMPORALITY_UNSPECIFIED": 0,
    "AGGREGATION_TEMPORALITY_DELTA": 1,
    "AGGREGATION_TEMPORALITY_CUMULATIVE": 2,
}

# message.field -> enum table (the only enum-typed fields in the descriptors)
_ENUM_TABLES = {
    ("LogRecord", "severity_number"): SEVERITY_NUMBER,
    ("Span", "kind"): SPAN_KIND,
    ("Status", "code"): STATUS_CODE,
    ("Sum", "aggregation_temporality"): AGGREGATION_TEMPORALITY,
    ("Histogram", "aggregation_temporality"): AGGREGATION_TEMPORALITY,
    ("ExponentialHistogram", "aggregation_temporality"): AGGREGATION_TEMPORALITY,
}

_HEX_RE = re.compile(r"^[0-9a-fA-F]+$")


def _camel(snake: str) -> str:
    parts = snake.split("_")
    return parts[0] + "".join(p.capitalize() for p in parts[1:])


# message -> {json key (camel or snake) -> (canonical name, kind, repeated)}
_JSON_FIELDS: dict[str, dict[str, tuple[str, str, bool]]] = {}
for _msg, _desc in DESCRIPTORS.items():
    m: dict[str, tuple[str, str, bool]] = {}
    for _no, (_name, _kind, _rep) in _desc.items():
        m[_name] = (_name, _kind, _rep)
        m[_camel(_name)] = (_name, _kind, _rep)
    _JSON_FIELDS[_msg] = m


def decode_id_bytes(s: str, field: str) -> bytes:
    """base64-or-hex id decode with hard error on neither (reference
    testdata/invalid/README.md: trace_invalid_base64, trace_mixed_encoding)."""
    if s == "":
        return b""
    # hex ids have even length and hex alphabet; base64 of 16/8 bytes is
    # 24/12 chars with padding — a 32/16-char hex string never parses as
    # full-length base64, so try hex first.
    if len(s) % 2 == 0 and _HEX_RE.match(s):
        try:
            return binascii.unhexlify(s)
        except binascii.Error:
            pass
    try:
        decoded = base64.b64decode(s, validate=True)
    except (binascii.Error, ValueError) as e:
        raise OtlpDecodeError(f"invalid id encoding in {field}: {s!r} is neither hex nor base64") from e
    return decoded


# ---------------------------------------------------------------------------
# Compiled converters: one dict lookup + one call per field. The generic
# kind-string dispatch was ~6x the cost of json.loads itself (measured on the
# 32k-record jsonl fixture); precompiling closures recovers most of it —
# this is the hot path of the whole JSONL ingest.


def _compile_scalar(msg: str, name: str, kind: str):
    label = f"{msg}.{name}"
    if kind in ("fixed64", "sfixed64", "int64", "uint64", "uint32", "int32", "fixed32"):

        def conv_int(v):
            if isinstance(v, bool) or not isinstance(v, (int, str, float)):
                raise OtlpDecodeError(f"bad integer for {label}: {v!r}")
            try:
                return int(v)
            except ValueError as e:
                raise OtlpDecodeError(f"bad integer for {label}: {v!r}") from e

        return conv_int
    if kind == "enum":
        table = _ENUM_TABLES.get((msg, name))

        def conv_enum(v):
            if isinstance(v, int) and not isinstance(v, bool):
                return v
            if isinstance(v, str) and table is not None:
                try:
                    return table[v]
                except KeyError:
                    pass
            raise OtlpDecodeError(f"unknown enum variant for {label}: {v!r}")

        return conv_enum
    if kind == "sint32":
        return int
    if kind == "double":
        return float  # protobuf-JSON "NaN"/"Infinity" strings float() natively

    if kind == "bool":

        def conv_bool(v):
            if not isinstance(v, bool):
                raise OtlpDecodeError(f"bad bool for {label}: {v!r}")
            return v

        return conv_bool
    if kind == "string":

        def conv_str(v):
            if not isinstance(v, str):
                raise OtlpDecodeError(f"bad string for {label}: {v!r}")
            return v

        return conv_str
    if kind == "bytes":

        def conv_bytes(v):
            if not isinstance(v, str):
                raise OtlpDecodeError(f"bad bytes for {label}: {v!r}")
            return decode_id_bytes(v, label)

        return conv_bytes
    raise AssertionError(f"unmapped kind {kind} for {label}")


def _conv_anyvalue(v: Any) -> dict[str, Any]:
    """Hand-specialized AnyValue: the attribute subtree is ~2/3 of every
    OTLP/JSON document (each attribute = KeyValue + AnyValue + value), so it
    skips the generic walker. Hot members first."""
    if not isinstance(v, dict):
        raise OtlpDecodeError(f"expected object for AnyValue, got {type(v).__name__}")
    s = v.get("stringValue")
    if s is None:
        s = v.get("string_value")
    if s is not None:
        if not isinstance(s, str):
            raise OtlpDecodeError(f"bad string for AnyValue.string_value: {s!r}")
        return {"string_value": s}
    i = v.get("intValue")
    if i is None:
        i = v.get("int_value")
    if i is not None:
        try:
            return {"int_value": int(i)}
        except (TypeError, ValueError) as e:
            raise OtlpDecodeError(f"bad integer for AnyValue.int_value: {i!r}") from e
    d = v.get("doubleValue")
    if d is None:
        d = v.get("double_value")
    if d is not None:
        return {"double_value": float(d)}
    b = v.get("boolValue")
    if b is None:
        b = v.get("bool_value")
    if b is not None:
        if not isinstance(b, bool):
            raise OtlpDecodeError(f"bad bool for AnyValue.bool_value: {b!r}")
        return {"bool_value": b}
    a = v.get("arrayValue") or v.get("array_value")
    if a is not None:
        vals = a.get("values") if isinstance(a, dict) else None
        return {"array_value": {"values": [_conv_anyvalue(x) for x in vals or []]}}
    kv = v.get("kvlistValue") or v.get("kvlist_value")
    if kv is not None:
        vals = kv.get("values") if isinstance(kv, dict) else None
        return {"kvlist_value": {"values": [_conv_keyvalue(x) for x in vals or []]}}
    by = v.get("bytesValue") or v.get("bytes_value")
    if by is not None:
        if not isinstance(by, str):
            raise OtlpDecodeError(f"bad bytes for AnyValue.bytes_value: {by!r}")
        try:
            return {"bytes_value": base64.b64decode(by, validate=True)}
        except (binascii.Error, ValueError) as e:
            raise OtlpDecodeError(f"bad base64 for AnyValue.bytes_value: {by!r}") from e
    return {}


def _conv_keyvalue(kv: Any) -> dict[str, Any]:
    if not isinstance(kv, dict):
        raise OtlpDecodeError(f"expected object for KeyValue, got {type(kv).__name__}")
    out: dict[str, Any] = {}
    k = kv.get("key")
    if k is not None:
        if not isinstance(k, str):
            raise OtlpDecodeError(f"bad string for KeyValue.key: {k!r}")
        out["key"] = k
    v = kv.get("value")
    if v is not None:
        out["value"] = _conv_anyvalue(v)
    return out


# msg -> {json key -> (canonical name, repeated, converter)}
_COMPILED: dict[str, dict[str, tuple[str, bool, Any]]] = {}


def _compiled(msg: str) -> dict[str, tuple[str, bool, Any]]:
    table = _COMPILED.get(msg)
    if table is None:
        table = {}
        for no, (name, kind, repeated) in DESCRIPTORS[msg].items():
            if kind == "msg:KeyValue":
                conv = _conv_keyvalue
            elif kind == "msg:AnyValue":
                conv = _conv_anyvalue
            elif kind.startswith("msg:"):
                sub = kind[4:]
                conv = lambda v, _s=sub: _conv_message(_s, v)  # noqa: E731
            else:
                conv = _compile_scalar(msg, name, kind)
            table[name] = (name, repeated, conv)
            table[_camel(name)] = (name, repeated, conv)
        _COMPILED[msg] = table
    return table


def _conv_message(msg: str, obj: Any) -> dict[str, Any]:
    if not isinstance(obj, dict):
        raise OtlpDecodeError(f"expected object for {msg}, got {type(obj).__name__}")
    fields = _compiled(msg)
    out: dict[str, Any] = {}
    get = fields.get
    for key, v in obj.items():
        spec = get(key)
        if spec is None or v is None:
            continue  # unknown field: protobuf-JSON ignore (forward compat)
        name, repeated, conv = spec
        if repeated:
            if not isinstance(v, list):
                raise OtlpDecodeError(f"expected array for {msg}.{name}")
            out[name] = [conv(item) for item in v]
        else:
            out[name] = conv(v)
    return out


def parse_request_json(body: str | bytes, signal: str) -> dict[str, Any]:
    """Parse one OTLP/JSON export request into the canonical dict.

    Any non-OtlpDecodeError escaping the walk (e.g. TypeError from
    float({}) on {"doubleValue": {}}) is re-raised as OtlpDecodeError so
    the ingest quarantine contract holds for JSON exactly as the
    pb lane's flatten_logs_pb guarantees it for protobuf — a malformed
    payload quarantines one request, never fails the whole Spark task."""
    try:
        obj = json.loads(body)
    except json.JSONDecodeError as e:
        raise OtlpDecodeError(f"malformed JSON: {e}") from e
    try:
        return _conv_message(_REQUEST_MSG[signal], obj)
    except OtlpDecodeError:
        raise
    except Exception as e:
        raise OtlpDecodeError(f"malformed OTLP/JSON: {e}") from e


def parse_request_jsonl(body: str | bytes, signal: str) -> list[dict[str, Any]]:
    """Parse a JSONL payload: one export request per non-empty line
    (reference tests/e2e.rs:44-52; line format scripts/generate_testdata.py)."""
    if isinstance(body, bytes):
        try:
            body = body.decode("utf-8")
        except UnicodeDecodeError as e:
            raise OtlpDecodeError(f"invalid utf-8 in JSONL payload: {e}") from e
    return [parse_request_json(line, signal) for line in body.splitlines() if line.strip()]
