"""Pure-Catalyst OTLP/JSON logs and traces decode — the JSONL fast path
(SURVEY §7 hard-part 7: "consider the JSONL fast path via native from_json …
no Python needed").

The general codec (otlp_json.py + flatten.py via mapInArrow) handles every
OTLP shape at ~14k rows/s/core of Python. This module decodes the HOT shape —
log records and spans whose attribute/body values are scalars
(string/int/double/bool), which is the overwhelming share of real traffic —
entirely with Spark built-ins: `from_json` -> `explode` -> higher-order
functions. Whole-stage codegen applies; no Python worker, no Arrow transfer.
It covers logs and traces only: metrics JSON is decoded by the Python codec
(fast_flatten.py), and protobuf of every signal by fast_wire.py (with
wire.py + flatten.py as its reference).

`decode_logs_json_auto` / `decode_traces_json_auto` route each line:
payloads containing nested attribute values (`arrayValue`/`kvlistValue`/
`bytesValue`) or other fast-path-unsupported constructs fall back to the
general codec, and the two outputs union. Routing is textual-contains —
conservative (false positives only cost speed, never correctness).

Canonical-encoding parity (verified against the Python codec cell-by-cell in
tests):
- attr maps: keys sorted via `array_sort` on (key, …) structs, values typed;
  JSON string escaping borrowed from Spark's own `to_json` (wrap one value in
  a struct, strip the envelope) so escapes match serde_json;
- ints stay JSON integers; doubles are formatted `{int}.0` when integral
  (serde_json style) else Spark's shortest-repr cast;
- service.name/namespace/instance.id promoted and removed (§1.3.6);
- ids: base64 or hex -> 16/8-byte binary, zero-filled when absent;
- enum strings (SEVERITY_NUMBER_*) -> ints, numeric passthrough;
- ns -> µs integer division, epoch-0 defaults.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from otlp2parquet_spark.otel import schemas
from otlp2parquet_spark.otel.otlp_json import SEVERITY_NUMBER

# from_json schema for the scalar-attrs log shape (camelCase, protobuf-JSON).
# int64 fields are StringType: protobuf-JSON renders them as strings, and
# from_json would null-out a quoted number under LongType.
_ANYVALUE_SCALAR = StructType(
    [
        StructField("stringValue", StringType()),
        StructField("boolValue", BooleanType()),
        StructField("intValue", StringType()),
        StructField("doubleValue", DoubleType()),
    ]
)
_KV = StructType([StructField("key", StringType()), StructField("value", _ANYVALUE_SCALAR)])
_SCOPE = StructType(
    [
        StructField("name", StringType()),
        StructField("version", StringType()),
        StructField("attributes", ArrayType(_KV)),
    ]
)
_LOG_RECORD = StructType(
    [
        StructField("timeUnixNano", StringType()),
        StructField("observedTimeUnixNano", StringType()),
        StructField("severityNumber", StringType()),
        StructField("severityText", StringType()),
        StructField("body", _ANYVALUE_SCALAR),
        StructField("attributes", ArrayType(_KV)),
        StructField("flags", LongType()),
        StructField("traceId", StringType()),
        StructField("spanId", StringType()),
    ]
)
LOGS_REQUEST_SCHEMA = StructType(
    [
        StructField(
            "resourceLogs",
            ArrayType(
                StructType(
                    [
                        StructField(
                            "resource",
                            StructType([StructField("attributes", ArrayType(_KV))]),
                        ),
                        StructField(
                            "scopeLogs",
                            ArrayType(
                                StructType(
                                    [
                                        StructField("scope", _SCOPE),
                                        StructField("logRecords", ArrayType(_LOG_RECORD)),
                                        StructField("schemaUrl", StringType()),
                                    ]
                                )
                            ),
                        ),
                        StructField("schemaUrl", StringType()),
                    ]
                )
            ),
        )
    ]
)

# textual markers that force the general-codec path (nested/bytes values,
# snake_case payloads the native schema doesn't parse)
FALLBACK_MARKERS = (
    # \u00XX escapes (control chars must be escaped in JSON source): Jackson
    # re-emits them uppercase, Python/serde lowercase — general codec decides
    "\\u00",
    "\\U00",
    '"arrayValue"',
    '"kvlistValue"',
    '"bytesValue"',
    # doubles route to the general codec: Python/serde shortest-repr float
    # formatting (incl. -0.0 and the >=1e16 exponent switch) is not
    # reproducible with Spark casts, and canonical-JSON parity beats speed
    '"doubleValue"',
    '"double_value"',
    '"array_value"',
    '"kvlist_value"',
    '"bytes_value"',
    "resource_logs",
    "scope_logs",
    "log_records",
    "time_unix_nano",
)


def _json_escape(s: Column) -> Column:
    """JSON-encode one string. Fast path: strings without quote/backslash/
    control chars (the vast majority of attribute keys and values) wrap in
    quotes directly; everything else goes through Spark's own JSON writer
    (to_json a 1-field struct, strip the `{"a":` envelope) so escape
    sequences match Jackson/serde exactly."""
    j = F.to_json(F.struct(s.alias("a")))
    slow = F.substring(j, 6, F.length(j) - F.lit(6))
    clean = ~s.rlike('[\\x00-\\x1f"\\\\]')
    return F.when(clean, F.concat(F.lit('"'), s, F.lit('"'))).otherwise(slow)


def _encode_scalar_value(v: Column) -> Column:
    """AnyValue(scalar) -> its canonical JSON value text (§1.3.5/§1.3.4)."""
    dv = v.getField("doubleValue")
    return (
        F.when(v.getField("stringValue").isNotNull(), _json_escape(v.getField("stringValue")))
        .when(v.getField("boolValue").isNotNull(), v.getField("boolValue").cast("string"))
        .when(v.getField("intValue").isNotNull(), v.getField("intValue").cast("long").cast("string"))
        .when(
            dv.isNotNull(),
            # serde_json prints integral doubles as "N.0"; Spark's cast gives
            # scientific notation for big values, so build it explicitly
            F.when(
                (dv == F.floor(dv)) & ~((dv == 0) & (F.lit(1.0) / dv < 0)),
                F.concat(dv.cast("long").cast("string"), F.lit(".0")),
            ).otherwise(dv.cast("string")),
        )
        .otherwise(F.lit("null"))
    )


def _attrs_to_json(attrs: Column, drop_keys: tuple[str, ...] = ()) -> Column:
    """KeyValue array -> canonical sorted-key JSON object string."""
    kept = attrs
    if drop_keys:
        drop_lit = F.array(*[F.lit(k) for k in drop_keys])
        kept = F.filter(attrs, lambda a: ~F.array_contains(drop_lit, a.getField("key")))
    # array_sort on (key, …) structs sorts by key (unique per OTLP spec)
    entries = F.array_sort(
        F.transform(
            kept,
            lambda a: F.struct(
                a.getField("key").alias("k"),
                F.concat(
                    _json_escape(a.getField("key")),
                    F.lit(":"),
                    _encode_scalar_value(a.getField("value")),
                ).alias("e"),
            ),
        )
    )
    body = F.array_join(F.transform(entries, lambda s: s.getField("e")), ",")
    return F.when(attrs.isNull() | (F.size(attrs) == 0), F.lit("{}")).otherwise(
        F.concat(F.lit("{"), body, F.lit("}"))
    )


def _attr_lookup(attrs: Column, key: str) -> Column:
    hit = F.filter(attrs, lambda a: a.getField("key") == key)
    return F.try_element_at(hit, F.lit(1)).getField("value").getField("stringValue")


_HEX16 = "^[0-9a-fA-F]{32}$"
_HEX8 = "^[0-9a-fA-F]{16}$"


def _decode_id(col: Column, nbytes: int) -> Column:
    """base64-or-hex id -> fixed-width binary, zero-filled when absent.
    Malformed ids raise via the length assertion (hard-error parity)."""
    hex_re = _HEX16 if nbytes == 16 else _HEX8
    raw = (
        F.when(col.isNull() | (col == ""), F.lit(b"\x00" * nbytes))
        .when(col.rlike(hex_re), F.to_binary(F.lower(col), F.lit("hex")))
        .otherwise(F.to_binary(col, F.lit("base64")))
    )
    ok = F.length(raw) == nbytes
    return F.when(
        F.assert_true(ok, F.concat(F.lit("invalid id encoding: "), col)).isNull(), raw
    )


def _sev_map() -> Column:
    # built lazily: F.lit at module import would require an active SparkContext
    return F.create_map(*[F.lit(x) for kv in SEVERITY_NUMBER.items() for x in kv])


def _severity_to_int(col: Column) -> Column:
    num = F.when(col.rlike("^-?[0-9]+$"), col.cast("int"))
    named = F.try_element_at(_sev_map(), col)
    ok = col.isNull() | num.isNotNull() | named.isNotNull()
    checked = F.assert_true(ok, F.concat(F.lit("unknown severity enum: "), col))
    return F.when(checked.isNull(), F.coalesce(num, named, F.lit(0)))


def _cast_to_raw(df: DataFrame, table: str) -> DataFrame:
    """Project to the raw-schema column order/types. Array columns keep their
    element type uncast: Spark refuses nullability-only array casts, and the
    downstream union/finalize accepts the relaxed containsNull."""
    from pyspark.sql.types import ArrayType as _AT

    cols = []
    for f in schemas.raw_spark_schema(table).fields:
        c = F.col(f.name)
        cols.append((c if isinstance(f.dataType, _AT) else c.cast(f.dataType)).alias(f.name))
    return df.select(*cols)


def decode_logs_json_native(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """One OTLP/JSON logs export request per row -> raw otel_logs frame
    (same column set/types as the Python codec's raw output).

    Malformed JSON hard-errors via assert_true (parity with the general
    codec's OtlpDecodeError -> task failure).
    """
    parsed = lines.select(
        F.from_json(F.col(line_col), LOGS_REQUEST_SCHEMA, {"mode": "FAILFAST"}).alias("req")
    )
    rl = parsed.select(F.explode("req.resourceLogs").alias("rl"))
    sl = rl.select(
        F.col("rl.resource.attributes").alias("rattrs"),
        F.col("rl.schemaUrl").alias("res_schema"),
        F.explode("rl.scopeLogs").alias("sl"),
    )
    rec = sl.select(
        "rattrs",
        "res_schema",
        F.col("sl.scope").alias("scope"),
        F.col("sl.schemaUrl").alias("scope_schema"),
        F.explode("sl.logRecords").alias("r"),
    )

    ts_us = F.expr("CAST(coalesce(CAST(r.timeUnixNano AS LONG), 0L) div 1000 AS LONG)")
    obs_us = F.expr("CAST(coalesce(CAST(r.observedTimeUnixNano AS LONG), 0L) div 1000 AS LONG)")
    svc = _attr_lookup(F.col("rattrs"), "service.name")
    body_v = F.col("r.body")
    body_json = F.when(
        body_v.isNotNull()
        & (
            body_v.getField("stringValue").isNotNull()
            | body_v.getField("boolValue").isNotNull()
            | body_v.getField("intValue").isNotNull()
            | body_v.getField("doubleValue").isNotNull()
        ),
        _encode_scalar_value(body_v),
    )

    out = rec.select(
        ts_us.alias("Timestamp"),
        _decode_id(F.col("r.traceId"), 16).alias("TraceId"),
        _decode_id(F.col("r.spanId"), 8).alias("SpanId"),
        F.coalesce(svc, F.lit("")).alias("ServiceName"),
        _attr_lookup(F.col("rattrs"), "service.namespace").alias("ServiceNamespace"),
        _attr_lookup(F.col("rattrs"), "service.instance.id").alias("ServiceInstanceId"),
        _attrs_to_json(
            F.col("rattrs"), ("service.name", "service.namespace", "service.instance.id")
        ).alias("ResourceAttributes"),
        F.nullif(F.col("res_schema"), F.lit("")).alias("ResourceSchemaUrl"),
        F.coalesce(F.col("scope.name"), F.lit("")).alias("ScopeName"),
        F.nullif(F.col("scope.version"), F.lit("")).alias("ScopeVersion"),
        _attrs_to_json(F.col("scope.attributes")).alias("ScopeAttributes"),
        F.nullif(F.col("scope_schema"), F.lit("")).alias("ScopeSchemaUrl"),
        ts_us.alias("TimestampTime"),
        obs_us.alias("ObservedTimestamp"),
        F.coalesce(F.col("r.flags"), F.lit(0)).alias("TraceFlags"),
        F.coalesce(F.col("r.severityText"), F.lit("")).alias("SeverityText"),
        _severity_to_int(F.col("r.severityNumber")).alias("SeverityNumber"),
        body_json.alias("Body"),
        _attrs_to_json(F.col("r.attributes")).alias("LogAttributes"),
    )
    return _cast_to_raw(out, "otel_logs")


# intValue with >=19 digits may overflow int64: Catalyst's long cast would
# null it out and array_join would silently DROP the attribute, while the
# Python codec emits the arbitrary-precision integer (ADVICE r1). Route such
# lines to the general codec. (19 digits is conservative — int64 max is
# 9223372036854775807 — so some in-range values also take the slow lane.)
_BIG_INT_RE = '"intValue"\\s*:\\s*"?-?[0-9]{19}'


def _risky_int(line: Column) -> Column:
    return line.rlike(_BIG_INT_RE)


def needs_fallback(line: Column) -> Column:
    """True when a payload uses shapes outside the native fast path."""
    cond = _risky_int(line)
    for marker in FALLBACK_MARKERS:
        cond = cond | line.contains(marker)
    return cond


def decode_logs_json_auto(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """Route each JSONL line: hot scalar shape -> Catalyst decode; anything
    nested/snake_case -> the general Python codec. Union of the two is the
    complete, canonical decode (finalized to golden types)."""
    from otlp2parquet_spark.otel import ingest

    simple = lines.filter(~needs_fallback(F.col(line_col)))
    complex_ = lines.filter(needs_fallback(F.col(line_col)))
    native_raw = decode_logs_json_native(simple, line_col)
    py_payloads = complex_.select(
        F.lit("").alias("path"),
        F.encode(F.col(line_col), "UTF-8").alias("content"),
        F.lit("json").alias("fmt"),
    )
    py_raw = py_payloads.mapInArrow(
        ingest._decode_simple("logs", "otel_logs", "raise"),
        schemas.raw_spark_schema("otel_logs"),
    )
    return ingest.finalize(native_raw.unionAll(py_raw), "otel_logs")


# ---------------------------------------------------------------------------
# Traces fast path (same design; metrics stay on the general codec — OTLP/JSON
# metric traffic is rare and the 5-way oneof routing buys little)

_SPAN_EVENT = StructType(
    [
        StructField("timeUnixNano", StringType()),
        StructField("name", StringType()),
        StructField("attributes", ArrayType(_KV)),
    ]
)
_SPAN_LINK = StructType(
    [
        StructField("traceId", StringType()),
        StructField("spanId", StringType()),
        StructField("traceState", StringType()),
        StructField("attributes", ArrayType(_KV)),
    ]
)
_SPAN = StructType(
    [
        StructField("traceId", StringType()),
        StructField("spanId", StringType()),
        StructField("traceState", StringType()),
        StructField("parentSpanId", StringType()),
        StructField("name", StringType()),
        StructField("kind", StringType()),
        StructField("startTimeUnixNano", StringType()),
        StructField("endTimeUnixNano", StringType()),
        StructField("attributes", ArrayType(_KV)),
        StructField("events", ArrayType(_SPAN_EVENT)),
        StructField("links", ArrayType(_SPAN_LINK)),
        StructField(
            "status",
            StructType([StructField("message", StringType()), StructField("code", StringType())]),
        ),
    ]
)
TRACES_REQUEST_SCHEMA = StructType(
    [
        StructField(
            "resourceSpans",
            ArrayType(
                StructType(
                    [
                        StructField(
                            "resource",
                            StructType([StructField("attributes", ArrayType(_KV))]),
                        ),
                        StructField(
                            "scopeSpans",
                            ArrayType(
                                StructType(
                                    [
                                        StructField("scope", _SCOPE),
                                        StructField("spans", ArrayType(_SPAN)),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)

TRACES_FALLBACK_MARKERS = (
    # \u00XX escapes (control chars must be escaped in JSON source): Jackson
    # re-emits them uppercase, Python/serde lowercase — general codec decides
    "\\u00",
    "\\U00",
    '"arrayValue"',
    '"kvlistValue"',
    '"bytesValue"',
    '"doubleValue"',
    '"double_value"',
    # doubles route to the general codec: Python/serde shortest-repr float
    # formatting (incl. -0.0 and the >=1e16 exponent switch) is not
    # reproducible with Spark casts, and canonical-JSON parity beats speed
    '"doubleValue"',
    '"double_value"',
    '"array_value"',
    '"kvlist_value"',
    '"bytes_value"',
    "resource_spans",
    "scope_spans",
    "trace_id",
    "start_time_unix_nano",
)

_SPAN_KIND_NAMES = {
    0: "SPAN_KIND_UNSPECIFIED",
    1: "SPAN_KIND_INTERNAL",
    2: "SPAN_KIND_SERVER",
    3: "SPAN_KIND_CLIENT",
    4: "SPAN_KIND_PRODUCER",
    5: "SPAN_KIND_CONSUMER",
}
_STATUS_NAMES = {0: "STATUS_CODE_UNSET", 1: "STATUS_CODE_OK", 2: "STATUS_CODE_ERROR"}


def _enum_to_name(col: Column, names: dict[int, str], variants: dict[str, int], what: str) -> Column:
    """Numeric or variant-string enum -> canonical variant name; unknown
    values hard-error (reference invalid-corpus semantics)."""
    as_num = F.when(col.rlike("^[0-9]+$"), col.cast("int"))
    num_map = F.create_map(*[F.lit(x) for kv in names.items() for x in kv])
    str_map = F.create_map(*[F.lit(x) for kv in variants.items() for x in kv])
    name = F.coalesce(
        F.try_element_at(num_map, as_num),
        F.when(F.try_element_at(str_map, col).isNotNull(), col),
        F.when(col.isNull(), F.lit(names[0])),
    )
    checked = F.assert_true(name.isNotNull(), F.concat(F.lit(f"invalid {what}: "), col))
    return F.when(checked.isNull(), name)


def _hex_id(col: Column, nbytes: int) -> Column:
    """Input base64-or-hex -> lowercase hex string (traces id encoding)."""
    return F.lower(F.hex(_decode_id(col, nbytes)))


def needs_fallback_traces(line: Column) -> Column:
    cond = _risky_int(line)
    for marker in TRACES_FALLBACK_MARKERS:
        cond = cond | line.contains(marker)
    return cond


def decode_traces_json_native(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """One OTLP/JSON traces export request per row -> raw otel_traces frame."""
    from otlp2parquet_spark.otel.otlp_json import SPAN_KIND, STATUS_CODE

    parsed = lines.select(
        F.from_json(F.col(line_col), TRACES_REQUEST_SCHEMA, {"mode": "FAILFAST"}).alias("req")
    )
    rs = parsed.select(F.explode("req.resourceSpans").alias("rs"))
    ss = rs.select(
        F.col("rs.resource.attributes").alias("rattrs"),
        F.explode("rs.scopeSpans").alias("ss"),
    )
    sp = ss.select(
        "rattrs",
        F.col("ss.scope").alias("scope"),
        F.explode("ss.spans").alias("s"),
    )
    start = F.coalesce(F.col("s.startTimeUnixNano").cast("long"), F.lit(0))
    end = F.coalesce(F.col("s.endTimeUnixNano").cast("long"), F.lit(0))
    events = F.coalesce(F.col("s.events"), F.array())
    links = F.coalesce(F.col("s.links"), F.array())
    parent_hex = _hex_id(F.col("s.parentSpanId"), 8)

    out = sp.select(
        F.expr("CAST(coalesce(CAST(s.startTimeUnixNano AS LONG), 0L) div 1000 AS LONG)").alias(
            "Timestamp"
        ),
        _hex_id(F.col("s.traceId"), 16).alias("TraceId"),
        _hex_id(F.col("s.spanId"), 8).alias("SpanId"),
        _attr_lookup(F.col("rattrs"), "service.name").alias("ServiceName"),
        _attrs_to_json(
            F.col("rattrs"), ("service.name", "service.namespace", "service.instance.id")
        ).alias("ResourceAttributes"),
        F.nullif(F.col("scope.name"), F.lit("")).alias("ScopeName"),
        F.nullif(F.col("scope.version"), F.lit("")).alias("ScopeVersion"),
        # all-zero parent == absent (flatten.py parity)
        F.when(parent_hex.rlike("^0+$") | parent_hex.isNull(), F.lit(None)).otherwise(
            parent_hex
        ).alias("ParentSpanId"),
        F.nullif(F.col("s.traceState"), F.lit("")).alias("TraceState"),
        F.coalesce(F.col("s.name"), F.lit("")).alias("SpanName"),
        _enum_to_name(F.col("s.kind"), _SPAN_KIND_NAMES, SPAN_KIND, "span kind").alias("SpanKind"),
        _attrs_to_json(F.col("s.attributes")).alias("SpanAttributes"),
        (end - start).alias("Duration"),
        _enum_to_name(
            F.col("s.status.code"), _STATUS_NAMES, STATUS_CODE, "status code"
        ).alias("StatusCode"),
        F.nullif(F.col("s.status.message"), F.lit("")).alias("StatusMessage"),
        F.transform(
            events, lambda e: F.coalesce(e.getField("timeUnixNano").cast("long"), F.lit(0))
        ).alias("__ev_ns"),
        F.transform(events, lambda e: F.coalesce(e.getField("name"), F.lit(""))).alias(
            "EventsName"
        ),
        F.transform(events, lambda e: _attrs_to_json(e.getField("attributes"))).alias(
            "EventsAttributes"
        ),
        F.transform(links, lambda ln: _hex_id(ln.getField("traceId"), 16)).alias("LinksTraceId"),
        F.transform(links, lambda ln: _hex_id(ln.getField("spanId"), 8)).alias("LinksSpanId"),
        F.transform(links, lambda ln: F.nullif(ln.getField("traceState"), F.lit(""))).alias(
            "LinksTraceState"
        ),
        F.transform(links, lambda ln: _attrs_to_json(ln.getField("attributes"))).alias(
            "LinksAttributes"
        ),
    ).withColumn(
        "EventsTimestamp", F.expr("transform(__ev_ns, x -> CAST(x div 1000 AS LONG))")
    ).drop("__ev_ns")
    return _cast_to_raw(out, "otel_traces")


def decode_traces_json_auto(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """Route + union, finalized to golden types (traces twin of
    decode_logs_json_auto)."""
    from otlp2parquet_spark.otel import ingest

    simple = lines.filter(~needs_fallback_traces(F.col(line_col)))
    complex_ = lines.filter(needs_fallback_traces(F.col(line_col)))
    native_raw = decode_traces_json_native(simple, line_col)
    py_payloads = complex_.select(
        F.lit("").alias("path"),
        F.encode(F.col(line_col), "UTF-8").alias("content"),
        F.lit("json").alias("fmt"),
    )
    py_raw = py_payloads.mapInArrow(
        ingest._decode_simple("traces", "otel_traces", "raise"),
        schemas.raw_spark_schema("otel_traces"),
    )
    return ingest.finalize(native_raw.unionAll(py_raw), "otel_traces")
