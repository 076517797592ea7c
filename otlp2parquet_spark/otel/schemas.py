"""The seven fixed output schemas (SURVEY.md §1.2, FIXTURES.md §2).

Ground truth: golden files `/root/reference/testdata/parquet/*.parquet`
(reference docs/reference.md:39-162). Each table is defined once as an ordered
column spec and projected into:

- a pyarrow schema with `PARQUET:field_id` on every field + the versioned
  footer metadata (`otlp2parquet.schema_version` etc.) — used by the
  byte-parity writer and the golden-file tests;
- a Spark ``StructType`` — the decode kernels' output schema: the walkers'
  epoch-µs ints go straight into its `timestamp[us, UTC]` Arrow columns,
  so decoded frames carry the golden types. Spark has no unsigned
  types, so the logs `TraceFlags uint32` column is LongType in Spark and is
  cast back to uint32 by the pyarrow sink (documented deviation, SURVEY §7
  hard-part 1).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TS = pa.timestamp("us", tz="UTC")

# (name, pyarrow type, nullable) per table, in golden-file column order.
LOGS_COLUMNS = [
    ("Timestamp", TS, False),
    ("TraceId", pa.binary(), False),
    ("SpanId", pa.binary(), False),
    ("ServiceName", pa.string(), False),
    ("ServiceNamespace", pa.string(), True),
    ("ServiceInstanceId", pa.string(), True),
    ("ResourceAttributes", pa.string(), False),
    ("ResourceSchemaUrl", pa.string(), True),
    ("ScopeName", pa.string(), False),
    ("ScopeVersion", pa.string(), True),
    ("ScopeAttributes", pa.string(), False),
    ("ScopeSchemaUrl", pa.string(), True),
    ("TimestampTime", TS, False),
    ("ObservedTimestamp", TS, False),
    ("TraceFlags", pa.uint32(), False),
    ("SeverityText", pa.string(), False),
    ("SeverityNumber", pa.int32(), False),
    ("Body", pa.string(), True),
    ("LogAttributes", pa.string(), False),
]

TRACES_COLUMNS = [
    ("Timestamp", TS, False),
    ("TraceId", pa.string(), False),
    ("SpanId", pa.string(), False),
    ("ServiceName", pa.string(), True),
    ("ResourceAttributes", pa.string(), False),
    ("ScopeName", pa.string(), True),
    ("ScopeVersion", pa.string(), True),
    ("ParentSpanId", pa.string(), True),
    ("TraceState", pa.string(), True),
    ("SpanName", pa.string(), False),
    ("SpanKind", pa.string(), False),
    ("SpanAttributes", pa.string(), False),
    ("Duration", pa.int64(), False),
    ("StatusCode", pa.string(), True),
    ("StatusMessage", pa.string(), True),
    ("EventsTimestamp", pa.list_(pa.field("item", TS, nullable=False)), False),
    ("EventsName", pa.list_(pa.field("item", pa.string(), nullable=False)), False),
    ("EventsAttributes", pa.list_(pa.field("item", pa.string(), nullable=False)), False),
    ("LinksTraceId", pa.list_(pa.field("item", pa.string(), nullable=False)), False),
    ("LinksSpanId", pa.list_(pa.field("item", pa.string(), nullable=False)), False),
    ("LinksTraceState", pa.list_(pa.field("item", pa.string(), nullable=True)), False),
    ("LinksAttributes", pa.list_(pa.field("item", pa.string(), nullable=False)), False),
]

# Common 9-column prefix of every metrics table (reference docs/reference.md:95-162;
# service.name stays inside ResourceAttributes here, unlike logs/traces — §1.3.6).
_METRICS_PREFIX = [
    ("Timestamp", TS, False),
    ("ServiceName", pa.string(), False),
    ("ResourceAttributes", pa.string(), False),
    ("ScopeName", pa.string(), True),
    ("ScopeVersion", pa.string(), True),
    ("MetricName", pa.string(), False),
    ("MetricDescription", pa.string(), True),
    ("MetricUnit", pa.string(), True),
    ("Attributes", pa.string(), False),
]

METRICS_GAUGE_COLUMNS = _METRICS_PREFIX + [("Value", pa.float64(), False)]

METRICS_SUM_COLUMNS = _METRICS_PREFIX + [
    ("Value", pa.float64(), False),
    ("AggregationTemporality", pa.int32(), False),
    ("IsMonotonic", pa.bool_(), False),
]

METRICS_HISTOGRAM_COLUMNS = _METRICS_PREFIX + [
    ("Count", pa.int64(), False),
    ("Sum", pa.float64(), False),
    ("BucketCounts", pa.list_(pa.field("item", pa.int64(), nullable=False)), False),
    ("ExplicitBounds", pa.list_(pa.field("item", pa.float64(), nullable=False)), False),
    ("Min", pa.float64(), True),
    ("Max", pa.float64(), True),
]

METRICS_EXP_HISTOGRAM_COLUMNS = _METRICS_PREFIX + [
    ("Count", pa.int64(), False),
    ("Sum", pa.float64(), False),
    ("Scale", pa.int32(), False),
    ("ZeroCount", pa.int64(), False),
    ("PositiveOffset", pa.int32(), False),
    ("PositiveBucketCounts", pa.list_(pa.field("item", pa.int64(), nullable=False)), False),
    ("NegativeOffset", pa.int32(), False),
    ("NegativeBucketCounts", pa.list_(pa.field("item", pa.int64(), nullable=False)), False),
    ("Min", pa.float64(), True),
    ("Max", pa.float64(), True),
]

METRICS_SUMMARY_COLUMNS = _METRICS_PREFIX + [
    ("Count", pa.int64(), False),
    ("Sum", pa.float64(), False),
    ("QuantileValues", pa.list_(pa.field("item", pa.float64(), nullable=False)), False),
    ("QuantileQuantiles", pa.list_(pa.field("item", pa.float64(), nullable=False)), False),
]

# Footer metadata stamped by the reference writer (golden footers;
# reference src/writer/write.rs:48 via otlp2records to_parquet_bytes).
LOGS_FOOTER = {"otlp2parquet.schema_version": "1.1.0"}
TRACES_FOOTER = {"otlp2parquet.traces_schema_version": "1.0.0"}


def metrics_footer(metric_type: str) -> dict[str, str]:
    return {
        "otlp2parquet.metrics_schema_version": "1.0.0",
        "otlp2parquet.metric_type": metric_type,
    }


TABLE_COLUMNS = {
    "otel_logs": LOGS_COLUMNS,
    "otel_traces": TRACES_COLUMNS,
    "otel_metrics_gauge": METRICS_GAUGE_COLUMNS,
    "otel_metrics_sum": METRICS_SUM_COLUMNS,
    "otel_metrics_histogram": METRICS_HISTOGRAM_COLUMNS,
    "otel_metrics_exponential_histogram": METRICS_EXP_HISTOGRAM_COLUMNS,
    "otel_metrics_summary": METRICS_SUMMARY_COLUMNS,
}

TABLE_FOOTER = {
    "otel_logs": LOGS_FOOTER,
    "otel_traces": TRACES_FOOTER,
    "otel_metrics_gauge": metrics_footer("gauge"),
    "otel_metrics_sum": metrics_footer("sum"),
    "otel_metrics_histogram": metrics_footer("histogram"),
    "otel_metrics_exponential_histogram": metrics_footer("exponential_histogram"),
    "otel_metrics_summary": metrics_footer("summary"),
}

# table name -> path segment under the output root (reference src/writer/write.rs:93-111)
TABLE_PATH_SEGMENT = {
    "otel_logs": "logs",
    "otel_traces": "traces",
    "otel_metrics_gauge": "metrics/gauge",
    "otel_metrics_sum": "metrics/sum",
    "otel_metrics_histogram": "metrics/histogram",
    "otel_metrics_exponential_histogram": "metrics/exponential_histogram",
    "otel_metrics_summary": "metrics/summary",
}

METRIC_TABLES = {
    "gauge": "otel_metrics_gauge",
    "sum": "otel_metrics_sum",
    "histogram": "otel_metrics_histogram",
    "exponential_histogram": "otel_metrics_exponential_histogram",
    "summary": "otel_metrics_summary",
}

# The 4 metric types persisted by the server pipeline; summary points are
# counted-and-dropped (reference src/lib.rs:56-63, tests/e2e.rs:114-126).
PERSISTED_METRIC_TYPES = ("gauge", "sum", "histogram", "exponential_histogram")


def arrow_schema(table: str) -> pa.Schema:
    """Golden pyarrow schema incl. sequential field_ids + footer metadata."""
    fields = []
    fid = 1
    for name, typ, nullable in TABLE_COLUMNS[table]:
        fields.append(
            pa.field(name, typ, nullable=nullable, metadata={"PARQUET:field_id": str(fid)})
        )
        fid += 1
    meta = {k: v for k, v in TABLE_FOOTER[table].items()}
    return pa.schema(fields, metadata=meta)


def _spark_type(t: pa.DataType):
    if t == TS:
        return TimestampType()
    if pa.types.is_binary(t):
        return BinaryType()
    if pa.types.is_string(t):
        return StringType()
    if pa.types.is_uint32(t) or pa.types.is_int64(t):
        return LongType()
    if pa.types.is_int32(t):
        return IntegerType()
    if pa.types.is_float64(t):
        return DoubleType()
    if pa.types.is_boolean(t):
        return BooleanType()
    if pa.types.is_list(t):
        inner = t.value_field
        return ArrayType(_spark_type(inner.type), containsNull=inner.nullable)
    raise TypeError(f"unmapped arrow type: {t}")


def spark_schema(table: str) -> StructType:
    """Spark StructType for a table (uint32 -> long documented deviation)."""
    return StructType(
        [
            StructField(name, _spark_type(typ), nullable)
            for name, typ, nullable in TABLE_COLUMNS[table]
        ]
    )
