"""Exotic-shape metrics sweep: seeded-random requests covering
exponential-histogram bucket geometry (negative offsets/scales,
empty/asymmetric positive-negative buckets), exemplars on every data-point
type (which the decoders must skip: wire.py has no Exemplar entry, so this
exercises its unknown-field skip), histogram min/max presence (absent vs
explicit 0.0), summary quantiles, and multi-member resource/scope nesting.

The generator and the exemplar-splicing encoder are shared with
test_fast_wire and test_fast_flatten. The sweep here decodes the SAME
protobuf bytes two ways: through the Spark frame path the ingest uses
(`ingest.decode_metrics_union` -> `metrics_table` / `skipped_metrics`) and
through the two-step reference pair (`wire.parse_request_pb` +
`flatten.flatten_metrics`). Tables must match cell-for-cell, batched across
all seeds in one comparison per metric type.
"""

from __future__ import annotations

import copy
import random
import struct as _struct
from collections import Counter

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from otlp2parquet_spark.otel import flatten, ingest, schemas, wire

from test_wire_property import _enc_varint, encode_message

# Exemplar per the official opentelemetry-proto (metrics.proto): wire.py has
# no Exemplar descriptor by design (the tables keep no exemplar columns), so
# the encoder needs a local overlay.
_EXEMPLAR_DESC = {
    2: ("time_unix_nano", "fixed64", False),
    3: ("as_double", "double", False),
    4: ("span_id", "bytes", False),
    5: ("trace_id", "bytes", False),
    6: ("as_int", "sfixed64", False),
    7: ("filtered_attributes", "msg:KeyValue", True),
}
# data-point message -> exemplars field number (official proto)
_EXEMPLAR_FIELD = {
    "NumberDataPoint": 5,
    "HistogramDataPoint": 8,
    "ExponentialHistogramDataPoint": 11,
}


def _encode_exemplar(ex: dict) -> bytes:
    out = bytearray()
    for no, (name, kind, rep) in _EXEMPLAR_DESC.items():
        if name not in ex:
            continue
        vals = ex[name] if rep else [ex[name]]
        for v in vals:
            if kind == "fixed64":
                out += _enc_varint(no << 3 | 1) + _struct.pack("<Q", v)
            elif kind == "sfixed64":
                out += _enc_varint(no << 3 | 1) + _struct.pack("<q", v)
            elif kind == "double":
                out += _enc_varint(no << 3 | 1) + _struct.pack("<d", v)
            elif kind == "bytes":
                out += _enc_varint(no << 3 | 2) + _enc_varint(len(v)) + v
            else:  # msg:KeyValue
                body = encode_message(v, "KeyValue")
                out += _enc_varint(no << 3 | 2) + _enc_varint(len(body)) + body
    return bytes(out)


def _splice_exemplars(dp_bytes: bytes, msg: str, exemplars: list[dict]) -> bytes:
    """Append exemplar submessages to an encoded data-point message —
    protobuf field order is free, so appending is a valid encoding."""
    no = _EXEMPLAR_FIELD[msg]
    out = bytearray(dp_bytes)
    for ex in exemplars:
        body = _encode_exemplar(ex)
        out += _enc_varint(no << 3 | 2) + _enc_varint(len(body)) + body
    return bytes(out)


def _encode_request(tree: dict) -> bytes:
    """encode_message + exemplar splice: `__exemplars__` keys (stripped from
    the wire-descriptor view) become real Exemplar submessages."""

    def enc_dp(dp: dict, msg: str) -> bytes:
        exemplars = dp.pop("__exemplars__", [])
        raw = encode_message(dp, msg)
        return _splice_exemplars(raw, msg, exemplars) if exemplars else raw

    out = bytearray()
    for rm in tree["resource_metrics"]:
        rm_body = bytearray()
        if "resource" in rm:
            body = encode_message(rm["resource"], "Resource")
            rm_body += _enc_varint(1 << 3 | 2) + _enc_varint(len(body)) + body
        for sm in rm["scope_metrics"]:
            sm_body = bytearray()
            if "scope" in sm:
                body = encode_message(sm["scope"], "InstrumentationScope")
                sm_body += _enc_varint(1 << 3 | 2) + _enc_varint(len(body)) + body
            for metric in sm["metrics"]:
                m_body = bytearray()
                for name, no in (("name", 1), ("description", 2), ("unit", 3)):
                    if name in metric:
                        b = metric[name].encode()
                        m_body += _enc_varint(no << 3 | 2) + _enc_varint(len(b)) + b
                for kind, no, dp_msg, c_msg in (
                    ("gauge", 5, "NumberDataPoint", "Gauge"),
                    ("sum", 7, "NumberDataPoint", "Sum"),
                    ("histogram", 9, "HistogramDataPoint", "Histogram"),
                    ("exponential_histogram", 10, "ExponentialHistogramDataPoint", "ExponentialHistogram"),
                    ("summary", 11, "SummaryDataPoint", "Summary"),
                ):
                    if kind not in metric:
                        continue
                    container = dict(metric[kind])
                    dps = container.pop("data_points", [])
                    c_body = bytearray()
                    for dp in dps:
                        b = enc_dp(dict(dp), dp_msg)
                        c_body += _enc_varint(1 << 3 | 2) + _enc_varint(len(b)) + b
                    c_body += encode_message(container, c_msg)
                    m_body += _enc_varint(no << 3 | 2) + _enc_varint(len(c_body)) + c_body
                sm_body += _enc_varint(2 << 3 | 2) + _enc_varint(len(m_body)) + m_body
            rm_body += _enc_varint(2 << 3 | 2) + _enc_varint(len(sm_body)) + sm_body
        out += _enc_varint(1 << 3 | 2) + _enc_varint(len(rm_body)) + rm_body
    return bytes(out)


def _gen_exemplar(rng: random.Random) -> dict:
    ex: dict = {"time_unix_nano": rng.randrange(0, 2**62)}
    if rng.random() < 0.5:
        ex["as_double"] = round(rng.uniform(-1e6, 1e6), 3)
    else:
        ex["as_int"] = rng.randrange(-(2**40), 2**40)
    if rng.random() < 0.6:
        ex["trace_id"] = rng.randbytes(16)
        ex["span_id"] = rng.randbytes(8)
    if rng.random() < 0.4:
        ex["filtered_attributes"] = [
            {"key": f"f{i}", "value": {"string_value": f"v{rng.randrange(9)}"}}
            for i in range(rng.randrange(1, 3))
        ]
    return ex


def _gen_attrs(rng: random.Random) -> list[dict]:
    # string/int/bool only: nested, bytes and double attribute values are
    # covered by the property strategies in test_wire_property
    vals = [
        {"string_value": "s" + str(rng.randrange(100))},
        {"int_value": rng.randrange(-(2**50), 2**50)},
        {"bool_value": rng.random() < 0.5},
    ]
    return [
        {"key": f"k{i}", "value": rng.choice(vals)}
        for i in range(rng.randrange(0, 4))
    ]


def _gen_tree(seed: int) -> dict:
    rng = random.Random(seed)
    _ns = lambda: rng.randrange(0, 2**62)

    def number_dp():
        dp = {"time_unix_nano": _ns(), "attributes": _gen_attrs(rng)}
        if rng.random() < 0.5:
            dp["as_double"] = round(rng.uniform(-1e9, 1e9), 4)
        else:
            dp["as_int"] = rng.randrange(-(2**53), 2**53)
        if rng.random() < 0.3:
            dp["start_time_unix_nano"] = _ns()
        if rng.random() < 0.5:
            dp["__exemplars__"] = [_gen_exemplar(rng) for _ in range(rng.randrange(1, 3))]
        return dp

    def hist_dp():
        n_b = rng.randrange(0, 5)
        dp = {
            "time_unix_nano": _ns(),
            "count": rng.randrange(0, 2**50),
            "sum": round(rng.uniform(0, 1e9), 4),
            "bucket_counts": [rng.randrange(0, 2**40) for _ in range(n_b + 1)] if n_b else [],
            "explicit_bounds": sorted(round(rng.uniform(-100, 1e6), 2) for _ in range(n_b)),
            "attributes": _gen_attrs(rng),
        }
        # min/max presence matrix: absent, explicit 0.0, ordinary value
        r = rng.random()
        if r < 0.33:
            dp["min"], dp["max"] = 0.0, 0.0
        elif r < 0.66:
            dp["min"] = round(rng.uniform(-1e3, 1e3), 3)
            dp["max"] = dp["min"] + abs(round(rng.uniform(0, 1e3), 3))
        if rng.random() < 0.4:
            dp["__exemplars__"] = [_gen_exemplar(rng)]
        return dp

    def exp_dp():
        def buckets():
            return {
                "offset": rng.randrange(-20, 20),
                "bucket_counts": [rng.randrange(0, 2**30) for _ in range(rng.randrange(0, 4))],
            }

        dp = {
            "time_unix_nano": _ns(),
            "count": rng.randrange(0, 2**50),
            "sum": round(rng.uniform(-1e6, 1e6), 4),
            "scale": rng.randrange(-10, 21),
            "zero_count": rng.randrange(0, 2**30),
            "attributes": _gen_attrs(rng),
        }
        if rng.random() < 0.8:
            dp["positive"] = buckets()
        if rng.random() < 0.5:
            dp["negative"] = buckets()
        if rng.random() < 0.5:
            dp["min"] = round(rng.uniform(-1e3, 0), 3)
            dp["max"] = round(rng.uniform(0, 1e3), 3)
        if rng.random() < 0.4:
            dp["__exemplars__"] = [_gen_exemplar(rng) for _ in range(rng.randrange(1, 3))]
        return dp

    def summary_dp():
        qs = sorted(rng.uniform(0, 1) for _ in range(rng.randrange(0, 4)))
        return {
            "time_unix_nano": _ns(),
            "count": rng.randrange(0, 2**40),
            "sum": round(rng.uniform(0, 1e6), 4),
            "quantile_values": [
                {"quantile": round(q, 4), "value": round(rng.uniform(0, 1e3), 4)} for q in qs
            ],
            "attributes": _gen_attrs(rng),
        }

    def metric(i: int):
        m = {"name": f"m{i}", "unit": rng.choice(["", "ms", "1", "By"])}
        if rng.random() < 0.5:
            m["description"] = f"d{i}"
        kind = rng.choice(["gauge", "sum", "histogram", "exponential_histogram", "summary"])
        if kind == "gauge":
            m["gauge"] = {"data_points": [number_dp() for _ in range(rng.randrange(1, 4))]}
        elif kind == "sum":
            m["sum"] = {
                "data_points": [number_dp() for _ in range(rng.randrange(1, 4))],
                "aggregation_temporality": rng.randrange(0, 3),
                "is_monotonic": rng.random() < 0.5,
            }
        elif kind == "histogram":
            m["histogram"] = {
                "data_points": [hist_dp() for _ in range(rng.randrange(1, 3))],
                "aggregation_temporality": rng.randrange(0, 3),
            }
        elif kind == "exponential_histogram":
            m["exponential_histogram"] = {
                "data_points": [exp_dp() for _ in range(rng.randrange(1, 3))],
                "aggregation_temporality": rng.randrange(0, 3),
            }
        else:
            m["summary"] = {"data_points": [summary_dp() for _ in range(rng.randrange(1, 3))]}
        return m

    return {
        "resource_metrics": [
            {
                "resource": {
                    "attributes": [
                        {"key": "service.name", "value": {"string_value": f"svc{seed}-{r}"}},
                        *_gen_attrs(rng),
                    ]
                },
                "scope_metrics": [
                    {
                        "scope": {
                            "name": f"scope{s}",
                            "version": rng.choice(["", "1.2.3"]),
                            "attributes": _gen_attrs(rng),
                        },
                        "metrics": [metric(i) for i in range(rng.randrange(1, 4))],
                    }
                    for s in range(rng.randrange(1, 3))
                ],
            }
            for r in range(rng.randrange(1, 3))
        ]
    }


SEEDS = range(20)


def test_exotic_metrics_frame_matches_slow_pair(spark):
    # deepcopy: _encode_request pops __exemplars__ from dp dicts in place
    pbs = [_encode_request(copy.deepcopy(_gen_tree(s))) for s in SEEDS]
    union = ingest.decode_metrics_union(
        spark.createDataFrame(
            [("", bytearray(pb), "pb") for pb in pbs], "path string, content binary, fmt string"
        )
    )

    slow_rows: dict[str, list] = {}
    slow_skipped: Counter = Counter()
    for pb in pbs:
        per_type, skipped = flatten.flatten_metrics(wire.parse_request_pb(pb, "metrics"))
        for mt, rows in per_type.items():
            slow_rows.setdefault(mt, []).extend(rows)
        slow_skipped.update(skipped)

    for mt in ("gauge", "sum", "histogram", "exponential_histogram"):
        # the golden schema's Arrow form takes the slow pair's epoch-µs ints
        # as timestamps, as the decode kernel's batches do
        schema = to_arrow_schema(schemas.spark_schema(schemas.METRIC_TABLES[mt]))
        slow = spark.createDataFrame(pa.Table.from_pylist(slow_rows[mt], schema=schema))
        a = sorted(map(tuple, ingest.metrics_table(union, mt).collect()), key=repr)
        b = sorted(map(tuple, slow.collect()), key=repr)
        assert a == b, f"{mt}: Spark frame path diverges from wire + flatten"
        # the sweep must actually exercise each type
        assert b, f"{mt}: no rows generated — strategy regression"
    sk_frame = {r.reason: r["count"] for r in ingest.skipped_metrics(union).collect()}
    assert sk_frame == {k: v for k, v in slow_skipped.items() if v}
    assert sk_frame.get("summaries", 0) > 0, "no summary points generated"
