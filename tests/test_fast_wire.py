"""Differential verification of the fused protobuf walker
(otel/fast_wire.py) against the semantic authority — wire.parse_request_pb
+ flatten.flatten_logs — over Hypothesis-generated requests, BOTH field
orders (protobuf fields may arrive in any order), reference fixtures, and
slow-lane quirk cases (duplicate fields, multi-member AnyValue,
wrong-wire-type skips)."""

from __future__ import annotations

import struct

from hypothesis import given, settings

from otlp2parquet_spark.otel import fast_wire, flatten, wire

from otlp_fixtures import testdata_dir
from test_wire_property import _enc_varint, _logs_request, encode_message


def encode_message_reversed(obj: dict, msg: str) -> bytes:
    """Same encoding, fields emitted in REVERSE declaration order — the
    slow lane is order-insensitive, so the fused lane must be too."""
    desc = wire.DESCRIPTORS[msg]
    by_name = {name: (no, kind, rep) for no, (name, kind, rep) in desc.items()}
    out = bytearray()
    for name in reversed(list(obj)):
        val = obj[name]
        no, kind, rep = by_name[name]
        vals = val if rep else [val]
        for v in reversed(vals) if rep else vals:
            if kind.startswith("msg:"):
                bodyb = encode_message_reversed(v, kind[4:])
                out += _enc_varint(no << 3 | 2) + _enc_varint(len(bodyb)) + bodyb
            elif kind == "string":
                b = v.encode("utf-8")
                out += _enc_varint(no << 3 | 2) + _enc_varint(len(b)) + b
            elif kind == "bytes":
                out += _enc_varint(no << 3 | 2) + _enc_varint(len(v)) + v
            elif kind == "double":
                out += _enc_varint(no << 3 | 1) + struct.pack("<d", v)
            elif kind == "fixed64":
                out += _enc_varint(no << 3 | 1) + struct.pack("<Q", v)
            elif kind == "fixed32":
                out += _enc_varint(no << 3 | 5) + struct.pack("<I", v)
            elif kind == "bool":
                out += _enc_varint(no << 3 | 0) + _enc_varint(1 if v else 0)
            else:  # varint int64/uint64/int32/uint32/enum/sint handled upstream
                out += _enc_varint(no << 3 | 0) + _enc_varint(v & 0xFFFFFFFFFFFFFFFF)
    return bytes(out)


def _slow(pb: bytes):
    return flatten.flatten_logs(wire.parse_request_pb(pb, "logs"))


@settings(max_examples=200, deadline=None)
@given(_logs_request)
def test_fused_pb_matches_slow(tree):
    pb = encode_message(tree, "ExportLogsServiceRequest")
    assert fast_wire.flatten_logs_pb(pb) == _slow(pb)


@settings(max_examples=200, deadline=None)
@given(_logs_request)
def test_fused_pb_matches_slow_reversed_order(tree):
    pb = encode_message_reversed(tree, "ExportLogsServiceRequest")
    assert fast_wire.flatten_logs_pb(pb) == _slow(pb)


def test_reference_fixture_parity():
    pb = open(f"{testdata_dir()}/logs.pb", "rb").read()
    assert fast_wire.flatten_logs_pb(pb) == _slow(pb)
    # concatenated payloads parse as one request with repeated resource_logs
    assert fast_wire.flatten_logs_pb(pb * 3) == _slow(pb * 3)


def test_duplicate_scalar_and_message_fields_last_wins():
    # two resource submessages on one ResourceLogs: slow lane keeps ONLY
    # the last (no proto3 merge)
    res1 = encode_message(
        {"attributes": [{"key": "a", "value": {"string_value": "one"}}]}, "Resource"
    )
    res2 = encode_message(
        {"attributes": [{"key": "b", "value": {"string_value": "two"}}]}, "Resource"
    )
    rec = encode_message({"severity_text": "x"}, "LogRecord")
    sl = _enc_varint(0x12) + _enc_varint(len(rec)) + rec
    rl_body = (
        _enc_varint(0x0A) + _enc_varint(len(res1)) + res1
        + _enc_varint(0x0A) + _enc_varint(len(res2)) + res2
        + _enc_varint(0x12) + _enc_varint(len(sl)) + sl
    )
    pb = _enc_varint(0x0A) + _enc_varint(len(rl_body)) + rl_body
    slow = _slow(pb)
    fast = fast_wire.flatten_logs_pb(pb)
    assert fast == slow
    assert slow[0]["ResourceAttributes"] == '{"b":"two"}'


def test_multi_member_anyvalue_priority():
    # body carrying int AND string members: string wins regardless of order
    val = (
        _enc_varint(0x18) + _enc_varint(7)                      # int_value 7
        + _enc_varint(0x0A) + _enc_varint(2) + b"hi"            # string_value
    )
    rec_body = _enc_varint(0x2A) + _enc_varint(len(val)) + val  # body
    rec = rec_body
    sl = _enc_varint(0x12) + _enc_varint(len(rec)) + rec
    rl_body = _enc_varint(0x12) + _enc_varint(len(sl)) + sl
    pb = _enc_varint(0x0A) + _enc_varint(len(rl_body)) + rl_body
    slow = _slow(pb)
    fast = fast_wire.flatten_logs_pb(pb)
    assert fast == slow
    assert slow[0]["Body"] == '"hi"'


def test_wrong_wire_type_field_skipped():
    # time_unix_nano (field 1, fixed64) sent as varint -> both lanes skip it
    rec = _enc_varint(0x08) + _enc_varint(123)  # field 1, wire 0
    sl = _enc_varint(0x12) + _enc_varint(len(rec)) + rec
    rl_body = _enc_varint(0x12) + _enc_varint(len(sl)) + sl
    pb = _enc_varint(0x0A) + _enc_varint(len(rl_body)) + rl_body
    slow = _slow(pb)
    fast = fast_wire.flatten_logs_pb(pb)
    assert fast == slow
    assert slow[0]["Timestamp"] == 0


def test_truncated_payload_rejected_by_both():
    import pytest

    pb = open(f"{testdata_dir()}/logs.pb", "rb").read()
    for cut in (pb[: len(pb) // 2], pb[:-1], b"\x0a\xff\xff\xff\xff\x7f"):
        slow_err = fast_err = None
        try:
            _slow(cut)
        except wire.OtlpDecodeError as e:
            slow_err = e
        try:
            fast_wire.flatten_logs_pb(cut)
        except wire.OtlpDecodeError as e:
            fast_err = e
        assert (slow_err is None) == (fast_err is None), cut[:20]


from test_wire_property import _traces_request  # noqa: E402


def _slow_traces(pb: bytes):
    return flatten.flatten_traces(wire.parse_request_pb(pb, "traces"))


@settings(max_examples=200, deadline=None)
@given(_traces_request)
def test_fused_traces_pb_matches_slow(tree):
    pb = encode_message(tree, "ExportTraceServiceRequest")
    assert fast_wire.flatten_traces_pb(pb) == _slow_traces(pb)


@settings(max_examples=200, deadline=None)
@given(_traces_request)
def test_fused_traces_pb_matches_slow_reversed_order(tree):
    pb = encode_message_reversed(tree, "ExportTraceServiceRequest")
    assert fast_wire.flatten_traces_pb(pb) == _slow_traces(pb)


def test_traces_fixture_parity():
    for fx in ("traces.pb", "trace.pb"):
        pb = open(f"{testdata_dir()}/{fx}", "rb").read()
        assert fast_wire.flatten_traces_pb(pb) == _slow_traces(pb)
        assert fast_wire.flatten_traces_pb(pb * 2) == _slow_traces(pb * 2)


from test_wire_property import _metrics_request  # noqa: E402


def _slow_metrics(pb: bytes):
    return flatten.flatten_metrics(wire.parse_request_pb(pb, "metrics"))


@settings(max_examples=150, deadline=None)
@given(_metrics_request)
def test_fused_metrics_pb_matches_slow(tree):
    pb = encode_message(tree, "ExportMetricsServiceRequest")
    assert fast_wire.flatten_metrics_pb(pb) == _slow_metrics(pb)


@settings(max_examples=150, deadline=None)
@given(_metrics_request)
def test_fused_metrics_pb_matches_slow_reversed_order(tree):
    pb = encode_message_reversed(tree, "ExportMetricsServiceRequest")
    assert fast_wire.flatten_metrics_pb(pb) == _slow_metrics(pb)


def test_metrics_fixture_and_exotic_parity():
    import copy
    import glob

    from test_metrics_exotic import _encode_request, _gen_tree

    fixtures = sorted(glob.glob(f"{testdata_dir()}/metrics_*.pb"))
    assert len(fixtures) == 6, fixtures  # gauge, sum, histogram, exp, summary, mixed
    for fx in fixtures:
        pb = open(fx, "rb").read()
        assert fast_wire.flatten_metrics_pb(pb) == _slow_metrics(pb), fx
        assert fast_wire.flatten_metrics_pb(pb * 3) == _slow_metrics(pb * 3), fx
    # exotic seeds: exp-histogram geometry, exemplars, min/max presence,
    # multi-member nesting — the same generator the Spark frame-path sweep uses
    for seed in range(40):
        pb = _encode_request(copy.deepcopy(_gen_tree(seed)))
        assert fast_wire.flatten_metrics_pb(pb) == _slow_metrics(pb), seed


def test_metrics_data_member_priority():
    # a Metric carrying BOTH gauge and sum members: flatten's elif chain
    # picks gauge regardless of wire order — the fused walker must too
    dp = encode_message({"time_unix_nano": 5, "as_double": 1.5}, "NumberDataPoint")
    gauge = _enc_varint(0x0A) + _enc_varint(len(dp)) + dp
    s_body = (
        _enc_varint(0x0A) + _enc_varint(len(dp)) + dp
        + _enc_varint(0x10) + _enc_varint(1)  # temporality DELTA
    )
    m_body = (
        _enc_varint(0x3A) + _enc_varint(len(s_body)) + s_body  # sum FIRST on wire
        + _enc_varint(0x2A) + _enc_varint(len(gauge)) + gauge  # gauge second
    )
    sm = _enc_varint(0x12) + _enc_varint(len(m_body)) + m_body
    rm = _enc_varint(0x12) + _enc_varint(len(sm)) + sm
    pb = _enc_varint(0x0A) + _enc_varint(len(rm)) + rm
    slow = _slow_metrics(pb)
    fast = fast_wire.flatten_metrics_pb(pb)
    assert fast == slow
    assert slow[0]["gauge"] and not slow[0]["sum"]


def test_truncated_traces_and_metrics_rejected_by_both():
    for fx, fn, slow in (
        ("traces.pb", fast_wire.flatten_traces_pb, _slow_traces),
        ("metrics_mixed.pb", fast_wire.flatten_metrics_pb, _slow_metrics),
    ):
        pb = open(f"{testdata_dir()}/{fx}", "rb").read()
        for cut in (pb[: len(pb) // 2], pb[:-1], pb[:-7]):
            slow_err = fast_err = None
            try:
                slow(cut)
            except wire.OtlpDecodeError as e:
                slow_err = e
            try:
                fn(cut)
            except wire.OtlpDecodeError as e:
                fast_err = e
            assert (slow_err is None) == (fast_err is None), (fx, len(cut))


def test_memo_lru_touch_protects_hot_working_set():
    """_memo_get must refresh recency on hit so _memo_evict_half evicts the
    least-recently-USED half: a hot key inserted first but hit continuously
    survives the cut; cold early keys do not (code-review r7 — plain
    insertion-order eviction dropped hot sets inserted early wholesale)."""
    memo: dict = {}
    memo["hot"] = "H"
    for i in range(9):
        memo[f"cold{i}"] = i
    # continuous hits on the hot key while cold churn fills the memo
    assert fast_wire._memo_get(memo, "hot") == "H"
    assert fast_wire._memo_get(memo, "missing") is fast_wire._MEMO_MISS
    fast_wire._memo_evict_half(memo)  # drops the LRU half (5 of 10)
    assert "hot" in memo  # touched most recently -> survived
    assert "cold0" not in memo and "cold3" not in memo
    # None is a legitimate cached value, distinct from a miss
    memo["none-key"] = None
    assert fast_wire._memo_get(memo, "none-key") is None
