"""SURVEY §2.2 queries over REAL ingested otel tables (docs/querying.md
shapes), cross-checked against DuckDB over the same written layout."""

from __future__ import annotations

import shutil

import duckdb
import pytest

from pyspark.sql import functions as F

from otlp2parquet_spark.otel import ingest, writer
from otlp2parquet_spark.queries import otel as oq
from otlp_fixtures import testdata_dir

TD = testdata_dir()


@pytest.fixture(scope="module")
def otel_root(spark, tmp_path_factory):
    """Ingest every fixture signal into a parity layout once."""
    landing = tmp_path_factory.mktemp("landing")
    out = str(tmp_path_factory.mktemp("otel_out"))
    for sig, stems in [
        ("logs", ["logs"]),
        ("traces", ["traces"]),
        ("metrics", ["metrics_gauge", "metrics_sum", "metrics_histogram",
                     "metrics_exponential_histogram", "metrics_mixed"]),
    ]:
        d = landing / sig
        d.mkdir()
        for stem in stems:
            shutil.copy(f"{TD}/{stem}.pb", d / f"{stem}.pb")
        tables = ingest.ingest_directory(spark, str(d), sig)
        for name, df in tables.items():
            if not name.startswith("_"):
                writer.write_partitioned(df, name, out).collect()
    oq.register_otel_views(spark, out)
    return out


def test_q1_recent_logs(spark, otel_root):
    rows = oq.recent_logs(spark, 10).collect()
    assert len(rows) == 10
    assert rows[0].Timestamp >= rows[-1].Timestamp


def test_q3_logs_by_service_matches_duckdb(spark, otel_root):
    mine = {(r.ServiceName, r.log_count) for r in oq.logs_by_service(spark).collect()}
    ref = set(
        duckdb.sql(
            f"SELECT ServiceName, count(*) FROM read_parquet('{otel_root}/logs/**/*.parquet')"
            " GROUP BY ServiceName"
        ).fetchall()
    )
    assert mine == ref and len(mine) >= 5


def test_q5_q6_trace_filters(spark, otel_root):
    # fixture spans are all STATUS_CODE_UNSET and < 5s -> empty results,
    # but the plans must execute and project the documented columns
    assert oq.error_traces(spark).columns == [
        "Timestamp", "ServiceName", "SpanName", "Duration", "StatusMessage"
    ]
    assert oq.error_traces(spark).count() == 0
    slow = oq.slow_traces(spark, threshold_ns=100_000_000)  # >100ms
    got = slow.collect()
    assert all(r.duration_seconds == r.Duration / 1e9 for r in got)
    assert got  # several fixture spans exceed 100ms


def test_q7_metrics_hourly(spark, otel_root):
    rows = oq.metrics_hourly(spark).collect()
    assert rows and all(r.n >= 1 for r in rows)
    names = {r.MetricName for r in rows}
    assert "cpu.usage" in names


def test_q8_histogram_p95(spark, otel_root):
    rows = oq.histogram_p95(spark).collect()
    assert rows
    for r in rows:
        # p95 bound is one of the explicit bounds or NULL (overflow bucket)
        assert r.p95_upper_bound is None or r.p95_upper_bound > 0


def test_q8_p95_walk_is_correct(spark, otel_root):
    """Check the cumulative walk against a hand computation per row."""
    import math

    h = spark.table("otel_metrics_histogram").select(
        "Count", "BucketCounts", "ExplicitBounds"
    ).collect()
    got = {r.Count: r.p95_upper_bound for r in oq.histogram_p95(spark).collect()}
    for r in h:
        rank = math.ceil(0.95 * r.Count)
        cum = 0
        expect = None
        for i, c in enumerate(r.BucketCounts):
            cum += c
            if cum >= rank:
                expect = r.ExplicitBounds[i] if i < len(r.ExplicitBounds) else None
                break
        assert got[r.Count] == expect


def _py_exp_hist_p95(r):
    """Pure-Python reference: walk negatives (value-ascending = index-
    descending), zero bucket, positives to rank ceil(0.95*Count)."""
    import math

    rank = math.ceil(0.95 * r.Count)
    if r.Count == 0:
        return None
    base = 2.0 ** (2.0 ** -r.Scale)
    neg = list(r.NegativeBucketCounts or [])
    neg_total = sum(neg)
    if neg_total >= rank:
        for j in range(len(neg) - 1, -1, -1):
            if sum(neg[j:]) >= rank:
                return -(base ** (r.NegativeOffset + j))
    if neg_total + r.ZeroCount >= rank:
        return 0.0
    cum = neg_total + r.ZeroCount
    for i, c in enumerate(r.PositiveBucketCounts):
        cum += c
        if cum >= rank:
            return base ** (r.PositiveOffset + i + 1)
    return None


def test_exp_histogram_p95_walk_is_correct(spark, otel_root):
    """Check the exponential-histogram cumulative walk against the pure
    Python reference per golden row (the golden rows carry empty negative
    arrays — the negative branch is pinned by the synthetic test below)."""
    import pytest as _pt

    h = spark.table("otel_metrics_exponential_histogram").select(
        "Count", "Scale", "ZeroCount", "PositiveOffset", "PositiveBucketCounts",
        "NegativeOffset", "NegativeBucketCounts",
    ).collect()
    assert h  # the golden fixture ingested rows
    got = {
        (r.Count, r.ZeroCount): r.p95_upper_bound
        for r in oq.exp_histogram_p95(spark).collect()
    }
    for r in h:
        expect = _py_exp_hist_p95(r)
        key = (r.Count, r.ZeroCount)
        if expect is None:
            assert got[key] is None, key
        else:
            assert got[key] == _pt.approx(expect, rel=1e-12), key


def test_exp_histogram_p95_negative_buckets(spark):
    """Mostly-negative / mixed / zero-heavy crafted datapoints: the walk
    must traverse negative buckets in VALUE order (descending index) and
    report the covering bucket's least-negative edge -base^(negOffset+j);
    a negative-blind walk (the r9 review finding) reports 0.0 or a wrong
    positive bound on every one of these."""
    import datetime as _dt

    import pytest as _pt

    rows = [
        # (Count, Scale, Zero, PosOff, Pos[], NegOff, Neg[])
        (100, 0, 0, 0, [], 1, [10, 20, 70]),      # all negative
        (100, 1, 5, 0, [3], 0, [60, 32]),         # rank 95 in negatives
        (100, 0, 60, 0, [10], 0, [25]),           # rank in zero bucket
        (100, 0, 10, 2, [50, 35], 0, [5]),        # rank in positives
        (0, 0, 0, 0, [], 0, []),                  # empty -> NULL
    ]
    ts = _dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (ts, f"m{k}", c, s, z, po, p, no, n)
            for k, (c, s, z, po, p, no, n) in enumerate(rows)
        ],
        "Timestamp timestamp, MetricName string, Count long, Scale int, "
        "ZeroCount long, PositiveOffset int, PositiveBucketCounts array<long>, "
        "NegativeOffset int, NegativeBucketCounts array<long>",
    )
    got = {
        r.MetricName: r.p95_upper_bound
        for r in oq.exp_histogram_p95(spark, df=df).collect()
    }
    import collections

    Row = collections.namedtuple(
        "Row",
        "Count Scale ZeroCount PositiveOffset PositiveBucketCounts "
        "NegativeOffset NegativeBucketCounts",
    )
    for k, (c, s, z, po, p, no, n) in enumerate(rows):
        expect = _py_exp_hist_p95(Row(c, s, z, po, p, no, n))
        if expect is None:
            assert got[f"m{k}"] is None, k
        else:
            assert got[f"m{k}"] == _pt.approx(expect, rel=1e-12), k
    # spot-check the hand math: m0 rank 95, suffix sums [100, 90, 70] ->
    # largest j with suf >= 95 is j=0 -> bound = -(2^(1+0)) = -2.0
    assert got["m0"] == _pt.approx(-2.0)


def test_q9_hex_bridge_join(spark, otel_root):
    """logs(binary TraceId) ⋈ traces(hex TraceId) via lower(hex()) bridge.

    The fixtures were generated independently per signal (different base
    timestamps) so the join is empty — assert the bridge itself: hex forms
    of logs ids are well-formed 32-char lowercase strings joinable against
    the traces id domain."""
    df = oq.logs_with_traces(spark)
    df.collect()  # plan executes
    hexids = spark.table("otel_logs").selectExpr("lower(hex(TraceId)) AS h").collect()
    assert all(len(r.h) == 32 for r in hexids)


def test_q10_table_counts(spark, otel_root):
    counts = {r.table_name: r.n for r in oq.table_counts(spark, otel_root).collect()}
    assert counts["otel_logs"] == 81
    assert counts["otel_traces"] == 19
    assert counts["otel_metrics_gauge"] == 4  # 3 + 1 from metrics_mixed
    assert counts["otel_metrics_sum"] == 5
    assert counts["otel_metrics_histogram"] == 4
    assert counts["otel_metrics_exponential_histogram"] == 2


def test_q11_partition_pruning_native(spark, tmp_path):
    """Native layout: a service+hour predicate prunes partitions (the scan's
    partitionFilters show the pushed keys)."""
    import shutil as sh

    landing = tmp_path / "l"
    landing.mkdir()
    sh.copy(f"{TD}/logs.pb", landing / "logs.pb")
    p, _ = ingest.read_landing_auto(spark, str(landing))
    df = ingest.decode_logs(p)
    root = str(tmp_path / "native")
    writer.write_native(df, "otel_logs", root)
    back = writer.read_table(spark, root, "otel_logs", layout="native")
    pruned = back.filter((back.service == "cart") & (back.hour == 22))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "service" in plan
    assert pruned.count() > 0


def test_q12_data_filter_pushdown_and_projection(spark, tmp_path):
    """Q12 (docs/querying.md:166-184): data filters reach the parquet scan
    (PushedFilters) and the projection prunes columns (ReadSchema), for both
    a severity predicate and a timestamp range."""
    import shutil as sh

    landing = tmp_path / "l12"
    landing.mkdir()
    sh.copy(f"{TD}/logs.pb", landing / "logs.pb")
    p, _ = ingest.read_landing_auto(spark, str(landing))
    root = str(tmp_path / "native12")
    writer.write_native(ingest.decode_logs(p), "otel_logs", root)
    back = writer.read_table(spark, root, "otel_logs", layout="native")

    q = back.filter(F.col("SeverityText") == "ERROR").select("ServiceName", "Timestamp", "Body")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "SeverityText" in plan.split("PushedFilters")[1][:200]
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("ServiceName", "Timestamp", "Body", "SeverityText"):
        assert col in read_schema
    assert "LogAttributes" not in read_schema  # untouched wide column pruned

    import datetime

    ts = datetime.datetime(2025, 1, 1)
    q2 = back.filter(F.col("Timestamp") >= ts).select("Timestamp")
    plan2 = q2._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan2 and "Timestamp" in plan2.split("PushedFilters")[1][:200]


def test_exp_histogram_negative_buckets_end_to_end(spark, tmp_path):
    """Non-empty NegativeBucketCounts through the REAL pipeline (r9 pinned
    the negative walk only on a crafted in-memory frame): an OTLP/JSON
    export request with signed exp-histogram datapoints is ingested
    (decode -> flatten -> partitioned parquet), read back, and the walk
    over the INGESTED table must match the pure-Python reference —
    including a datapoint whose p95 lands inside a negative bucket."""
    import collections
    import json as _json

    import pytest as _pt

    def dp(count, scale, zero, pos_off, pos, neg_off, neg, ts):
        d = {
            "timeUnixNano": str(ts),
            "count": str(count),
            "sum": 0.0,
            "scale": scale,
            "zeroCount": str(zero),
            "positive": {"offset": pos_off, "bucketCounts": [str(c) for c in pos]},
            "negative": {"offset": neg_off, "bucketCounts": [str(c) for c in neg]},
        }
        return d

    rows = [
        # (Count, Scale, Zero, PosOff, Pos[], NegOff, Neg[])
        (100, 0, 0, 0, [], 1, [10, 20, 70]),   # p95 inside negatives
        (100, 1, 5, 0, [3], 0, [60, 32]),      # rank 95 in negatives
        (100, 0, 10, 2, [50, 35], 0, [5]),     # rank in positives, negs present
    ]
    base_ts = 1705327800000000000
    req = {
        "resourceMetrics": [{
            "resource": {"attributes": [
                {"key": "service.name", "value": {"stringValue": "signed-svc"}}
            ]},
            "scopeMetrics": [{
                "scope": {"name": "t", "version": "1"},
                "metrics": [{
                    "name": "signed.latency",
                    "unit": "ms",
                    "exponentialHistogram": {
                        "aggregationTemporality": 2,
                        "dataPoints": [
                            dp(c, s, z, po, p, no, n, base_ts + k)
                            for k, (c, s, z, po, p, no, n) in enumerate(rows)
                        ],
                    },
                }],
            }],
        }]
    }
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "signed_exp.json").write_text(_json.dumps(req))
    out = str(tmp_path / "out")
    tables = ingest.ingest_directory(spark, str(landing), "metrics")
    for name, df in tables.items():
        if not name.startswith("_"):
            writer.write_partitioned(df, name, out).collect()

    back = writer.read_table(spark, out, "otel_metrics_exponential_histogram")
    got_rows = back.select(
        "Count", "Scale", "ZeroCount", "PositiveOffset", "PositiveBucketCounts",
        "NegativeOffset", "NegativeBucketCounts",
    ).collect()
    assert len(got_rows) == len(rows)
    # the ingested arrays are the planted ones (non-empty negatives)
    by_count_zero = {(r.Count, r.ZeroCount): r for r in got_rows}
    for c, s, z, po, p, no, n in rows:
        r = by_count_zero[(c, z)]
        assert list(r.NegativeBucketCounts) == n, (c, z)
        assert r.NegativeOffset == no

    walked = {
        (r.Count, r.ZeroCount): r.p95_upper_bound
        for r in oq.exp_histogram_p95(spark, df=back).collect()
    }
    Row = collections.namedtuple(
        "Row",
        "Count Scale ZeroCount PositiveOffset PositiveBucketCounts "
        "NegativeOffset NegativeBucketCounts",
    )
    saw_negative_bound = False
    for c, s, z, po, p, no, n in rows:
        expect = _py_exp_hist_p95(Row(c, s, z, po, p, no, n))
        assert walked[(c, z)] == _pt.approx(expect, rel=1e-12), (c, z)
        saw_negative_bound = saw_negative_bound or (expect is not None and expect < 0)
    assert saw_negative_bound  # the branch r9's bug broke is load-bearing
