"""Workload `query`: reads only. Set-up ingests a seeded landing dir into a
parity layout (the traced run also generates the star-schema tables); the
run then times two query sets, each query as its build function
(`spec.build` or a `queries.otel` function) followed by a `noop` write:

- the documented OTel queries of `queries/otel.py` (Q1, Q3-Q10 and
  `exp_histogram_p95`; Q2 depends on `now()`);
- 9 registry operators, one per query module, in the traced run only.

The first pass of each set collects every result instead and compares it
with DuckDB over the same Parquet files; for the OTel queries it is the cold
pass. Warm passes repeat the OTel queries.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
from collections import defaultdict

import gen
from ingest_batch import ingest_rep, noop
from spans import latency_stats, sum_counters

sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
import oracle_util  # noqa: E402  (the test suite's DuckDB-oracle comparison)

# Many small requests, the services in turn: every (service, hour) group
# then lands in every table, so the file count, and with it the stored bytes
# per row, does not swing with the seed.
LANDING = dict(
    log_requests=48, log_records=50,
    trace_requests=48, trace_spans=20,
    metric_requests=32, metric_points=8,
    every_service=True,
)
SF = 0.002
# One operator per query module, each with a DuckDB oracle. Where the
# module's operator of choice costs more than 5 s cold at this scale, a
# cheaper one stands in: x6_e2e_pipeline for t21_funnel_skeleton (17 s),
# x1_exact_dedup for x6_dedup_funnel (5-8 s) and x4_text_stats for
# x4_ngram_lm_score (5 s). Together they cost about 10 s cold, so only the
# traced run, which reports them per module, runs them.
OPERATORS = (
    "a1_tpch_q1", "q08_histogram_p95", "u3_grouped_agg_pandas_udf",
    "x1_exact_dedup", "x3_knn_join", "x4_text_stats", "x5_png_resize",
    "x6_e2e_pipeline", "t2_sliding_window",
)
MIN_WARM_PASSES = 3  # 30 warm OTel query runs: a p66 tail with ten runs beyond it
OTEL_TABLES = (
    "otel_logs", "otel_traces", "otel_metrics_gauge", "otel_metrics_sum",
    "otel_metrics_histogram", "otel_metrics_exponential_histogram",
)


def otel_queries(root: str):
    """name -> (build(spark), DuckDB SQL or a Python check over DuckDB rows)."""
    from otlp2parquet_spark.queries import otel as q

    counts = " UNION ALL ".join(
        f"SELECT '{t}' AS table_name, count(*) AS n FROM {t}" for t in OTEL_TABLES
    )
    return {
        "otel_q01_recent_logs": (q.recent_logs, """
            SELECT Timestamp, ServiceName, Body FROM otel_logs
            ORDER BY Timestamp DESC LIMIT 10"""),
        "otel_q03_logs_by_service": (q.logs_by_service, """
            SELECT ServiceName, count(*) AS log_count FROM otel_logs GROUP BY 1"""),
        "otel_q04_recent_errors": (q.recent_errors, """
            SELECT Timestamp, ServiceName, SeverityText, Body FROM otel_logs
            WHERE SeverityText IN ('ERROR', 'FATAL') ORDER BY Timestamp DESC LIMIT 50"""),
        "otel_q05_error_traces": (q.error_traces, """
            SELECT Timestamp, ServiceName, SpanName, Duration, StatusMessage FROM otel_traces
            WHERE StatusCode = 'STATUS_CODE_ERROR' ORDER BY Duration DESC LIMIT 20"""),
        "otel_q06_slow_traces": (q.slow_traces, """
            SELECT Timestamp, ServiceName, SpanName, Duration, Duration / 1e9 AS duration_seconds
            FROM otel_traces WHERE Duration > 5000000000"""),
        "otel_q07_metrics_hourly": (q.metrics_hourly, """
            SELECT date_trunc('hour', Timestamp) AS hour, MetricName,
                   avg(Value) AS avg_value, count(*) AS n
            FROM otel_metrics_gauge GROUP BY ALL"""),
        "otel_q08_histogram_p95": (q.histogram_p95, _hist_p95),
        "otel_q09_logs_with_traces": (q.logs_with_traces, """
            SELECT l.Timestamp AS log_time, l.ServiceName AS log_service, l.Body,
                   t.SpanName, t.Duration
            FROM otel_logs l JOIN otel_traces t ON lower(hex(l.TraceId)) = t.TraceId
            WHERE l.SeverityText IN ('ERROR', 'FATAL', 'INFO')"""),
        "otel_q10_table_counts": (lambda spark: q.table_counts(spark, root), counts),
        "otel_exp_histogram_p95": (q.exp_histogram_p95, _exp_hist_p95),
    }


def _first_reaching(cum, rank):
    return next((i for i, c in enumerate(cum) if c >= rank), None)


def _hist_p95(con):
    rows = con.execute(
        "SELECT Timestamp, MetricName, Count, BucketCounts, ExplicitBounds "
        "FROM otel_metrics_histogram").fetchall()
    out = []
    for ts, name, count, counts, bounds in rows:
        cum = [sum(counts[: i + 1]) for i in range(len(counts))]
        i = _first_reaching(cum, math.ceil(0.95 * count))
        p95 = None if count == 0 or i is None or i >= len(bounds) else bounds[i]
        out.append((ts, name, count, p95))
    return ["Timestamp", "MetricName", "Count", "p95_upper_bound"], out


def _exp_hist_p95(con):
    rows = con.execute(
        "SELECT Timestamp, MetricName, Count, Scale, ZeroCount, PositiveOffset, "
        "PositiveBucketCounts, NegativeOffset, NegativeBucketCounts "
        "FROM otel_metrics_exponential_histogram").fetchall()
    out = []
    for ts, name, count, scale, zero, poff, pos, noff, neg in rows:
        rank, base = math.ceil(0.95 * count), 2.0 ** (2.0 ** -scale)
        if count == 0:
            p95 = None
        elif sum(neg) >= rank:
            j = max(j for j in range(len(neg)) if sum(neg[j:]) >= rank)
            p95 = -(base ** (noff + j))
        elif sum(neg) + zero >= rank:
            p95 = 0.0
        else:
            i = _first_reaching([sum(neg) + zero + sum(pos[: k + 1]) for k in range(len(pos))], rank)
            p95 = None if i is None else base ** (poff + i + 1)
        out.append((ts, name, count, scale, zero, p95))
    return ["Timestamp", "MetricName", "Count", "Scale", "ZeroCount", "p95_upper_bound"], out


class Collected:
    """A frame's result, collected once. It stands in for the frame in
    `oracle_util.compare`, which reads `columns`, `schema` and `collect()`,
    so the collect is timed as the query's execution and checked later."""

    def __init__(self, df) -> None:
        self.columns, self.schema = df.columns, df.schema
        self.rows = df.collect()

    def collect(self):
        return self.rows


def check_result(result: Collected, con, oracle) -> list[str]:
    """Differences between a collected result and its oracle: DuckDB SQL
    through the test suite's strict comparison, or a Python oracle over
    DuckDB rows (the p95s) compared as canonical rows."""
    if not callable(oracle):
        return oracle_util.compare(result, con, oracle)
    want = oracle_util.canon_rows(*oracle(con))
    got = oracle_util.canon_rows(result.columns, [tuple(r) for r in result.rows])
    return [] if got == want else [f"{len(got)} rows differ from the {len(want)} expected"]


# ---------------------------------------------------------------------------


def module_of(fn) -> str:
    return fn.__module__.removeprefix("otlp2parquet_spark.")


def run(ctx, session_s: float):
    import duckdb

    from otlp2parquet_spark.queries import otel

    spark, tr = ctx.spark, ctx.tracer
    landing, root, sf_dir = ctx.path("landing"), ctx.path("layout"), ctx.path("sf")
    with tr.span("bench.generate") as gsp:
        manifest = gen.write_landing(landing, ctx.seed, **LANDING)
        if ctx.trace:
            gen.write_tables(sf_dir, ctx.seed, SF)

    # set-up: the layout the OTel queries read (a cold rep, the signals at
    # once), and the views over it
    t0 = time.perf_counter()
    layout_s, _, acct, _ = ingest_rep(ctx, landing, root, 200_000, "layout", threads=True)
    rows = sum(r["rows"] for r in acct)
    nbytes = sum(os.path.getsize(r["path"]) for r in acct)
    ctx.check(rows == manifest.total_rows, f"query.setup_rows {rows} != {manifest.total_rows}")
    with tr.span("queries.otel.register_views") as rsp:
        otel.register_otel_views(spark, root)

    def oracle_db():
        """DuckDB views over the same Parquet files the queries read."""
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        for t in OTEL_TABLES:
            path = os.path.join(root, *otel.schemas.TABLE_PATH_SEGMENT[t].split("/"), "**", "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}', hive_partitioning = false)")
        if ctx.trace:
            for t in os.listdir(sf_dir):
                con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}')")
        return con

    # (layer, name, build, DuckDB oracle)
    otel_plan = [("queries.otel", n, b, o) for n, (b, o) in otel_queries(root).items()]

    def one(layer, name, build, collect, phase):
        """(wall, build, exec, result); the wall leaves out the traced run's
        counter reads of the two inner spans, as each span's own wall does."""
        with tr.span(f"{layer}.query", query=name, phase=phase) as qsp:
            reads = tr.counter_s
            with tr.span(f"{layer}.build", query=name, phase=phase) as bsp:
                df = build(spark)
            with tr.span(f"{layer}.exec", query=name, phase=phase) as esp:
                result = Collected(df) if collect else noop(df)
            reads = tr.counter_s - reads
        return qsp.seconds - reads, bsp.seconds, esp.seconds, result

    def first_pass(plan):
        """Each query once, collected; returns (wall, layer -> query ->
        (build, exec), results)."""
        wall, times, results = 0.0, defaultdict(dict), []
        for layer, name, build, _ in plan:
            w, b, e, result = one(layer, name, build, True, "cold")
            wall += w
            times[layer][name] = (b, e)
            results.append(result)
        return wall, times, results

    def check(plan, results):
        for (_, name, _, oracle), result in zip(plan, results):
            diffs = check_result(result, con, oracle)
            ctx.check(not diffs, f"query.{name}.oracle {diffs[:3]}")

    cold, cold_times, results = first_pass(otel_plan)
    # the cold pass happens once per JVM: one sample per run, set-up work
    setup_s = session_s + time.perf_counter() - t0
    con = oracle_db()
    check(otel_plan, results)
    # Warm passes repeat the OTel queries for --seconds, and at least
    # MIN_WARM_PASSES times.
    walls, warm_times = defaultdict(list), defaultdict(list)
    passes, t_window = 0, time.perf_counter()
    while passes < MIN_WARM_PASSES or time.perf_counter() - t_window < ctx.seconds:
        for layer, name, build, _ in otel_plan:
            wall, b, e, _ = one(layer, name, build, False, "warm")
            walls[name].append(wall)
            warm_times[name].append((b, e))
        passes += 1
    # the operators come after every timed OTel query, so that running them
    # leaves the end-to-end values of the traced run comparable
    operators_s = 0.0
    if ctx.trace:
        from otlp2parquet_spark.queries.registry import all_specs

        specs = all_specs()
        operator_plan = [
            (module_of(specs[n].build), n, lambda s, b=specs[n].build: b(s, sf_dir), specs[n].oracle)
            for n in OPERATORS
        ]
        operators_s, op_times, results = first_pass(operator_plan)
        cold_times.update(op_times)
        check(operator_plan, results)
    con.close()

    p50, tail = latency_stats([w for ws in walls.values() for w in ws])
    e2e = {
        "setup_s": setup_s,
        "work_s": sum(statistics.median(ws) for ws in walls.values()),
        "latency_s_p50": p50,
        "latency_s_tail": tail,
        "stored_bytes_per_row": nbytes / rows,
    }
    layers = {
        "bench.generate_s": gsp.seconds,
        "queries.otel.register_views_s": rsp.seconds,
        "queries.layout_ingest_s": layout_s,
        "queries.cold_pass_s": cold,
        "queries.operator_suite_s": operators_s,
        "queries.otel.build_s": sum(statistics.median(b for b, _ in v) for v in warm_times.values()),
        "queries.otel.exec_s": sum(statistics.median(e for _, e in v) for v in warm_times.values()),
    }
    modules = [layer for layer in cold_times if layer != "queries.otel"]
    for layer in modules:
        layers[f"{layer}.build_s"] = sum(b for b, _ in cold_times[layer].values())
        layers[f"{layer}.exec_s"] = sum(e for _, e in cold_times[layer].values())
    if ctx.trace:
        leaf = {layer: (f"{layer}.build", f"{layer}.exec") for layer in ["queries.otel", *modules]}
        layers.update(sum_counters(tr, {"queries.otel": leaf["queries.otel"]}, per=passes, phase="warm"))
        layers.update(sum_counters(tr, {m: leaf[m] for m in modules}, phase="cold"))
    return e2e, layers
