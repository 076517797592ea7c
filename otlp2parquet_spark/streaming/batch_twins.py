"""T-group streaming operators (SURVEY §2.3 T1-T5) declared as event-time
batch recomputations — per SURVEY §7 "hard parts" #5, the reference flushes on
first-seen age per (service, minute) (reference src/batch/buffered_batch.rs:55-59),
which is wall-clock-dependent; the deterministic oracle-able surface is the
event-time semantics, identical between a batch run and a Structured Streaming
run over the same closed input. The live readStream forms of the same
pipelines are in otlp2parquet_spark.streaming.pipeline and are exercised
operationally in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from otlp2parquet_spark.extensions.dedup import SQL_NORM
from otlp2parquet_spark.queries.registry import T, query
from otlp2parquet_spark.queries.relational import davg, dsum, sql_davg, sql_dsum
from otlp2parquet_spark.streaming.pipeline import (
    CAPPED_SESSION_GAP_US,
    CAPPED_SESSION_MAX_EVENTS,
    SAMPLE_K,
)


@query(
    "t1_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '1 minute', ts) AS window_start,
           time_bucket(INTERVAL '1 minute', ts) + INTERVAL 1 MINUTE AS window_end,
           event_type, COUNT(*) AS n, """
    + sql_dsum("value", "total_value")
    + """
    FROM events
    GROUP BY window_start, window_end, event_type
    ORDER BY window_start, event_type
    """,
    tags=("T1", "F2"),
)
def t1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-minute window agg — the event-time twin of the reference's
    (service, minute) batch key (reference src/batch/mod.rs:24-44)."""
    e = T(spark, sf_dir, "events")
    win = F.window("ts", "1 minute")
    return (
        e.groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum(F.col("value"), "total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "t2_sliding_window",
    oracle="""
    SELECT time_bucket(INTERVAL '1 minute', ts) - k.k * INTERVAL 1 MINUTE AS window_start,
           time_bucket(INTERVAL '1 minute', ts) - k.k * INTERVAL 1 MINUTE + INTERVAL 5 MINUTE AS window_end,
           COUNT(*) AS n, """
    + sql_davg("value", "avg_value")
    + """
    FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS k) k
    GROUP BY window_start, window_end
    ORDER BY window_start
    """,
    tags=("T2", "F2"),
)
def t2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window 5 min / slide 1 min: each event belongs to 5 windows;
    Spark's window() expands them natively, the oracle expands via unnest."""
    e = T(spark, sf_dir, "events")
    win = F.window("ts", "5 minutes", "1 minute")
    return (
        e.groupBy(win.alias("w"))
        .agg(F.count("*").alias("n"), davg(F.col("value"), "avg_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
            "avg_value",
        )
        .orderBy("window_start")
    )


@query(
    "t3_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 600 * 1000000
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, value,
             SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 10 MINUTE AS session_end,
           COUNT(*) AS n_events, """
    + sql_dsum("value", "session_value")
    + """
    FROM sessions
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
    tags=("T3",),
)
def t3_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (gap 10 min) per user via native session_window — the
    oracle twin is the classic gaps-and-islands SQL. Spark's session end is
    last event + gap, reproduced in the oracle."""
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum(F.col("value"), "session_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "t5_keyed_dedup",
    oracle="""
    SELECT user_id, event_type,
           time_bucket(INTERVAL '1 minute', ts) AS minute_bucket,
           MIN(event_id) AS first_event_id,
           COUNT(*) AS n_dupes
    FROM events
    GROUP BY user_id, event_type, minute_bucket
    ORDER BY user_id, event_type, minute_bucket
    """,
    tags=("T5", "O5"),
)
def t5_keyed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-dedup twin: first event per (user, type, minute) key — the
    batch recomputation of dropDuplicates-within-watermark semantics."""
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id", "event_type", F.window("ts", "1 minute").alias("w")
        )
        .agg(F.min("event_id").alias("first_event_id"), F.count("*").alias("n_dupes"))
        .select(
            "user_id",
            "event_type",
            F.col("w.start").alias("minute_bucket"),
            "first_event_id",
            "n_dupes",
        )
        .orderBy("user_id", "event_type", "minute_bucket")
    )


@query(
    "t4_watermark_late_drop",
    oracle="""
    WITH wm AS (
      SELECT ts,
             MAX(ts) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prior_max
      FROM events
    )
    SELECT time_bucket(INTERVAL '1 minute', ts) AS window_start,
           CAST(SUM(CASE WHEN prior_max IS NOT NULL
                     AND ts < prior_max - INTERVAL 10 SECOND
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           CAST(SUM(CASE WHEN prior_max IS NULL
                     OR ts >= prior_max - INTERVAL 10 SECOND
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time
    FROM wm
    GROUP BY window_start
    ORDER BY window_start
    """,
    tags=("T4", "W3", "F2"),
)
def t4_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 batch twin: the exact watermark model of withWatermark("ts", "10s")
    under arrival order = event_id (the same model the live property suite
    checks the stream against). An event is late-dropped when its ts is
    older than (max ts seen strictly before it) - delay; the twin counts
    on-time vs late events per 1-minute window.

    Scale shape: the arrival-order running max is computed TWO-PHASE — a
    per-bucket prior-row max (window partitioned by event_id div 1000, so
    it parallelizes) combined with a broadcast prefix max over the tiny
    per-bucket frame — never a single-partition global window over the
    event stream. Reference semantics shadowed: max_age flush horizon
    (src/batch/buffered_batch.rs:55-59)."""
    e = T(spark, sf_dir, "events")
    b = e.select("event_id", "ts").withColumn("bucket", F.expr("event_id div 1000"))
    in_bucket = Window.partitionBy("bucket").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    b = b.withColumn("in_bucket_prior", F.max("ts").over(in_bucket))
    bucket_prefix = (
        b.groupBy("bucket")
        .agg(F.max("ts").alias("bmax"))
        .withColumn(
            "prior_bucket_max",
            F.max("bmax").over(
                Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .select("bucket", "prior_bucket_max")
    )
    # F.greatest skips nulls (first row of first bucket has neither)
    flagged = b.join(F.broadcast(bucket_prefix), "bucket").withColumn(
        "prior_max", F.greatest("in_bucket_prior", "prior_bucket_max")
    )
    late = F.col("prior_max").isNotNull() & (
        F.col("ts") < F.col("prior_max") - F.expr("INTERVAL 10 SECONDS")
    )
    return (
        flagged.groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(
            F.sum(F.when(late, 1).otherwise(0)).alias("n_late"),
            F.sum(F.when(late, 0).otherwise(1)).alias("n_on_time"),
        )
        .select(F.col("w.start").alias("window_start"), "n_late", "n_on_time")
        .orderBy("window_start")
    )


@query(
    "t6_running_count",
    oracle="""
    SELECT user_id, event_id,
           COUNT(*) OVER w AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(25,6))) OVER w, 4) AS DOUBLE)
             AS total_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
    tags=("T6", "W3"),
)
def t6_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 batch twin: the per-event refinement of running_count's update
    stream (streaming/pipeline.py:95, applyInPandasWithState) — after each
    event, the user's cumulative (n_events, total_value). Update-mode
    emission granularity is micro-batch-dependent and thus not oracle-able;
    the per-event running totals are its deterministic closure (the live
    suite checks the stream's final state against these maxima). DECIMAL
    accumulation keeps the running float sum reproducible across partial
    orders. Reference semantics shadowed: per-key BatchState accumulation
    (src/batch/mod.rs:143-165).

    TWO-LEVEL PREFIX SCAN (r8): the naive single window
    (PARTITION BY user_id ORDER BY ts) serializes each key into one task —
    the Zipf regime measured it at 20.8x wall for 100x data when the hot
    user holds ~10% of the corpus (~950k rows), 7x its uniform factor.
    Cumulative sums are associative (DECIMAL addition is exact), so the
    scan splits like any parallel prefix sum: an intra-bucket running
    window keyed (user_id, hour(ts)) — hour-truncation is monotone in the
    (ts, event_id) sort order, so bucket boundaries respect it — plus an
    EXCLUSIVE per-user running offset over the per-bucket totals (a frame
    of hours x users rows, thousands of times smaller than the events).
    The hot key's work is now spread across its hours; the offsets window
    is the only per-user-serial piece and it is bucket-counted, not
    row-counted. Re-measured under Zipf: 4.06x at 100x data (was 20.8x),
    1.2x its uniform factor (was 7x).
    NULL semantics match SQL SUM exactly: the running total is NULL only
    while NO non-null value has arrived for the key."""
    e = T(spark, sf_dir, "events")
    b = e.withColumn("bkt", F.date_trunc("hour", F.col("ts")))
    w_in = (
        Window.partitionBy("user_id", "bkt")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    intra = b.select(
        "user_id",
        "event_id",
        "bkt",
        F.count("*").over(w_in).alias("n_in"),
        F.sum(F.col("value").cast("decimal(25,6)")).over(w_in).alias("v_in"),
    )
    tot = b.groupBy("user_id", "bkt").agg(
        F.count("*").alias("n_b"),
        F.sum(F.col("value").cast("decimal(25,6)")).alias("v_b"),
    )
    w_off = (
        Window.partitionBy("user_id")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = tot.select(
        "user_id",
        "bkt",
        F.coalesce(F.sum("n_b").over(w_off), F.lit(0)).alias("n_off"),
        F.sum("v_b").over(w_off).alias("v_off"),  # NULL before any value
    )
    zero = F.lit(0).cast("decimal(25,6)")
    v_total = F.when(
        F.col("v_in").isNull() & F.col("v_off").isNull(), F.lit(None)
    ).otherwise(F.coalesce("v_in", zero) + F.coalesce("v_off", zero))
    # null-SAFE bucket equality: date_trunc(NULL ts) is NULL, and a plain
    # equi-join would silently drop NULL-ts events that the single-window
    # form (and the oracle) kept (round-8 review). NULL buckets order first
    # in w_off, mirroring Spark's NULLS FIRST window ordering.
    o = off.select(
        F.col("user_id").alias("o_user"),
        F.col("bkt").alias("o_bkt"),
        "n_off",
        "v_off",
    )
    return (
        intra.join(
            o,
            (intra.user_id == o.o_user) & intra.bkt.eqNullSafe(o.o_bkt),
        )
        .select(
            "user_id",
            "event_id",
            (F.col("n_in") + F.col("n_off")).alias("n_events"),
            F.round(v_total, 4).cast("double").alias("total_value"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "t7_flush_accounting",
    oracle="""
    SELECT 'events/' || regexp_replace(COALESCE(NULLIF(event_type, ''), 'unknown-service'),
                                       '[/\\\\ :*?"<>|]', '_', 'g')
             || '/year=' || strftime(MIN(ts), '%Y')
             || '/month=' || strftime(MIN(ts), '%m')
             || '/day=' || strftime(MIN(ts), '%d')
             || '/hour=' || strftime(MIN(ts), '%H') AS path,
           epoch_us(MIN(ts)) AS file_stem_us,
           COUNT(*) AS n_rows
    FROM events
    GROUP BY event_type, time_bucket(INTERVAL '1 minute', ts)
    ORDER BY path, file_stem_us
    """,
    tags=("T7", "D21", "D22", "F2"),
)
def t7_flush_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 batch twin: the flush/writer accounting of foreachBatch —
    one row per (service-key, minute) batch the partitioned sink would
    flush, with the D21 partition path derived from the batch's min
    timestamp, the `{ts_us}` file-name stem, and the D27 record count.
    The same accounting streaming/ingest.py's foreachBatch sink produces
    (its layout is asserted against the writer in test_streaming_ingest),
    recomputed deterministically over the closed input. Reference
    semantics shadowed: path generation
    + batch metadata (src/writer/write.rs:93-130, src/batch/mod.rs:24-44);
    sanitization D22 (src/writer/write.rs:132-148)."""
    e = T(spark, sf_dir, "events")
    from otlp2parquet_spark.otel.writer import SANITIZE_REGEX

    svc = F.regexp_replace(
        F.coalesce(F.nullif(F.col("event_type"), F.lit("")), F.lit("unknown-service")),
        SANITIZE_REGEX,
        "_",
    )
    g = e.groupBy("event_type", F.window("ts", "1 minute").alias("w")).agg(
        F.min("ts").alias("min_ts"), F.count("*").alias("n_rows")
    )
    path = F.concat(
        F.lit("events/"),
        svc,
        F.lit("/year="),
        F.date_format("min_ts", "yyyy"),
        F.lit("/month="),
        F.date_format("min_ts", "MM"),
        F.lit("/day="),
        F.date_format("min_ts", "dd"),
        F.lit("/hour="),
        F.date_format("min_ts", "HH"),
    )
    return (
        g.select(
            path.alias("path"),
            F.unix_micros(F.col("min_ts").cast("timestamp")).alias("file_stem_us"),
            "n_rows",
        )
        .orderBy("path", "file_stem_us")
    )


@query(
    "t8_stream_stream_join",
    oracle="""
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
           (epoch_us(p.ts) - epoch_us(v.ts)) // 1000000 AS delay_s
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTES
    ORDER BY v.user_id, view_id, purchase_id
    """,
    tags=("T8", "J7", "F2"),
)
def t8_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 batch twin: view->purchase attribution pairs per user within a
    10-minute window — the deterministic closure of the live stream-stream
    interval join (streaming/pipeline.attribution_join), which buffers both
    unbounded sides in watermark-bounded state.

    Banded like j7_range_join: purchases carry a 10-minute bucket, views
    probe (bucket, bucket+1) as an extra equi-key, so the per-user residual
    is per-bucket density, never O(views x purchases). delay_s is exact
    integer microsecond arithmetic (never double division)."""
    e = T(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    bucket = F.floor(us / (600 * 1000 * 1000))
    v = (
        e.filter(F.col("event_type") == "view")
        .withColumn("bucket", bucket)
        .withColumn(
            "probe_bucket", F.explode(F.array(F.col("bucket"), F.col("bucket") + 1))
        )
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").cast("timestamp").alias("v_ts"),
            "probe_bucket",
        )
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("timestamp").alias("p_ts"),
        bucket.alias("p_bucket"),
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("probe_bucket") == F.col("p_bucket"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 10 MINUTES"))
    )
    return (
        v.join(p, cond, "inner")
        .select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "purchase_id",
            F.expr("(unix_micros(p_ts) - unix_micros(v_ts)) div 1000000").alias(
                "delay_s"
            ),
        )
        .orderBy("user_id", "view_id", "purchase_id")
    )


@query(
    "t9_stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type,
           c.c_mktsegment AS segment, c.c_nationkey AS nation
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    ORDER BY e.event_id
    """,
    tags=("T9", "J5"),
)
def t9_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 batch twin: stream-static dimension enrichment — every event
    joined to the (bounded, slowly-changing) customer dim. The live form
    (streaming/pipeline.enrich_events) joins the SAME broadcastable static
    frame to the unbounded stream with no watermark requirement: Spark
    re-plans the static side per micro-batch, which is exactly the batch
    broadcast join per epoch. At 100 TB the dim stays broadcast and the
    event stream never shuffles."""
    e = T(spark, sf_dir, "events")
    c = T(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nation"),
    )
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .select("event_id", "user_id", "event_type", "segment", "nation")
        .orderBy("event_id")
    )


# T10: gap + count-capped sessionization. Built-in session_window closes a
# session on idle gap only; metering/packing pipelines ALSO close a segment
# when it reaches a row budget (bounded state / bounded work units). That
# composite close rule needs custom per-key sequential state — the live form
# is applyInPandasWithState (streaming/pipeline.py capped_sessions); this
# batch twin re-derives identical segments with two stacked window passes
# over ONE per-user sort, with the live form's gap and event budget.


@query(
    "t10_capped_session",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER w AS rn,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                           > {CAPPED_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), marked AS (
      SELECT *,
             MAX(CASE WHEN is_new = 1 THEN rn END)
               OVER (PARTITION BY user_id ORDER BY rn
                     ROWS UNBOUNDED PRECEDING) AS sess_first_rn
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS seg_start,
           MAX(ts) AS seg_last,
           CAST((rn - sess_first_rn) // {CAPPED_SESSION_MAX_EVENTS} AS BIGINT)
             AS seg_idx,
           COUNT(*) AS n_events, """
    + sql_dsum("value", "seg_value")
    + f"""
    FROM marked
    GROUP BY user_id, sess_first_rn,
             (rn - sess_first_rn) // {CAPPED_SESSION_MAX_EVENTS}
    ORDER BY user_id, seg_start, seg_idx
    """,
    tags=("T10", "W3", "U4"),
)
def t10_capped_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap (10 min) + count-cap (20 events) sessionization — event-time twin
    of the custom stateful streaming operator (capped_sessions,
    applyInPandasWithState): a segment closes on idle gap OR when it hits
    the event budget, so per-key state stays bounded no matter how long a
    key stays hot (the reason metering sinks cap segments at all).

    TWO-LEVEL PREFIX SCAN (r9): the r8 form hung every per-user window off
    ONE per-user sort — elegant, but a single hot key serializes into one
    task (Zipf at 100x measured 7.23x wall vs 4.9x uniform; the t6 failure
    class one level up). Both serial pieces here are associative prefix
    operations, so they split exactly like t6: (1) the global row number
    rn = intra-bucket row_number + an EXCLUSIVE per-user prefix count of
    bucket sizes; (2) the session-start marker sess_first_rn = running max
    of flagged rns = coalesce(intra-bucket running max, carried per-bucket
    prefix max) — coalesce is exact because rn is monotone, so any
    in-bucket flag beats every earlier bucket's. The gap flag needs each
    row's PREDECESSOR ts; hour(ts) bucketing is monotone in the
    (ts, event_id) sort order, so a bucket's first row's predecessor is
    the previous bucket's max ts, carried on the same bucket frame (rows
    after the first use the intra-bucket lag — keyed on rn_in == 1, not
    on lag NULL-ness, so a genuine NULL-ts predecessor row is never
    confused with a bucket boundary). Every carried quantity — the row
    count offset, the predecessor ts, and the flagged-rn prefix max
    (whose per-bucket term is itself assembled bucket-locally: the
    intra-bucket flagged max s_rel, else rank 1 when the bucket's FIRST
    row opens a session) — rides ONE hours-x-users bucket frame, so the
    corpus sees ONE (user, hour) shuffle and ONE join. The hot user's
    work spreads across its ~720 hours; the only per-user-serial window
    is bucket-counted. Re-measured under Zipf: see BASELINE.md r9.

    Scale shape: ONE corpus shuffle onto (user_id, hour) carries the
    intra-bucket window, the bucket stats (computed FROM the partitioned
    frame — partial-agg), the single bucket-frame join, and the joined
    frame's running-max window (partitioning preserved). The final
    segment agg shuffles on (user, session, seg_idx) — the cap bounds
    every group at CAP rows, and the composite key spreads a hot user
    across its segments."""
    e = T(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ (events.parquet nanos) — interval arithmetic is the
    # type-agnostic gap check (unix_micros rejects NTZ)
    gap = F.expr(f"INTERVAL {CAPPED_SESSION_GAP_US // 1_000_000} SECONDS")
    b = e.select("user_id", "ts", "event_id", "value").withColumn(
        "bkt", F.date_trunc("hour", F.col("ts"))
    )
    w_in = Window.partitionBy("user_id", "bkt").orderBy("ts", "event_id")
    in_flag = (F.col("rn_in") > 1) & (
        F.col("prev_in").isNull() | (F.col("ts") > F.col("prev_in") + gap)
    )
    intra = b.select(
        "user_id",
        "bkt",
        "ts",
        "event_id",
        "value",
        F.row_number().over(w_in).alias("rn_in"),
        F.lag("ts").over(w_in).alias("prev_in"),
    ).localCheckpoint(eager=False)
    # lazy checkpoint: the windowed frame has TWO consumers (the bucket
    # stats and the final join) and Spark does no CSE across join inputs —
    # unchecked, each branch would re-run the scan AND the window sort
    # (unlike t6, whose side branch needs no window and re-scans cheaply).
    # ONE bucket frame carries every cross-bucket quantity; the groupBy
    # reuses the window's (user, bkt) hash partitioning
    bstats = intra.groupBy("user_id", "bkt").agg(
        F.count("*").alias("n_b"),
        F.max("ts").alias("last_ts"),
        F.min("ts").alias("first_ts"),
        F.max(F.when(in_flag, F.col("rn_in"))).alias("s_rel"),
    )
    w_bk = Window.partitionBy("user_id").orderBy("bkt")
    w_bk_ex = w_bk.rowsBetween(Window.unboundedPreceding, -1)
    b1 = bstats.select(
        "user_id",
        "bkt",
        "first_ts",
        "s_rel",
        F.coalesce(F.sum("n_b").over(w_bk_ex), F.lit(0)).alias("n_off"),
        F.lag("last_ts").over(w_bk).alias("prev_last"),
    )
    # is_new of the bucket's FIRST row, bucket-locally (first_ts == that
    # row's ts: the bucket order is (ts, event_id))
    first_flag = F.col("prev_last").isNull() | (
        F.col("first_ts") > F.col("prev_last") + gap
    )
    b2 = b1.select(
        "user_id",
        "bkt",
        "n_off",
        "prev_last",
        # absolute rn of the bucket's LAST session-opening row (NULL when
        # the bucket opens none): intra flags beat the first-row flag
        (
            F.col("n_off")
            + F.coalesce(F.col("s_rel"), F.when(first_flag, F.lit(1)))
        ).alias("s_b_abs"),
    )
    off = b2.select(
        F.col("user_id").alias("o_user"),
        F.col("bkt").alias("o_bkt"),
        "n_off",
        "prev_last",
        F.max("s_b_abs").over(w_bk_ex).alias("s_carry"),
    )
    # null-SAFE bucket equality (the t6 discipline): date_trunc(NULL ts) is
    # NULL, and NULL buckets order first in w_bk, mirroring Spark's NULLS
    # FIRST window ordering
    j = intra.join(
        off,
        (intra.user_id == off.o_user) & intra.bkt.eqNullSafe(off.o_bkt),
    )
    prev = F.when(F.col("rn_in") == 1, F.col("prev_last")).otherwise(
        F.col("prev_in")
    )
    step = j.select(
        "user_id",
        "bkt",
        "ts",
        "event_id",
        "value",
        "s_carry",
        (F.col("rn_in") + F.col("n_off")).alias("rn"),
        (prev.isNull() | (F.col("ts") > prev + gap)).cast("int").alias("is_new"),
    )
    run_in = w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = step.withColumn(
        "m_in", F.max(F.when(F.col("is_new") == 1, F.col("rn"))).over(run_in)
    ).withColumn("sess_first_rn", F.coalesce("m_in", "s_carry"))
    seg_idx = ((F.col("rn") - F.col("sess_first_rn")) / CAPPED_SESSION_MAX_EVENTS).cast(
        "bigint"
    )
    return (
        marked.withColumn("seg_idx", seg_idx)
        .groupBy("user_id", "sess_first_rn", "seg_idx")
        .agg(
            F.min("ts").alias("seg_start"),
            F.max("ts").alias("seg_last"),
            F.count("*").alias("n_events"),
            dsum(F.col("value"), "seg_value"),
        )
        .select(
            "user_id", "seg_start", "seg_last", "seg_idx", "n_events", "seg_value"
        )
        .orderBy("user_id", "seg_start", "seg_idx")
    )


@query(
    "t16_windowed_exp_p95",
    oracle="""
    WITH buckets AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
             time_bucket(INTERVAL '5 minutes', ts) + INTERVAL 5 MINUTE
               AS window_end,
             event_type,
             CASE WHEN value IS NULL OR value <= 1.0 THEN -100000
                  ELSE CAST(CEIL(4 * log2(value)) AS BIGINT) - 1 END AS idx,
             COUNT(*) AS cnt
      FROM events GROUP BY window_start, window_end, event_type, idx
    ), cum AS (
      SELECT window_start, window_end, event_type, idx, cnt,
             SUM(cnt) OVER (PARTITION BY window_start, event_type
                            ORDER BY idx) AS cum_cnt,
             SUM(cnt) OVER (PARTITION BY window_start, event_type) AS total
      FROM buckets
    )
    SELECT window_start, window_end, event_type,
           CAST(MAX(CASE WHEN idx = -100000 THEN cnt ELSE 0 END) AS BIGINT)
             AS zero_count,
           CAST(MAX(total) AS BIGINT) AS total,
           CAST(MIN(CASE WHEN 20 * cum_cnt >= 19 * total THEN
             CASE WHEN idx = -100000 THEN 1.0
                  ELSE ROUND(POWER(2.0, (idx + 1) / 4.0), 4) END
           END) AS DOUBLE) AS p95_upper_bound
    FROM cum
    GROUP BY window_start, window_end, event_type
    ORDER BY window_start, event_type
    """,
    tags=("T16", "Q8", "W3", "A1", "F2"),
)
def t16_windowed_exp_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T16 batch twin: per-(5-min tumbling window, event_type) p95 from
    OTel exponential-histogram buckets — the windowed form of
    q08_exp_histogram_p95, and the exact recomputation the live lane
    (streaming/pipeline.py exp_hist_buckets + exp_p95_from_buckets) must
    reproduce on a closed input (tests/test_streaming_pipeline.py).

    Scale shape: ONE map-side-combined aggregate collapses the event
    stream to |windows| x |types| x |buckets| rows; the rank walk runs as
    tiny windows over that bucket frame. The live half shuffles only
    bucket partial counts (a mergeable sketch — fixed state per window
    regardless of event volume) and defers the walk to the read side,
    the sketch-maintenance/quantile-extraction split an observability
    pipeline makes at 100 TB."""
    from otlp2parquet_spark.streaming import pipeline as P

    e = T(spark, sf_dir, "events")
    # watermark=None: the ONE sketch definition, batch form
    buckets = P.exp_hist_buckets(e, watermark=None)
    return P.exp_p95_from_buckets(buckets).orderBy("window_start", "event_type")


_T18_SQL = """
    WITH tok AS (
      SELECT doc_id, source,
             list_filter(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '),
                         t -> length(t) > 0) AS toks
      FROM documents
    ), bi AS (
      SELECT doc_id, source, toks[g.i] AS w1, toks[g.i + 1] AS w2
      FROM tok, LATERAL (SELECT unnest(range(1, len(toks))) AS i) g
      WHERE len(toks) >= 2
    ), model AS (
      SELECT source, w1, w2, COUNT(*) AS c_bg
      FROM bi WHERE doc_id % 2 = 0 GROUP BY source, w1, w2
    ), prefix AS (
      SELECT source, w1, SUM(c_bg) AS c_w1 FROM model GROUP BY source, w1
    ), vocab AS (
      SELECT source, COUNT(*) AS v FROM prefix GROUP BY source
    ), scored AS (
      SELECT b.doc_id, b.source,
             ln(CAST(COALESCE(m.c_bg, 0) + 1 AS DOUBLE)
                / (COALESCE(p.c_w1, 0) + COALESCE(vo.v, 1))) AS lp
      FROM bi b
      LEFT JOIN model m ON m.source = b.source AND m.w1 = b.w1 AND m.w2 = b.w2
      LEFT JOIN prefix p ON p.source = b.source AND p.w1 = b.w1
      LEFT JOIN vocab vo ON vo.source = b.source
    )
    SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           FLOOR(CAST(SUM(CAST(lp AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*)
                 * 10000.0 + 0.5) / 10000.0 AS lm_score
    FROM scored
    GROUP BY doc_id, source
    ORDER BY doc_id
    """


@query(
    "t18_lm_score_frozen",
    oracle=_T18_SQL,
    tags=("T18", "X4", "A1", "J1", "F3"),
)
def t18_lm_score_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T18 batch twin: every document scored against a FROZEN add-one
    bigram LM trained on the deterministic even-doc_id half of the corpus
    — the CCNet train-offline / score-at-ingest loop (their frozen KenLM),
    and the exact recomputation the live lane (streaming/pipeline.py
    lm_scorer) must reproduce batch-for-batch. Unlike
    x4_ngram_lm_score (each doc scored under its own corpus's model), the
    frozen form is the DEPLOY shape: OOV bigrams/prefixes/sources score
    via total COALESCE fallbacks, so arriving data can never throw.

    Scale shape: the model is type-table-bounded and built ONCE (one
    map-side-combined shuffle over the training half); scoring is the
    lm_model_route-d join family (broadcast under the measured threshold,
    pinned SMJ above) plus the per-doc DECIMAL aggregate. Exactness: same
    ln/COALESCE parenthesization in both engines, DECIMAL(38,18) per-doc
    accumulation, one 4-dp quantization."""
    from otlp2parquet_spark.extensions.text import (
        lm_model_frames,
        lm_score_frozen,
    )
    from otlp2parquet_spark.session import spread

    d = spread(T(spark, sf_dir, "documents"))
    model, prefix, vocab = lm_model_frames(d.filter(F.col("doc_id") % 2 == 0))
    # ONE measurement job routes both type-table joins: prefix's row count
    # is by construction the model's distinct-(source,w1) count
    counts = model.agg(
        F.count("*").alias("nm"),
        F.countDistinct(F.struct("source", "w1")).alias("np"),
    ).first()
    return lm_score_frozen(
        d, model, prefix, vocab, int(counts["nm"]), int(counts["np"])
    ).orderBy("doc_id")


_T19_SQL = """
    WITH h AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
             time_bucket(INTERVAL '5 minutes', ts) + INTERVAL 5 MINUTE
               AS window_end,
             event_type,
             md5(CAST(user_id AS VARCHAR)) AS hx
      FROM events WHERE user_id IS NOT NULL
    ), rows_ AS (
      SELECT window_start, window_end, event_type,
             CAST(('0x' || substr(hx, 1, 2)) AS BIGINT) AS reg,
             CASE WHEN CAST(('0x' || substr(hx, 3, 13)) AS BIGINT) = 0 THEN 53
                  ELSE 53 - length(bin(CAST(('0x' || substr(hx, 3, 13)) AS BIGINT)))
             END AS rho
      FROM h
    ), regs AS (
      SELECT window_start, window_end, event_type, reg, MAX(rho) AS rho
      FROM rows_ GROUP BY window_start, window_end, event_type, reg
    ), per AS (
      SELECT window_start, window_end, event_type,
             SUM(CAST(POWER(2.0, 53 - rho) AS BIGINT)) AS s_present,
             COUNT(*) AS p
      FROM regs GROUP BY window_start, window_end, event_type
    )
    SELECT window_start, window_end, event_type,
           FLOOR(
             CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                       * 9007199254740992.0
                       / CAST(s_present + (256 - p) * 9007199254740992 AS DOUBLE)
                       <= 640.0
                   AND (256 - p) > 0
                  THEN 256.0 * ln(256.0 / CAST(256 - p AS DOUBLE))
                  ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                       * 9007199254740992.0
                       / CAST(s_present + (256 - p) * 9007199254740992 AS DOUBLE)
             END * 10000.0 + 0.5) / 10000.0 AS n_approx
    FROM per
    ORDER BY window_start, event_type
    """


@query(
    "t19_windowed_hll_distinct",
    oracle=_T19_SQL,
    tags=("T19", "A8", "W3", "F6"),
)
def t19_windowed_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T19 batch twin: per-(5-min tumbling window, event_type) DISTINCT-user
    estimates from a DETERMINISTIC HLL — md5-derived register index + rank
    (the x2_minhash_firstseen replayable-hash discipline), register MAX
    maintenance, and an estimator whose register sum is exact integer
    arithmetic — so unlike a8_sketch_distinct (Spark's HLL++, engine-private
    registers, rows-only by design) this sketch op is DuckDB HASH-MATCHED
    end to end: the oracle replays the registers bit-for-bit and the only
    floats are one division of exact integers and a ln of an exact rational
    (the DSIR ln-parity precedent).

    Scale shape: ONE map-side-combined aggregate collapses the event stream
    to |windows| x |types| x 256 register rows — fixed state per group
    regardless of volume, partials MAX-merge in any order (idempotent, so
    replays are absorbed, the strongest mergeability class in the T-lanes);
    the estimate is a tiny aggregate over the register frame. The live half
    (hll_reg_buckets + the native file sink) shuffles only register
    partials and defers estimation to the read side — the T16 split applied
    to cardinality. Accuracy is the standard HLL rsd 1.04/sqrt(256) ~ 6.5%,
    gated against exact counts in tests/test_streaming_pipeline.py."""
    from otlp2parquet_spark.streaming import pipeline as P

    e = T(spark, sf_dir, "events")
    regs = P.hll_reg_buckets(e, watermark=None)
    return P.hll_estimate_from_registers(regs).orderBy("window_start", "event_type")


_T19_ROLLUP_SQL = """
    WITH h AS (
      SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
      FROM events WHERE user_id IS NOT NULL
    ), rows_ AS (
      SELECT event_type,
             CAST(('0x' || substr(hx, 1, 2)) AS BIGINT) AS reg,
             CASE WHEN CAST(('0x' || substr(hx, 3, 13)) AS BIGINT) = 0 THEN 53
                  ELSE 53 - length(bin(CAST(('0x' || substr(hx, 3, 13)) AS BIGINT)))
             END AS rho
      FROM h
    ), regs AS (
      SELECT event_type, reg, MAX(rho) AS rho
      FROM rows_ GROUP BY event_type, reg
    ), per AS (
      SELECT event_type,
             SUM(CAST(POWER(2.0, 53 - rho) AS BIGINT)) AS s_present,
             COUNT(*) AS p
      FROM regs GROUP BY event_type
    )
    SELECT event_type,
           FLOOR(
             CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                       * 9007199254740992.0
                       / CAST(s_present + (256 - p) * 9007199254740992 AS DOUBLE)
                       <= 640.0
                   AND (256 - p) > 0
                  THEN 256.0 * ln(256.0 / CAST(256 - p AS DOUBLE))
                  ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                       * 9007199254740992.0
                       / CAST(s_present + (256 - p) * 9007199254740992 AS DOUBLE)
             END * 10000.0 + 0.5) / 10000.0 AS n_approx
    FROM per
    ORDER BY event_type
    """


@query(
    "t19_hll_rollup",
    oracle=_T19_ROLLUP_SQL,
    tags=("T19", "A8", "A1", "F6"),
)
def t19_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T19 rollup: per-event_type distinct-user estimates obtained by
    MAX-MERGING the per-(5-min window) register table — the mergeability
    dividend made into its own hash-matched query: a year of 5-minute
    sketches rolls up to any coarser grain WITHOUT rescanning the raw
    events, because register MAX is commutative/associative/idempotent
    (merge of per-window MAXes == the global MAX). The Spark side
    deliberately routes THROUGH hll_reg_buckets' per-window frame (the
    exact table the T19 live lane persists) and collapses it with the
    shared estimator keyed on event_type alone; the oracle computes the
    global registers straight from the raw events — the hash match IS the
    proof that sketch merge loses nothing vs recomputation.

    Scale shape: the rollup input is |windows| x |types| x 256 register
    rows — already tiny at any corpus size; the merge + estimate never
    touch the event stream. At 100 TB this is the difference between a
    seconds-long sketch-table agg and a full-corpus re-scan."""
    from otlp2parquet_spark.streaming import pipeline as P

    e = T(spark, sf_dir, "events")
    regs = P.hll_reg_buckets(e, watermark=None)
    return P.hll_estimate_from_registers(regs, keys=("event_type",)).orderBy(
        "event_type"
    )


@query(
    "t21_ingest_funnel",
    # No SQL oracle BY DESIGN: stage 3 is the learned classifier, whose IPM
    # training is iterative (the x4_quality_classifier rows-only rationale)
    # — the non-SQL gate is live==batch BIT-equality of the composed lane
    # across slicings/restart/replay/compaction (test_streaming_funnel.py)
    # plus each stage kernel's own standalone hash-match (x1_exact_dedup /
    # x2_minhash_firstseen / x6_contamination) and replay gates.
    oracle=None,
    tags=("T21", "T15", "T11", "T13", "T20", "X1", "X2", "X4", "X6", "W5"),
)
def t21_ingest_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T21 batch twin: the per-source retention ledger of the COMPOSED
    production ingest funnel (exact dedup -> MinHash-LSH -> frozen quality
    classifier -> benchmark decontamination), with the artifacts derived
    deterministically from the corpus itself — classifier trained on the
    doc_id % 5 != 0 split (the x4_quality_classifier convention), benchset
    = the doc_id % 97 == 0 slice's trigrams (the x6_contamination
    convention). The ledger is the x6_dedup_funnel report shape extended
    to the full four-stage deploy funnel; the live composed lane
    (streaming/pipeline.ingest_funnel_stream) must reproduce the
    underlying per-doc verdicts bit-for-bit."""
    from otlp2parquet_spark.extensions.pipeline import (
        doc_gram_set,
        funnel_ledger,
        ingest_funnel_batch,
    )
    from otlp2parquet_spark.extensions.text import (
        _qc_features,
        qc_shards_for,
        quality_classifier_train,
    )
    from otlp2parquet_spark.session import spread

    d = spread(T(spark, sf_dir, "documents"))
    shards = qc_shards_for(T(spark, sf_dir, "documents").count())
    w = quality_classifier_train(
        _qc_features(d, shards=shards).filter(F.col("doc_id") % 5 != 0),
        shards=shards,
    )
    bench = (
        doc_gram_set(d.filter(F.col("doc_id") % 97 == 0))
        .select("gram")
        .distinct()
    )
    verdicts = ingest_funnel_batch(d, w, bench)
    return funnel_ledger(verdicts)


# ---------------------------------------------------------------------------
# T22: streaming token-budget ADMISSION (r12)


@query(
    "t22_budget_admit",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             COALESCE(len(list_filter(string_split({SQL_NORM.format(c='text')}, ' '),
                                      t -> length(t) > 0)), 0) AS n_tok
      FROM documents
    ), tot AS (
      SELECT CAST((SUM(n_tok) + 9) // 10 AS BIGINT) AS b FROM f
    ), r AS (
      SELECT doc_id, n_tok,
             SUM(n_tok) OVER (ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM f
    )
    SELECT doc_id, n_tok, cum <= b AS admitted
    FROM r, tot ORDER BY doc_id
    """,
    tags=("T22", "W3", "F6", "A1"),
)
def t22_budget_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T22 batch twin: ARRIVAL-ordered token-budget admission — the hard
    cutoff an ingest pipeline applies when collecting a fixed token budget
    ("stop at 10B tokens"): docs are admitted in doc_id (arrival) order
    while the INCLUSIVE running token count fits the budget (here
    ceil(total/10), the x6_token_budget_fill fixture convention); once the
    budget trips, everything after is rejected — cum is monotone, so the
    admitted set is a doc_id PREFIX property, which is exactly what makes
    the live form (budget_admit_stream) reproduce it batch-for-batch with
    one number of cross-batch state. Contrast x6_token_budget_fill:
    that op picks the BEST docs for the budget (global priority order);
    this lane admits the FIRST docs (arrival order) — both are real
    production shapes (curation vs collection).

    THE SCALE SHAPE: the naive spec (the oracle) is one global ORDER BY +
    running sum — a single-task sort. The shipped plan is the classic
    DISTRIBUTED PREFIX SUM: doc_id div 8192 gives order-preserving
    ranges; one map-side-combined per-range token-total frame (bounded),
    a window over THAT frame yields each range's starting offset, and the
    per-range inclusive cumsum runs partitioned BY RANGE — every window
    partition is ~1/8192 of the corpus, no global sort anywhere. The
    budget literal derives from the same bounded frame. All integers, so
    the distributed plan provably equals the naive spec (offsets are
    exact, not approximate)."""
    d = T(spark, sf_dir, "documents")
    from otlp2parquet_spark.extensions.dedup import token_count_expr

    base = d.select(
        "doc_id",
        F.coalesce(token_count_expr(F.col("text")), F.lit(0))
        .cast("long")
        .alias("n_tok"),
    ).withColumn("rng", F.expr("doc_id div 8192"))
    totals = (
        base.groupBy("rng")
        .agg(F.sum("n_tok").alias("rng_toks"))
        .localCheckpoint(eager=False)  # bounded frame, two consumers
    )
    w_off = (
        Window.orderBy("rng")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.select(
        "rng",
        (F.sum("rng_toks").over(w_off) - F.col("rng_toks")).alias("offset"),
    )
    tot = totals.agg(F.expr("div(sum(rng_toks) + 9, 10)").alias("b"))
    w_in = (
        Window.partitionBy("rng")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.join(F.broadcast(offsets), "rng")
        .crossJoin(F.broadcast(tot))
        .withColumn("run", F.sum("n_tok").over(w_in))
        .select(
            "doc_id",
            "n_tok",
            ((F.col("offset") + F.col("run")) <= F.col("b")).alias("admitted"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# T23: streaming bounded-state uniform sample (r12)


@query(
    "t23_stream_sample",
    oracle=f"""
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR)) AS hv
    FROM documents
    ORDER BY hv, doc_id
    LIMIT {SAMPLE_K}
    """,
    tags=("T23", "O1", "O2", "F6"),
)
def t23_stream_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T23 batch twin: a deterministic UNIFORM sample of the whole corpus —
    the K = SAMPLE_K (64) docs with the smallest (md5(doc_id), doc_id)
    keys. The
    content-addressed hash order makes the sample a pure FUNCTION of the
    corpus (same docs -> same sample, any engine, any partitioning, any
    arrival order), which is what lets the live lane (sample_stream)
    maintain it as K rows of snapshot state: "K smallest so far" is an
    associative, idempotent merge, so the sample is exact at every point
    of the stream — the deterministic equivalent of reservoir sampling,
    without reservoir sampling's order-dependent randomness.

    Scale shape: TakeOrderedAndProject — per-partition top-K partials
    (K rows per task) merged on the driver; no global sort, no shuffle of
    the corpus. At 100 TB the driver merge sees K x tasks rows, nothing
    corpus-sized."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id", F.md5(F.col("doc_id").cast("string")).alias("hv")
        )
        .orderBy("hv", "doc_id")
        .limit(SAMPLE_K)
    )
